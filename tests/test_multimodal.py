"""Multimodal kernels: REAL BMP/WAV/CVID decode over mapInPandas
plumbing, deterministic synthesis, and the unrecognized-codec policy."""

import pytest

from crawlspark.functions.multimodal import (
    _decode_bmp,
    _decode_cvid,
    _decode_wav,
    _media_params,
    encode_bmp,
    encode_cvid,
    encode_wav,
    extract_media_features,
    synthesize_media_blob,
    synthetic_media,
)


def test_bmp_roundtrip_exact():
    b = encode_bmp(5, 3, lambda i: (i * 11) % 256)  # width forces row pad
    w, h, mean_e6 = _decode_bmp(b)
    s = sum((i * 11) % 256 for i in range(15))
    assert (w, h) == (5, 3)
    assert mean_e6 == s * 1_000_000 // (15 * 255)


def test_wav_roundtrip_exact():
    samples = [((i * 13) % 65536) - 32768 for i in range(321)]
    b = encode_wav(samples, 8000)
    dur_ms, mean_e6, n = _decode_wav(b)
    assert n == 321
    assert dur_ms == 321 * 1000 // 8000
    assert mean_e6 == sum(abs(s) for s in samples) * 1_000_000 // (321 * 32768)


def test_cvid_frame_sampling():
    frames = [
        (lambda f: lambda i: (f * 100 + i) % 256)(f) for f in range(7)
    ]
    b = encode_cvid(4, 2, 10, frames)
    # stride 200ms at 10fps -> every 2nd frame: 0,2,4,6
    w, h, dur, mean_e6, fs = _decode_cvid(b, 200)
    assert (w, h, dur, fs) == (4, 2, 700, 4)
    s = sum((f * 100 + i) % 256 for f in (0, 2, 4, 6) for i in range(8))
    assert mean_e6 == s * 1_000_000 // (4 * 8 * 255)


def test_media_features_real_decode(spark):
    media = synthetic_media(spark, n=30)
    feats = extract_media_features(media, frame_stride_ms=200).cache()
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 30
    rows2 = {
        r["media_id"]: r
        for r in extract_media_features(media, frame_stride_ms=200).collect()
    }
    assert rows == rows2  # deterministic
    for mid, r in rows.items():
        p = _media_params(mid)
        assert r["kind"] == p["kind"]
        if p["kind"] == "image":
            assert (r["width"], r["height"]) == (p["w"], p["h"])
            assert r["frames_sampled"] == 1 and r["duration_ms"] == 0
        elif p["kind"] == "audio":
            assert r["duration_ms"] == p["n"] * 1000 // p["rate"]
            assert r["width"] == 0 and r["frames_sampled"] == 0
        else:
            assert r["duration_ms"] == p["nframes"] * 1000 // p["fps"]
            assert r["frames_sampled"] == (p["nframes"] + 1) // 2
    assert all(len(r["sha1"]) == 40 for r in rows.values())


def test_unrecognized_codec_policy(spark):
    rows = [(0, "image", b"\x89PNG fake", "image/png", None, None, None)]
    media = spark.createDataFrame(
        rows,
        schema=(
            "media_id bigint, kind string, payload binary, mime string, "
            "width int, height int, duration_ms int"
        ),
    )
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception):
        extract_media_features(media).collect()  # strict: raise
    out = extract_media_features(media, decode_stub=True).collect()
    assert len(out) == 1 and out[0]["width"] >= 64  # stub fallback


def test_synthesize_blob_magic():
    assert synthesize_media_blob(0)[1][:2] == b"BM"
    assert synthesize_media_blob(1)[1][:4] == b"RIFF"
    assert synthesize_media_blob(2)[1][:4] == b"CVID"


def test_encoder_array_paths_byte_identical():
    # the encoders' vectorized ndarray paths must emit the same bytes
    # as the per-element callable/iterable paths, padding included
    import numpy as np

    from crawlspark.functions.multimodal import (
        encode_bmp,
        encode_cvid,
        encode_wav,
    )

    for mid in [0, 3, 7, 12, 41, 100003]:
        for w, h in [(8, 6), (9, 7), (10, 5), (1, 1), (13, 11)]:
            fn = lambda i: (mid * 31 + i * 7) % 256
            arr = (mid * 31 + np.arange(w * h, dtype=np.int64) * 7) % 256
            assert encode_bmp(w, h, fn) == encode_bmp(w, h, arr), (mid, w, h)
        n = 200 + mid % 50
        vals = [((mid * 7 + i * 13) % 65536) - 32768 for i in range(n)]
        assert encode_wav(vals, 8000) == encode_wav(np.asarray(vals), 8000)
        w, h, nf = 8 + mid % 4, 8, 5 + mid % 6
        fns = [
            (lambda f: lambda i: (mid * 17 + f * 101 + i * 3) % 256)(f)
            for f in range(nf)
        ]
        arrs = [
            (mid * 17 + f * 101 + np.arange(w * h, dtype=np.int64) * 3) % 256
            for f in range(nf)
        ]
        assert encode_cvid(w, h, 10, fns) == encode_cvid(w, h, 10, arrs), mid


def test_encode_wav_rejects_out_of_range_on_both_paths():
    # an out-of-range sample raises the same struct.error whether the
    # samples come as an iterable or as an ndarray (no silent int16 wrap)
    import struct

    import numpy as np

    for bad in ([0, 32768], [-32769, 5], [1.5]):
        errors = []
        for samples in (bad, np.asarray(bad)):
            with pytest.raises(struct.error) as exc:
                encode_wav(samples, 8000)
            errors.append(str(exc.value))
        assert errors[0] == errors[1], bad
    edge = [-32768, 0, 32767]
    assert encode_wav(edge, 8000) == encode_wav(np.asarray(edge), 8000)


def test_synthesize_blob_bigint_ids_match_python_ints():
    # ids near the bigint maximum give the bytes of the arbitrary-
    # precision per-element formulas (no int64 overflow in the arrays)
    top = 2**63 - 1
    for mid in [top, top - 1, top - 2, 2**62 + 5, -top]:
        p = _media_params(mid)
        if p["kind"] == "image":
            want = encode_bmp(p["w"], p["h"], lambda i: (mid * 31 + i * 7) % 256)
        elif p["kind"] == "audio":
            want = encode_wav(
                [((mid * 7 + i * 13) % 65536) - 32768 for i in range(p["n"])],
                p["rate"],
            )
        else:
            want = encode_cvid(
                p["w"], p["h"], p["fps"],
                [
                    (lambda f: lambda i: (mid * 17 + f * 101 + i * 3) % 256)(f)
                    for f in range(p["nframes"])
                ],
            )
        assert synthesize_media_blob(mid) == (p["kind"], want), mid
