"""Partitioned Bloom-filter sidecar for the URL-seen probe.

The north-rule's custom data structure (SURVEY §4 P1): at 10^10 URLs
the exact seen table is too big to join every candidate against, so a
per-partition Bloom filter (keyed by hash-partition of url_norm) runs
as a PRE-filter: candidates that are *definitely not seen* skip the
exact join entirely; only "maybe seen" candidates (a small, fpp-bounded
fraction plus true duplicates) hit the big table.

Construction is fully distributed: hashes are computed JVM-side with
``xxhash64`` (two independent seeds → double hashing, Kirsch-Mitzenmacher),
bitmaps are OR-reduced per partition with ``applyInPandas``, and stored
as binary rows ``(pid, bitmap)`` — the Iceberg-persistable shard format
the wave loop checkpoints.  The engine probes with
:func:`apply_bloom_join`: the shards convert once into ``array<bigint>``
word rows, broadcast, and the bit tests run as JVM expressions.
:func:`apply_bloom` (collected shards, a vectorized ``mapInPandas``
pass) is the reference the probe tests compare against.

Guarantee: NO false negatives (a seen URL always tests "maybe"); false
positives only cost a wasted exact-join lookup, never correctness,
because the exact join stays authoritative.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOOM_DDL = "pid int, bitmap binary"


def bloom_params(expected_n: int, fpp: float) -> tuple[int, int]:
    """(m_bits, k_hashes) for a target fpp at expected_n insertions."""
    m = max(64, int(-expected_n * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 7) // 8 * 8  # byte align
    k = max(1, round(m / max(1, expected_n) * math.log(2)))
    return m, k


def _with_hashes(df: DataFrame, url_col: str, num_partitions: int) -> DataFrame:
    # xxhash64(NULL) is NOT null — Spark hashes a null input to the
    # seed value — so a null url_norm (unparsable URL) would probe the
    # filter with constant hashes and could return maybe_seen=true at
    # realistic fill levels.  Carry validity as a SEPARATE boolean
    # (_hvalid) and keep the hash columns themselves NON-NULL: a
    # nullable int64 with any null in an Arrow batch converts to
    # float64 pandas-side (NaN representation), and the VALID rows'
    # 64-bit hashes would silently lose low bits in the float64
    # round-trip — probe indices would then differ from the exactly-
    # built bitmap, i.e. false negatives.  Every probe path treats
    # _hvalid=false as "definitely not seen" (deterministic, not
    # fill-dependent), and build_bloom drops such rows.
    notnull = F.col(url_col).isNotNull()
    h1 = F.coalesce(F.xxhash64(F.col(url_col)), F.lit(0))
    h2 = F.coalesce(
        F.xxhash64(F.col(url_col), F.lit(0x9E3779B9)), F.lit(0)
    )
    # pid from a THIRD independent hash: pid = h1 mod P would fix
    # h1's residue class within a shard, and since the byte-aligned m
    # shares a factor with P the first double-hash probe (i=0 → pure
    # h1 mod m) would then only ever touch 1/gcd(P,m) of the bitmap —
    # insertions and probes alike — quietly inflating that probe's
    # saturation.  An independent pid keeps all k probes uniform.
    h3 = F.coalesce(
        F.xxhash64(F.col(url_col), F.lit(0x51ED270B)), F.lit(0)
    )
    return (
        df.withColumn("_hvalid", notnull)
        .withColumn("_h1", h1)
        .withColumn("_h2", h2)
        .withColumn("_pid", F.pmod(h3, F.lit(num_partitions)).cast("int"))
    )


def build_bloom(
    seen: DataFrame,
    url_col: str = "url_norm",
    num_partitions: int = 32,
    expected_per_partition: int = 1_000_000,
    fpp: float = 0.01,
) -> DataFrame:
    """Build (pid, bitmap) shards from a seen table (or an increment)."""
    m, k = bloom_params(expected_per_partition, fpp)

    # drop invalid-hash rows (null url_norm): they carry no key to
    # insert into the filter
    hashed = (
        _with_hashes(seen, url_col, num_partitions)
        .filter(F.col("_hvalid"))
        .select("_pid", "_h1", "_h2")
    )

    def make(key, pdf):
        import pandas as pd

        # overflow-free double hashing, identical on every probe path:
        # idx_i = (h1 mod m + i·(h2 mod m)) mod m.  All residues are
        # < m (MB-scale), so the arithmetic stays exact in int64 —
        # required because the JVM probe runs under ANSI mode where a
        # wrapped h1 + i·h2 would throw, and wrapped vs exact residues
        # differ (2^64 is not a multiple of m)
        bits = np.zeros(m, dtype=bool)
        mm = np.int64(m)
        h1 = np.mod(pdf["_h1"].to_numpy(dtype=np.int64), mm)
        h2 = np.mod(pdf["_h2"].to_numpy(dtype=np.int64), mm)
        for i in range(k):
            idx = np.mod(h1 + np.int64(i) * h2, mm)
            bits[idx] = True
        return pd.DataFrame(
            {"pid": [int(key[0])], "bitmap": [np.packbits(bits).tobytes()]}
        )

    return hashed.groupBy("_pid").applyInPandas(make, BLOOM_DDL)


def _or_shard(pdf):
    """OR together the bitmap rows of one pid (e.g. unmerged per-wave
    increments) into one ``(pid, bitmap)`` row."""
    import pandas as pd

    arrs = [np.frombuffer(b, dtype=np.uint8) for b in pdf["bitmap"]]
    size = max(a.size for a in arrs)
    acc = np.zeros(size, dtype=np.uint8)
    for a in arrs:
        acc[: a.size] |= a
    return pd.DataFrame(
        {"pid": [int(pdf["pid"].iloc[0])], "bitmap": [acc.tobytes()]}
    )


def merge_blooms(blooms: DataFrame) -> DataFrame:
    """OR together shards with the same pid (e.g. per-wave increments)."""
    return blooms.groupBy("pid").applyInPandas(
        lambda key, pdf: _or_shard(pdf), BLOOM_DDL
    )


def apply_bloom(
    candidates: DataFrame,
    bloom_shards: list[tuple[int, bytes]],
    url_col: str = "url_norm",
    num_partitions: int = 32,
    expected_per_partition: int = 1_000_000,
    fpp: float = 0.01,
) -> DataFrame:
    """Annotate candidates with ``maybe_seen``.

    ``bloom_shards`` is the collected (pid, bitmap) list — MB-scale, sent
    to executors via closure broadcast.  maybe_seen=False is definitive
    (no false negatives); maybe_seen=True requires the exact probe.
    """
    m, k = bloom_params(expected_per_partition, fpp)
    shard_map = {int(pid): np.frombuffer(b, dtype=np.uint8) for pid, b in bloom_shards}

    hashed = _with_hashes(candidates, url_col, num_partitions)
    cols = candidates.columns

    def test(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            if pdf.empty:
                continue
            # null url_norm → _hvalid=false; those rows are definitively
            # "not seen" (matches the JVM join path).  The hash columns
            # are non-null int64 JVM-side, so they arrive as exact int64
            # through Arrow even when the batch mixes in invalid rows —
            # a nullable hash column would arrive float64 and corrupt
            # the valid rows' low bits (false negatives).
            valid = pdf["_hvalid"].to_numpy(dtype=bool)
            maybe = np.zeros(len(pdf), dtype=bool)
            h1 = pdf["_h1"].to_numpy(dtype=np.int64)[valid]
            h2 = pdf["_h2"].to_numpy(dtype=np.int64)[valid]
            pid = pdf["_pid"].to_numpy()[valid]
            sub = np.zeros(valid.sum(), dtype=bool)
            # group rows by shard, vectorized bit tests
            for p in np.unique(pid):
                sel = pid == p
                arr = shard_map.get(int(p))
                if arr is None:
                    continue  # empty shard → definitely unseen
                mm = np.int64(arr.size * 8)
                acc = np.ones(int(sel.sum()), dtype=bool)
                hh1, hh2 = np.mod(h1[sel], mm), np.mod(h2[sel], mm)
                for i in range(k):
                    idx = np.mod(hh1 + np.int64(i) * hh2, mm)
                    byte = arr[idx >> 3]
                    bit = (byte >> (7 - (idx & 7).astype(np.uint8))) & 1
                    acc &= bit.astype(bool)
                sub[sel] = acc
            maybe[valid] = sub
            out = pdf[cols].copy()
            out["maybe_seen"] = maybe
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    )
    return hashed.mapInPandas(test, schema + ", maybe_seen boolean")


def bloom_words(shards: DataFrame) -> DataFrame:
    """Convert ``(pid, bitmap)`` shards into probe-ready
    ``(pid, m_bits, words array<bigint>)`` rows (ORing unmerged
    increment rows per pid).

    Factored out of :func:`apply_bloom_join` so the engine can run the
    conversion ONCE per bloom (re)build, persist the few-MB result, and
    reuse it for every wave's probe — instead of paying an
    applyInPandas job per wave on an unchanged filter.
    """
    import pandas as pd

    def to_words(pdf):
        out = []
        for pid, b in zip(pdf["pid"], pdf["bitmap"]):
            arr = np.frombuffer(b, dtype=np.uint8)
            m_bits = int(arr.size * 8)  # BUILD size — before word padding
            pad = (-arr.size) % 8
            if pad:
                arr = np.concatenate([arr, np.zeros(pad, dtype=np.uint8)])
            words = arr.view("<u8").astype(np.int64)
            out.append((int(pid), m_bits, words.tolist()))
        return pd.DataFrame(out, columns=["pid", "m_bits", "words"])

    return shards.groupBy("pid").applyInPandas(
        lambda key, pdf: to_words(_or_shard(pdf)),
        "pid int, m_bits bigint, words array<bigint>",
    )


def apply_bloom_join(
    candidates: DataFrame,
    shards: DataFrame | None = None,
    url_col: str = "url_norm",
    num_partitions: int = 32,
    expected_per_partition: int = 1_000_000,
    fpp: float = 0.01,
    word_rows: DataFrame | None = None,
) -> DataFrame:
    """Annotate candidates with ``maybe_seen`` — PURE-JVM probe.

    The shard bitmaps (MB-scale total) convert into ``array<bigint>``
    word rows (pass a precomputed/persisted ``word_rows`` to skip the
    conversion) and broadcast-join onto the candidates by pid; the k
    double-hash bit tests are ``element_at`` + unsigned shifts inside
    whole-stage codegen.  No Python in the probe and no shuffle of
    the candidate rows.

    This is the engine's probe.  It holds while the total filter fits
    a broadcast (up to GB-scale); :func:`apply_bloom` is the reference
    the probe tests compare it against.
    """
    m, k = bloom_params(expected_per_partition, fpp)

    if word_rows is None:
        if shards is None:
            raise ValueError("apply_bloom_join needs shards or word_rows")
        word_rows = bloom_words(shards)

    hashed = _with_hashes(candidates, url_col, num_partitions)
    joined = hashed.join(
        F.broadcast(word_rows), hashed["_pid"] == word_rows["pid"], "left"
    )
    # bit test i: idx = pmod(h1 + i*h2, m); byte b = idx>>3 (packbits
    # big-endian within byte); little-endian u8 words → the byte sits at
    # shift (b%8)*8, its tested bit at 7-(idx&7) within the byte.
    # Built as SQL text because the Python shiftrightunsigned wrapper
    # only accepts a literal shift; the SQL form takes any expression.
    conds = []
    for i in range(k):
        idx = (
            f"pmod(pmod(_h1, m_bits) + {i}L * pmod(_h2, m_bits), m_bits)"
        )
        word = f"element_at(words, cast(shiftright({idx}, 6) as int) + 1)"
        shift = (
            f"cast((shiftright({idx}, 3) % 8) * 8 + 7 - ({idx} % 8) as int)"
        )
        conds.append(f"((shiftrightunsigned({word}, {shift}) & 1) = 1)")
    maybe = F.expr(
        "CASE WHEN words IS NULL OR NOT _hvalid THEN false ELSE ("
        + " AND ".join(conds)
        + ") END"
    )
    return joined.select(
        *[hashed[c] for c in candidates.columns],
        maybe.alias("maybe_seen"),
    )


def collect_shards(bloom_df: DataFrame) -> list[tuple[int, bytes]]:
    return [(r["pid"], bytes(r["bitmap"])) for r in bloom_df.collect()]
