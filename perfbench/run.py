"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload deep_midfrontier --seed 1 --seconds 20 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (see ``BENCHMARK.json`` and
``perfbench/README.md``).  The exit code is 0 only when every output
checked correct.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver, JVM, Python workers), sampled every 0.1 s.  Each process
    counts its proportional set size, so pages that forked workers
    share are counted once, not once per worker."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    def sample(self) -> int:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return False


def start_spark(cores: int, trace: bool, scratch: str):
    from crawlspark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch}",
    }
    if trace:
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def wait_children(timeout: float = 60) -> None:
    """Wait for every descendant process to end; kill stragglers."""
    me = os.getpid()
    deadline = time.time() + timeout
    while True:
        left = [p for p in RssSampler()._tree() if p != me]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.2)


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def end_to_end(workload: str, outcome, peak_rss: int) -> dict:
    ops = outcome.ops
    busy = sum(op["seconds"] for op in ops)
    if workload == "llm_queries":
        steps = [t for op in ops for t in op["query_s"].values()]
        work = len(steps)
    else:
        steps = [t for op in ops for t in op["wave_s"]]
        work = sum(op["fetches"] for op in ops)
    return {
        "throughput_per_s": work / busy,
        "total_s": statistics.median(op["seconds"] for op in ops),
        "step_s_p50": statistics.median(steps),
        "step_s_geomean": _geomean(steps),
        "start_s": outcome.start_s,
        "setup_s": outcome.setup_s,
        "peak_rss_mb": peak_rss / 2**20,
        "ok_frac": 1 - outcome.failed / outcome.attempted,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # SIGTERM unwinds like an exception, so the cleanup below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.chdir(ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import crawlspark  # noqa: F401

        from perfbench import inputs, workloads
    except ImportError as e:
        print(f"perfbench: the crawlspark sources are not here: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = os.cpu_count() or 1
    scratch = os.path.abspath(os.path.join(inputs.WORK, f"tmp_{os.getpid()}"))
    os.makedirs(scratch, exist_ok=True)
    # Spark's Python workers import crawlspark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = scratch
    # the engine's default driver heap (24g) exceeds small hosts' RAM
    os.environ["CRAWLSPARK_DRIVER_MEM"] = "3g"

    steal0 = cpu_steal()
    ctx = workloads.Ctx(None, args.seed, args.seconds, cores, bool(args.trace), T_PROCESS)
    try:
        with RssSampler() as rss, ThreadPoolExecutor(1) as pool:
            workloads.prepare(ctx, args.workload, pool)
            ctx.spark = start_spark(cores, bool(args.trace), scratch)
            try:
                workloads.log(ctx, "session started")
                outcome = workloads.WORKLOADS[args.workload](ctx)
                workloads.log(ctx, "checks done")
            finally:
                stop_spark(ctx.spark)
        wait_children()
        workloads.log(ctx, "spark stopped")
        steal, total = (b - a for a, b in zip(steal0, cpu_steal()))
        # hypervisor steal slows every timing; steady.py records it
        workloads.log(ctx, f"cpu steal {100 * steal / max(total, 1):.1f}%")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    for err in outcome.errors:
        print(f"perfbench: {err}", file=sys.stderr)
    if args.trace:
        metrics = {
            name: {"value": float(outcome.layer.get(name, 0.0)), "unit": unit}
            for name, (unit, _) in PER_LAYER.items()
        }
    else:
        values = end_to_end(args.workload, outcome, rss.peak)
        metrics = {
            name: {"value": values[name], "unit": unit}
            for name, (unit, _, _) in END_TO_END.items()
        }
    correct = outcome.failed == 0 and not outcome.errors
    print(json.dumps({
        "correct": correct,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
