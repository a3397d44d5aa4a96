"""Steadiness tool: repeat a workload and summarize, or compare two sets
of runs against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py run --workload llm_queries --seeds 1-10 --out a.jsonl
    python3 perfbench/steady.py summary a.jsonl
    python3 perfbench/steady.py compare a.jsonl b.jsonl
    python3 perfbench/steady.py overhead untraced.jsonl traced.jsonl

``run`` appends one JSON line per run (seed, wall time, the benchmark's
result object) and prints the summary.  ``summary`` prints, per
metric, the median, the quartiles and the spread (quartile distance as
a share of the median).  ``compare`` reads each metric's bound from
BENCHMARK.json and exits 1 when a set's spread exceeds it or the second
set's median is worse than the first's by more than it.  ``overhead``
prints the traced run's ``trace.op_s`` minus the untraced ``total_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def stats(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {
        "n": len(values),
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / abs(med) if med else 0.0,
    }


def metric_values(runs: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in runs:
        for name, m in r["result"]["metrics"].items():
            out.setdefault(name, []).append(m["value"])
    return out


def summary(runs: list[dict]) -> dict[str, dict]:
    return {name: stats(vals) for name, vals in metric_values(runs).items()}


def print_summary(runs: list[dict]) -> None:
    bad = [r["seed"] for r in runs if not r["result"]["correct"]]
    print(f"runs={len(runs)} incorrect_seeds={bad}")
    print(f"{'metric':44} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7}")
    for name, s in summary(runs).items():
        print(
            f"{name:44} {s['n']:>3} {s['median']:>12.5g} {s['q1']:>12.5g} "
            f"{s['q3']:>12.5g} {s['spread']:>7.3f}"
        )


def bounds() -> dict[str, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m for m in json.load(f)["end_to_end"]}


def compare(a: list[dict], b: list[dict]) -> list[str]:
    """Problems found: spreads over the bound (except set-up time, whose
    bound only limits its median), and medians of ``b`` worse than
    ``a`` by more than the bound."""
    problems = []
    sa, sb = summary(a), summary(b)
    for name, m in bounds().items():
        if name not in sa or name not in sb:
            problems.append(f"{name}: missing")
            continue
        for tag, s in (("first", sa[name]), ("second", sb[name])):
            if name != "setup_s" and s["spread"] > m["bound"]:
                problems.append(f"{name}: {tag} spread {s['spread']:.3f} > {m['bound']}")
        ma, mb = sa[name]["median"], sb[name]["median"]
        worse = (mb - ma) / abs(ma) if m["better"] == "lower" else (ma - mb) / abs(ma)
        verdict = "worse" if worse > m["bound"] else "ok"
        print(f"{name:20} {ma:>12.5g} {mb:>12.5g} worse_by={worse:+.3f} bound={m['bound']} {verdict}")
        if worse > m["bound"]:
            problems.append(f"{name}: second median worse by {worse:.3f} > {m['bound']}")
    return problems


def run(workload: str, seeds: list[int], seconds: int, trace: int, out: str) -> list[dict]:
    runs = []
    for seed in seeds:
        cmd = [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode not in (0, 1) or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        steal = [ln.rsplit(" ", 1)[1] for ln in proc.stderr.splitlines() if "cpu steal" in ln]
        rec = {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
               "steal": steal[-1] if steal else None, "result": json.loads(lines[-1])}
        runs.append(rec)
        with open(out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(f"seed {seed}: {wall:.1f}s steal={rec['steal']} "
              f"correct={rec['result']['correct']}", flush=True)
    return runs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=int)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    s = sub.add_parser("summary")
    s.add_argument("file")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    args = ap.parse_args(argv)

    if args.cmd == "run":
        seconds = args.seconds
        if seconds is None:
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                seconds = json.load(f)["run_seconds"]
        print_summary(run(args.workload, parse_seeds(args.seeds), seconds, args.trace, args.out))
    elif args.cmd == "summary":
        print_summary(load(args.file))
    elif args.cmd == "compare":
        problems = compare(load(args.first), load(args.second))
        for p in problems:
            print("PROBLEM", p)
        return 1 if problems else 0
    else:
        untraced = summary(load(args.untraced))["total_s"]["median"]
        traced = summary(load(args.traced))["trace.op_s"]["median"]
        print(f"untraced total_s={untraced:.3f} traced op_s={traced:.3f} "
              f"overhead_s={traced - untraced:.3f} ({(traced - untraced) / untraced:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
