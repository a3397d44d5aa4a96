"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``--seed`` and the fixed sizes in
:data:`DEEP` and :data:`QUERY_ROWS`.  Generated tables land under
:data:`WORK` inside the checkout, keyed by size and seed, so repeated
runs of one seed skip the generation step (it is never part of a
measured window either way).
"""

from __future__ import annotations

import datetime
import os
import shutil
from dataclasses import dataclass

import numpy as np

WORK = ".perfbench_work"


@dataclass(frozen=True)
class CrawlSize:
    pages: int
    hosts: int
    links_per_page: int
    seeds: int
    seen_rows: int  # pre-populated seen table, on hosts disjoint from the graph
    waves: int  # total waves of one crawl
    split_at: int  # run(max_waves=split_at), then resume() up to `waves`


DEEP = CrawlSize(
    pages=6_000,
    hosts=60,
    links_per_page=6,
    seeds=300,
    seen_rows=60_000,
    waves=1,
    split_at=1,
)

# row counts of the generated query tables (the sf0.001 shape of the
# repository's TPC-H-like star schema plus documents and embeddings)
QUERY_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1_500,
    "lineitem": 6_000,
    "events": 1_000,
    "documents": 500,
    "embeddings": 500,
}
QUERY_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)


# ----------------------------------------------------------------------
# crawl graph
# ----------------------------------------------------------------------

def pages_table(size: CrawlSize, seed: int):
    """The pages table ``fixtures.synthetic_pages`` generates for
    (size, seed), built driver-side as a pyarrow Table.  It replays the
    generator's draws (``link_targets``) and renders with the same
    ``_render_page``; a test pins the two equal.  Building it here skips
    a cold Spark job in every run on a new seed."""
    import pyarrow as pa

    from crawlspark.fixtures import _render_page, zipf_bounds

    bounds = zipf_bounds(size.pages, size.hosts)
    base = datetime.datetime(2024, 1, 1)
    urls, ts, html = [], [], []
    for pid in range(size.pages):
        h = _host_of(pid, bounds, size.hosts)
        host, path = f"host{h}.example", f"/p{pid}.html"
        hrefs = link_hrefs(pid, seed, bounds, size.hosts, size.links_per_page)
        urls.append(f"http://{host}{path}")
        ts.append(base + datetime.timedelta(seconds=pid % 86400))
        html.append(_render_page(host, path, None, hrefs))
    return pa.table({
        "url": urls,
        "warc_ts": pa.array(ts, pa.timestamp("us")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array([None] * size.pages, pa.string()),
        "lang": ["en"] * size.pages,
    })


def pages_path(size: CrawlSize, seed: int) -> str:
    """Parquet copy of :func:`pages_table` for (size, seed)."""
    import pyarrow.parquet as pq

    path = os.path.join(
        WORK, f"pages_{size.pages}_{size.hosts}_{size.links_per_page}_{seed}.parquet"
    )
    if not os.path.exists(path):
        os.makedirs(WORK, exist_ok=True)
        pq.write_table(pages_table(size, seed), path + ".tmp")
        os.replace(path + ".tmp", path)
    return path


def seed_urls(size: CrawlSize, seed: int) -> list[str]:
    """Start URLs with per-host quotas proportional to the host's Zipf
    page count, so host0 holds the largest share of the frontier.  The
    pages inside each host are drawn from ``seed``."""
    from crawlspark.fixtures import zipf_bounds

    bounds = zipf_bounds(size.pages, size.hosts)
    rng = np.random.default_rng(seed)
    total = min(bounds[-1], size.pages)
    urls = []
    for h in range(size.hosts):
        lo, hi = bounds[h], min(bounds[h + 1], size.pages)
        if hi <= lo:
            continue
        q = min(hi - lo, round(size.seeds * (hi - lo) / total))
        for pid in sorted(rng.choice(np.arange(lo, hi), size=q, replace=False)):
            urls.append(f"http://host{h}.example/p{int(pid)}.html")
    return urls


def seen_path(spark, size: CrawlSize) -> str:
    """Already-seen URLs on hosts disjoint from the graph.  They can
    never match a crawl URL, so they change no outcome and the table
    does not depend on the seed; it only makes every visited probe face
    a seen set many times the size of a wave."""
    from pyspark.sql import functions as F

    path = os.path.join(WORK, f"seen_{size.seen_rows}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _fresh_dir(path)
        host = F.format_string("big%d.seen", F.col("id") % 5_000)
        (
            spark.range(size.seen_rows, numPartitions=spark.sparkContext.defaultParallelism)
            .select(
                F.format_string("http://%s/p%d.html", host, F.col("id")).alias("url_norm"),
                host.alias("host"),
                F.lit(-1).alias("wave_added"),
            )
            .write.parquet(path)
        )
    return path


def link_hrefs(
    pid: int, seed: int, bounds: list[int], n_hosts: int, links_per_page: int
) -> list[str]:
    """The hrefs of page ``pid`` as ``fixtures.synthetic_pages`` renders
    them: the same draws, in the same order.  Same-host links are
    relative paths; the cross-host branch writes absolute URLs."""
    hi = _host_of(pid, bounds, n_hosts)
    local = np.random.default_rng((seed << 20) ^ pid)
    lo, hi_b = bounds[hi], bounds[hi + 1]
    out = []
    for _ in range(int(local.integers(1, links_per_page + 1))):
        if local.random() < 0.85 and hi_b > lo:
            out.append(f"/p{int(local.integers(lo, hi_b))}.html")
        else:
            th = int(local.integers(0, n_hosts))
            t_lo, t_hi = bounds[th], bounds[th + 1]
            tgt = int(local.integers(t_lo, max(t_lo + 1, t_hi)))
            out.append(f"http://host{th}.example/p{tgt}.html")
    return out


def link_targets(
    pid: int, seed: int, bounds: list[int], n_hosts: int, links_per_page: int
) -> list[str]:
    """Absolute out-link URLs of page ``pid``."""
    host = f"http://host{_host_of(pid, bounds, n_hosts)}.example"
    return [
        host + h if h.startswith("/") else h
        for h in link_hrefs(pid, seed, bounds, n_hosts, links_per_page)
    ]


def _host_of(pid: int, bounds: list[int], n_hosts: int) -> int:
    return min(max(int(np.searchsorted(bounds, pid, side="right")) - 1, 0), n_hosts - 1)


def bfs_reference(size: CrawlSize, seed: int, seeds: list[str]) -> dict:
    """What a crawl of ``size.waves`` waves from ``seeds`` must report,
    by a pure-Python breadth-first walk of the generated link graph.

    Each wave admits the not-yet-seen URLs of its frontier, fetches them
    plus one robots.txt per host it meets for the first time (the graph
    has none, so every robots fetch misses), and harvests the links of
    the admitted pages that exist.  A URL names an existing page when
    its page id is generated and belongs to the URL's host."""
    from crawlspark.fixtures import zipf_bounds

    bounds = zipf_bounds(size.pages, size.hosts)
    seen: set[str] = set()
    hosts: set[str] = set()
    frontier, fetches, visits = list(seeds), 0, 0
    for _ in range(size.waves):
        admitted = [u for u in dict.fromkeys(frontier) if u not in seen]
        seen.update(admitted)
        new_hosts = {u.split("/")[2] for u in admitted} - hosts
        hosts |= new_hosts
        fetches += len(admitted) + len(new_hosts)
        frontier = []
        for u in admitted:
            host, page = u.split("/")[2:4]
            pid = int(page[1:-5])
            if pid < size.pages and host == f"host{_host_of(pid, bounds, size.hosts)}.example":
                visits += 1
                frontier += link_targets(pid, seed, bounds, size.hosts, size.links_per_page)
    return {"fetch": fetches, "visit": visits, "seen": seen}


def robots_bodies(seed: int, n: int) -> list[bytes]:
    """Seeded robots.txt bodies: a few groups with allow/disallow rules,
    wildcards and crawl delays, the shapes ``robots.parse_robots`` reads."""
    rng = np.random.default_rng(seed + 2)
    agents = ["*", "Googlebot", "gocrawl", "bingbot"]
    out = []
    for _ in range(n):
        lines = []
        for g in range(int(rng.integers(1, 4))):
            lines.append(f"User-agent: {agents[(g + int(rng.integers(0, 4))) % 4]}")
            for _ in range(int(rng.integers(1, 6))):
                verb = "Allow" if rng.random() < 0.3 else "Disallow"
                stem = f"/p{int(rng.integers(0, 1000))}"
                lines.append(f"{verb}: {stem}{'*' if rng.random() < 0.3 else ''}")
            if rng.random() < 0.5:
                lines.append(f"Crawl-delay: {int(rng.integers(1, 5))}")
            lines.append("")
        out.append("\n".join(lines).encode())
    return out


# ----------------------------------------------------------------------
# query tables
# ----------------------------------------------------------------------

_VOCAB = (
    "a the data query small row slow stream filter sort hash batch big group "
    "order column part table join window fast agg line spark customer key "
    "value scan merge vector"
).split()
_PART_WORDS = (
    ["small", "red", "blue", "hot", "old", "big", "green", "cold"],
    ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"],
)


def _ts(rng, n: int, start: datetime.datetime, span_s: float) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + (rng.random(n) * span_s * 1e6).astype("timedelta64[us]")


def query_tables(seed: int, rows: dict[str, int] = QUERY_ROWS) -> dict[str, "object"]:
    """The ten query tables as pyarrow Tables, drawn from ``seed``."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(options, n):
        return [options[i] for i in rng.integers(0, len(options), n)]

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    n = rows["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": pa.array(money(-999, 9999, n), f64),
        "c_mktsegment": pick(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], n),
    })
    n = rows["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": pa.array(money(-999, 9999, n), f64),
    })
    n = rows["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n), i64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(_PART_WORDS[0], n), pick(_PART_WORDS[1], n))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
        "p_type": pick(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) * 0.1, 2), f64),
    })
    n_ord = rows["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, rows["customer"], n_ord), i64),
        "o_orderstatus": pick(["P", "F", "O"], n_ord),
        "o_totalprice": pa.array(money(1_000, 500_000, n_ord), f64),
        "o_orderdate": pa.array(
            _ts(rng, n_ord, datetime.datetime(1992, 1, 1), 10 * 365 * 86400)
            .astype("datetime64[D]").astype("datetime64[us]"),
            pa.timestamp("us"),
        ),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    n = rows["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n), i64),
        "l_partkey": pa.array(rng.integers(0, rows["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(float), f64),
        "l_extendedprice": pa.array(money(900, 100_000, n), f64),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, f64),
        "l_returnflag": pick(["A", "N", "R"], n),
        "l_linestatus": pick(["F", "O"], n),
        "l_shipdate": pa.array(
            _ts(rng, n, datetime.datetime(1992, 1, 1), 10 * 365 * 86400)
            .astype("datetime64[D]").astype("datetime64[us]"),
            pa.timestamp("us"),
        ),
    })
    n = rows["events"]
    t["events"] = pa.table({
        "event_id": pa.array(range(n), i64),
        "ts": pa.array(np.sort(_ts(rng, n, datetime.datetime(2024, 1, 1), 30 * 86400)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), i64),
        "event_type": pick(["error", "click", "view", "signup", "purchase"], n),
        "value": pa.array(money(0, 20, n), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = rows["documents"]
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(_VOCAB, int(rng.integers(10, 80)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n), i64),
        "text": texts,
        "lang": pick(["en", "en", "zh", "es", "de", "fr"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    n = rows["embeddings"]
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    for i in range(10, n):
        if rng.random() < 0.05:
            # near-duplicate vector: an earlier one plus small noise
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(64).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32),
    })
    return t


def query_dir(seed: int) -> str:
    """Directory of ``<table>.parquet`` files for ``seed``."""
    import pyarrow.parquet as pq

    path = os.path.join(WORK, f"tables_{QUERY_ROWS['lineitem']}_{seed}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        _fresh_dir(path)
        os.makedirs(path)
        for name, table in query_tables(seed).items():
            pq.write_table(table, os.path.join(path, f"{name}.parquet"))
        open(marker, "w").close()
    return path
