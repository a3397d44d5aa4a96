"""Arrow-vectorized pandas UDF wrappers around the pure functions.

One struct-returning UDF per stage keeps Arrow round trips to a
minimum (one batch transfer yields every derived column).  All UDFs
are module-level factories so parsers/caches compile once per Python
worker and are reused across batches (SURVEY §4 P6).
"""

from __future__ import annotations

import json
import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from crawlspark.config import NormalizationFlags as NF
from crawlspark.functions import extract as _extract
from crawlspark.functions import robots as _robots
from crawlspark.functions import urlnorm as _urlnorm

CANON_SCHEMA = StructType(
    [
        StructField("url_norm", StringType()),
        StructField("host", StringType()),
        StructField("path", StringType()),
        StructField("is_robots", BooleanType()),
        StructField("is_abs_http", BooleanType()),
    ]
)


# Fast-path eligibility for ALL_GREEDY normalization: a clean absolute
# http URL whose normalization is the identity apart from stripping one
# trailing slash.  Lowercase multi-label host with no port / userinfo /
# leading "www." / leading "0" (rules out octal/hex/dword decoding and
# www-stripping); path segments with no escapes, dots-first segments,
# duplicate slashes, query, or fragment.  Everything else takes the
# per-row oracle path (normalize_url).  At web scale the overwhelming
# majority of harvested hrefs resolve to URLs of this shape, and the
# per-row Python cost (~44 us) was the single largest CPU item in the
# admission stage, so the vectorized path is worth the two regexes.
_FAST_URL_RX = (
    r"http://"
    r"(?![w0-9]*www\.)(?!0)"  # no www. prefix, no leading 0 (numeric hosts)
    r"[a-z0-9]([a-z0-9-]*[a-z0-9])?(\.(?!www\.)[a-z0-9]([a-z0-9-]*[a-z0-9])?)+"
    r"(/(?!\.)[A-Za-z0-9_.~!$&'()*+,;=:@-]+)*/?"
)
_DIR_INDEX_RX = r"(?i)(?:^|/)(?:index|default)\.\w{1,4}/?$"

# Fast path #2 (ALL_GREEDY): the broader mixed-case shape the identity
# fast path above rejects — any-case http(s) scheme, any-case host
# (first char of every label a LETTER, which keeps the host outside
# every numeric-decode rule: dword/octal/hex all fullmatch digit/0x
# forms), optional port, optional "www.", unescaped path (dot segments
# allowed — resolved exactly via _remove_dot_segments; "//" excluded by
# construction), unescaped query ('%'-free, so purell's decode-and-sort
# degenerates to a plain sort), any fragment (dropped).  Everything the
# slow path would do to such a URL is either a vectorizable string op
# or a cheap per-row fixup on one component.
_FAST2_URL_RX = (
    r"[Hh][Tt][Tt][Pp][Ss]?://"
    r"(?P<f2host>[A-Za-z][A-Za-z0-9-]*(?:\.[A-Za-z][A-Za-z0-9-]*)+)"
    r"(?P<f2port>:\d{1,5})?"
    r"(?P<f2path>(?:/[A-Za-z0-9_.~!$&'()*+,;=:@-]+)*/?)"
    r"(?:\?(?P<f2query>[A-Za-z0-9_.~=&+;:@/-]*))?"
    r"(?:\#(?P<f2frag>\S*))?"
)


def _sort_query(query: str) -> str:
    """purell SORT_QUERY over a '%'-free query string (unquote is the
    identity there): keys sorted, values sorted within a key.

    Fast path: one or two parts, each with exactly one "=" — the sort
    is then the identity (one part) or a single compare-and-swap on
    (key, value), and the rebuilt "k=v" equals the original part, so
    no restringify is needed."""
    amp = query.find("&")
    if amp == -1:
        if query.count("=") == 1:
            return query
    elif "&" not in query[amp + 1 :]:
        p1, p2 = query[:amp], query[amp + 1 :]
        if p1.count("=") == 1 and p2.count("=") == 1:
            e1, e2 = p1.index("="), p2.index("=")
            if (p2[:e2], p2[e2 + 1 :]) < (p1[:e1], p1[e1 + 1 :]):
                return p2 + "&" + p1
            return query
    pairs: dict[str, list[str]] = {}
    for part in query.split("&"):
        if not part:
            continue
        k, _, v = part.partition("=")
        pairs.setdefault(k, []).append(v)
    out = []
    for k in sorted(pairs):
        for v in sorted(pairs[k]):
            out.append(f"{k}={v}")
    return "&".join(out)


# scalar fast path for the kernel's dot-segment resolution (the oracle
# `_urlnorm._remove_dot_segments` stays untouched so property tests keep
# a pure reference): with EXACTLY one dot segment, of the form
# "/seg/../" with a following slash, RFC 3986 remove_dot_segments
# reduces to deleting "seg/../" — one compiled substitution.  ("seg"
# cannot itself be a dot segment, or the count would be 2; a trailing
# "/.." keeps a popped trailing slash and stays on the slow function.)
_DOTSEG_SCAN_RX = re.compile(r"(?:^|/)\.{1,2}(?=/|\Z)")
_ONE_DOTDOT_RX = re.compile(r"/[^/]+/\.\./")


def _rds_fast(path: str) -> str:
    if len(_DOTSEG_SCAN_RX.findall(path)) == 1 and _ONE_DOTDOT_RX.search(path):
        return _ONE_DOTDOT_RX.sub("/", path, count=1)
    return _urlnorm._remove_dot_segments(path)


def canonicalize_series(url: pd.Series, flags: NF) -> pd.DataFrame:
    """Vectorized kernel behind the canonicalize UDF (testable sans Spark).

    Returns columns (url_norm, host, path, is_robots, is_abs_http) for a
    Series of raw URLs; byte-identical to the per-row ``normalize_url``
    oracle (property-tested in tests/test_urlnorm.py).
    """
    n = len(url)
    out = pd.DataFrame(
        {
            "url_norm": pd.Series([None] * n, dtype="object"),
            "host": pd.Series([None] * n, dtype="object"),
            "path": pd.Series([None] * n, dtype="object"),
            "is_robots": pd.Series([False] * n, dtype="bool"),
            "is_abs_http": pd.Series([False] * n, dtype="bool"),
        }
    )
    url = url.reset_index(drop=True)
    notnull = url.notna()
    if flags == NF.all_greedy() and bool(notnull.any()):
        u = url.where(notnull, "")
        fast = notnull & u.str.fullmatch(_FAST_URL_RX)
        if bool(fast.any()):
            # the directory-index scan only matters for shape-matching
            # rows — run it on that subset, not the whole batch
            dir_hit = u[fast].str.contains(_DIR_INDEX_RX, regex=True)
            fast.loc[dir_hit[dir_hit].index] = False
    else:
        fast = pd.Series([False] * n, dtype="bool")

    if bool(fast.any()):
        fu = url[fast]
        norm = fu.where(~fu.str.endswith("/"), fu.str[:-1])
        host = norm.str.extract(r"^http://([^/]+)", expand=False)
        path = norm.str.replace(r"^http://[^/]+", "", regex=True)
        out.loc[fast, "url_norm"] = norm
        out.loc[fast, "host"] = host
        out.loc[fast, "path"] = path
        out.loc[fast, "is_robots"] = (
            fu.str.extract(r"^http://[^/]+(/.*)?$", expand=False)
            .fillna("")
            .str.lower()
            == "/robots.txt"
        )
        out.loc[fast, "is_abs_http"] = True

    fast2 = pd.Series([False] * n, dtype="bool")
    if flags == NF.all_greedy() and bool((notnull & ~fast).any()):
        u2 = url.where(notnull & ~fast, "")
        # one anchored extract doubles as the fullmatch gate (a row is
        # fast2 iff the mandatory host group matched) — the shape regex
        # runs once per row instead of twice
        g_all = u2.str.extract(r"\A(?:" + _FAST2_URL_RX + r")\Z")
        fast2 = (notnull & ~fast) & g_all["f2host"].notna()
        if bool(fast2.any()):
            g = g_all[fast2]
            scheme_https = u2[fast2].str.slice(0, 5).str.lower() == "https"
            host_l = g["f2host"].str.lower()
            www = host_l.str.startswith("www.") & (host_l.str.len() > 4)
            bare = host_l.where(~www, host_l.str[4:])
            port = g["f2port"].fillna("")
            # REMOVE_DEFAULT_PORT against the ORIGINAL scheme, pre-FORCE_HTTP
            default_port = (scheme_https & (port == ":443")) | (
                ~scheme_https & (port == ":80")
            )
            port = port.where(~default_port, "")
            raw_path = g["f2path"].fillna("")
            dotted = raw_path.str.contains(r"(?:^|/)\.{1,2}(?:/|$)", regex=True)
            path2 = raw_path.copy()
            if bool(dotted.any()):
                path2.loc[dotted] = raw_path[dotted].map(_rds_fast)
            # REMOVE_DIRECTORY_INDEX is anchored at end-of-path with no
            # trailing slash: applied to the RESOLVED path; matching
            # rows take the slow path instead of replicating the rule
            dir_rx = re.compile(r"(?:^|/)(?i:index|default)\.\w{1,4}$")
            dir_hit = path2.str.contains(dir_rx, regex=True)
            if bool(dir_hit.any()):
                demote = fast2.copy()
                demote[:] = False
                demote.loc[dir_hit[dir_hit].index] = True
                fast2 &= ~demote
                keep = ~dir_hit
                g = g[keep]
                scheme_https, host_l = scheme_https[keep], host_l[keep]
                bare, port = bare[keep], port[keep]
                raw_path, path2 = raw_path[keep], path2[keep]
            # trailing-slash strip runs LAST in the slow path
            path2 = path2.where(~path2.str.endswith("/"), path2.str[:-1])
            query = g["f2query"].fillna("")
            has_q = query != ""
            if bool(has_q.any()):
                query.loc[has_q] = query[has_q].map(_sort_query)
            hostport = bare + port
            norm2 = "http://" + hostport + path2 + ("?" + query).where(
                query != "", ""
            )
            out.loc[fast2, "url_norm"] = norm2
            out.loc[fast2, "host"] = hostport
            out.loc[fast2, "path"] = path2
            out.loc[fast2, "is_robots"] = raw_path.str.lower() == "/robots.txt"
            out.loc[fast2, "is_abs_http"] = True

    slow = notnull & ~fast & ~fast2
    if bool(slow.any()):
        from urllib.parse import urlsplit

        idxs = slow[slow].index
        norms, hosts, paths, robots_flags, abs_flags = [], [], [], [], []
        for u in url[slow]:
            nrm = _urlnorm.normalize_url(u, flags)
            norms.append(nrm)
            if nrm is None:
                hosts.append(None)
                paths.append(None)
                robots_flags.append(False)
                abs_flags.append(False)
                continue
            hosts.append(_urlnorm.split_host(nrm))
            try:
                p = urlsplit(u).path  # robots check uses the RAW path
            except ValueError:
                p = ""
            paths.append(urlsplit(nrm).path)
            robots_flags.append(p.lower() == "/robots.txt")
            abs_flags.append(_urlnorm.is_absolute_http(nrm))
        out.loc[idxs, "url_norm"] = pd.Series(norms, index=idxs, dtype="object")
        out.loc[idxs, "host"] = pd.Series(hosts, index=idxs, dtype="object")
        out.loc[idxs, "path"] = pd.Series(paths, index=idxs, dtype="object")
        out.loc[idxs, "is_robots"] = pd.Series(robots_flags, index=idxs)
        out.loc[idxs, "is_abs_http"] = pd.Series(abs_flags, index=idxs)
    return out


@lru_cache(maxsize=16)
def make_canonicalize_udf(flags: NF, deterministic: bool = True):
    """(url) -> struct(url_norm, host, path, is_robots, is_abs_http).

    The single most correctness-critical scalar function (reference:
    urlcontext.go:229-248); one Arrow pass computes every URL-derived
    column the admission pipeline needs.

    Cached per flag set: admission re-enters once per WAVE, and every
    uncached call builds (and later pickles/ships) a fresh pandas UDF
    object — pure per-wave driver latency for an identical function.

    ``deterministic=False`` returns a separate instance marked
    nondeterministic, which Catalyst never copies into a pushed-down
    filter: a plan that filters on the struct it returns then evaluates
    it once instead of twice.  (``asNondeterministic`` mutates the UDF
    it is called on, hence its own cache entry.)
    """
    flags_value = int(flags)

    @F.pandas_udf(CANON_SCHEMA)
    def canonicalize(url: pd.Series) -> pd.DataFrame:
        return canonicalize_series(url, NF(flags_value))

    return canonicalize if deterministic else canonicalize.asNondeterministic()


LINKS_SCHEMA = ArrayType(StringType())


@F.pandas_udf(LINKS_SCHEMA)
def extract_links_udf(html: pd.Series, page_url: pd.Series) -> pd.Series:
    """Outlinks in document order (worker.go:385-412); explode downstream."""
    out = []
    for h, u in zip(html, page_url):
        if h is None or u is None:
            out.append([])
        else:
            out.append(_extract.extract_links(bytes(h), u))
    return pd.Series(out)


@F.pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Pinned text-extraction spec v1 (functions/extract.py)."""
    return html.map(lambda h: _extract.extract_text(bytes(h)) if h is not None else None)


PAGE_SCHEMA = StructType(
    [
        StructField("text", StringType()),
        StructField("links", ArrayType(StringType())),
    ]
)


@F.pandas_udf(PAGE_SCHEMA)
def extract_page_udf(html: pd.Series, page_url: pd.Series) -> pd.DataFrame:
    """Fused text + link extraction: ONE HTML parse per page yields both
    the pinned-spec text and the resolved outlinks (the engine's hot
    path — parsing twice would double the dominant CPU cost)."""
    texts, links = [], []
    for h, u in zip(html, page_url):
        if h is None:
            texts.append(None)
            links.append([])
            continue
        p = _extract.parse_page(bytes(h))
        texts.append("\n".join(p.text_chunks))
        if u is None:
            links.append([])
        else:
            links.append(_extract.resolve_links(u, p.hrefs, p.base_href))
    return pd.DataFrame({"text": texts, "links": links})


@lru_cache(maxsize=4096)
def _parsed_rules(rules_json: str):
    rows = json.loads(rules_json)
    return rows


@F.pandas_udf(BooleanType())
def robots_allowed_udf(rules_json: pd.Series, path: pd.Series) -> pd.Series:
    """Longest-match Allow/Disallow gate; null rules → allow (no robots)."""
    out = []
    for rj, p in zip(rules_json, path):
        if rj is None:
            out.append(True)
        else:
            out.append(_robots.match_rows(_parsed_rules(rj), p or ""))
    return pd.Series(out)


ROBOTS_PARSE_SCHEMA = StructType(
    [
        StructField("rules_json", StringType()),
        StructField("crawl_delay_ms", IntegerType()),
    ]
)


def make_robots_parse_udf(robot_agent: str):
    """(status, body) -> struct(rules_json, crawl_delay_ms).

    Pre-selects the agent's group (FindGroup semantics) so the gate join
    only ever ships the relevant flattened rules.
    """

    @F.pandas_udf(ROBOTS_PARSE_SCHEMA)
    def parse(status: pd.Series, body: pd.Series) -> pd.DataFrame:
        rules_out, delay_out = [], []
        for st, b in zip(status, body):
            st = int(st) if st is not None else 404
            rules = _robots.robots_from_status_and_body(
                st, bytes(b) if b is not None else None
            )
            rows = _robots.rules_to_rows(rules, robot_agent)
            rules_out.append(json.dumps(rows, separators=(",", ":")))
            delay_out.append(rules.crawl_delay_ms(robot_agent))
        return pd.DataFrame(
            {"rules_json": rules_out, "crawl_delay_ms": pd.array(delay_out, dtype="Int32")}
        )

    return parse


VISIT_SCHEMA = ArrayType(
    StructType(
        [StructField("url", StringType()), StructField("state", StringType())]
    )
)


def make_visit_udf(visit_fn):
    """Wrap a user visit function
    (url_norm, src_url_norm, html, text) -> list[(url, state)] | None
    into the per-page harvest-override UDF (Extender.Visit analog,
    ext.go:180-182).  None → engine extracts links itself; an empty
    list → no harvest and no link extraction (doLinks=false)."""

    @F.pandas_udf(VISIT_SCHEMA)
    def visit(
        url_norm: pd.Series, src_url_norm: pd.Series, html: pd.Series, text: pd.Series
    ) -> pd.Series:
        out = []
        for u, s, h, t in zip(url_norm, src_url_norm, html, text):
            res = visit_fn(u, s, bytes(h) if h is not None else None, t)
            if res is None:
                out.append(None)
            else:
                out.append([{"url": ru, "state": rs} for ru, rs in res])
        return pd.Series(out)

    return visit
