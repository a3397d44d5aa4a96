"""Full offline parity matrix vs the reference's table-driven cases
(tbldef_test.go / complex_test.go / worker_test.go; expectations in
FIXTURES.md §4)."""

import pytest
from pyspark.sql import functions as F

from crawlspark.config import (
    FLAGS_USUALLY_SAFE_NON_GREEDY,
    NormalizationFlags as NF,
    Options,
)
from crawlspark.plans.engine import CrawlEngine
from crawlspark.plans.extender import Extender

DELAY = 100


def crawl(spark, pages, seeds, opts=None, ext=None):
    return CrawlEngine(
        spark, pages, opts or Options(crawl_delay_ms=DELAY), ext
    ).run(seeds)


# ---------------------------------------------------------------- robots ----

class TestRobots:
    def test_enqueued_count_deny_all(self, spark, fixture_pages):
        # EnqueuedCount (123-137): Enqueued=2 (page1 + robots), Visit=0
        res = crawl(spark, fixture_pages, ["http://robota/page1.html"])
        assert res.counters.enqueued == 2
        assert res.counters.visit == 0
        assert res.counters.disallowed == 1

    def test_robot_deny_all(self, spark, fixture_pages):
        # RobotDenyAll (569-582): Visit=0, Filter=1
        res = crawl(
            spark, fixture_pages, ["http://robota/page1.html"],
            Options(crawl_delay_ms=DELAY, same_host_only=False),
        )
        assert res.counters.visit == 0
        assert res.counters.filter == 1

    def test_robot_partial_deny_googlebot(self, spark, fixture_pages):
        # RobotPartialDenyGooglebot (584-597): Visit=2, Filter=4
        res = crawl(
            spark, fixture_pages, ["http://robotb/page1.html"],
            Options(crawl_delay_ms=DELAY, same_host_only=False),
        )
        assert res.counters.visit == 2
        assert res.counters.filter == 4

    def test_robot_deny_other_bot(self, spark, fixture_pages):
        # RobotDenyOtherBot (599-612): agent NotGoogleBot → no group → allow
        res = crawl(
            spark, fixture_pages, ["http://robotb/page1.html"],
            Options(
                crawl_delay_ms=DELAY,
                same_host_only=False,
                robot_user_agent="NotGoogleBot",
            ),
        )
        assert res.counters.visit == 4
        assert res.counters.filter == 5

    def test_robot_explicit_allow_pattern(self, spark, fixture_pages):
        # RobotExplicitAllowPattern (614-627): Visit=4, Filter=5
        res = crawl(
            spark, fixture_pages, ["http://robotc/page1.html"],
            Options(crawl_delay_ms=DELAY, same_host_only=False),
        )
        assert res.counters.visit == 4
        assert res.counters.filter == 5

    def test_robot_crawl_delay(self, spark, fixture_pages):
        # RobotCrawlDelay (629-645): robots crawl-delay 0.2s used
        res = crawl(spark, fixture_pages, ["http://robotc/page1.html"])
        page_delays = {
            r[0]
            for r in res.fetch_log.filter(F.col("fetch_rank") == 2)
            .select("delay_ms")
            .collect()
        }
        assert page_delays == {200}

    def test_cached_robot(self, spark, fixture_pages):
        # CachedRobot (647-667): Visit=1, Enqueued=3, RequestRobots=1, Disallowed=1
        ext = Extender(request_robots={"robota": b"Disallow:/page2.html"})
        res = crawl(spark, fixture_pages, ["http://robota/page1.html"], ext=ext)
        assert res.counters.visit == 1
        assert res.counters.enqueued == 3
        assert res.counters.request_robots == 1
        assert res.counters.disallowed == 1
        # cached body means no robots fetch: fetches = page1 + page2? no —
        # page2 disallowed pre-fetch → only page1 fetched
        assert res.counters.fetch == 1


# ------------------------------------------------------------------ hooks ----

class TestHooks:
    def test_start_extender(self, spark, fixture_pages):
        # StartExtender (154-175): Start=1, Visit=4, Enqueued=7
        ext = Extender(start=lambda seeds: list(seeds) + ["http://hostb/page1.html"])
        res = crawl(spark, fixture_pages, ["http://hostc/page1.html"], ext=ext)
        assert res.counters.start == 1
        assert res.counters.visit == 4
        assert res.counters.enqueued == 7

    def test_compute_delay(self, spark, fixture_pages):
        # ComputeDelay (177-198): custom 17ms, ComputeDelay=4
        ext = Extender(compute_delay=lambda df: F.lit(17))
        res = crawl(spark, fixture_pages, ["http://hosta/page1.html"], ext=ext)
        assert res.counters.compute_delay == 4
        delays = {r[0] for r in res.fetch_log.select("delay_ms").collect()}
        assert delays == {17}

    def test_filter_page1_suffix(self, spark, fixture_pages):
        # Filter (200-222): only /page1.html paths on hostc
        ext = Extender(
            filter_factory=lambda df, v: (~v) & F.col("path").endswith("page1.html")
        )
        res = crawl(spark, fixture_pages, ["http://hostc/page1.html"], ext=ext)
        assert res.counters.filter == 3
        assert res.counters.enqueued == 2
        assert res.counters.visit == 1

    def test_custom_filter_no_url(self, spark, fixture_pages):
        # CustomFilterNoURL (500-524): filter ⇒ false
        ext = Extender(filter_factory=lambda df, v: F.lit(False))
        res = crawl(
            spark, fixture_pages, ["http://test1", "http://test2"], ext=ext
        )
        assert res.counters.filter == 2
        assert res.counters.visit == 0
        assert res.counters.enqueued == 0

    def test_visit_returns_urls_with_state(self, spark, fixture_pages):
        # VisitReturnsURLsWithState (950-1029): Filter=5, Visit=5, Enqueued=6
        def visit_fn(url_norm, src, html, text):
            if src is None:
                return [
                    (f"http://hosta/page{i}.html", str(i)) for i in range(2, 6)
                ]
            return []  # (nil, false): no harvest, no links

        res = crawl(
            spark, fixture_pages, ["http://hosta/page1.html"],
            ext=Extender(visit_fn=visit_fn),
        )
        assert res.counters.filter == 5
        assert res.counters.visit == 5
        assert res.counters.enqueued == 6
        states = {
            r["url_norm"]: r["state"]
            for r in res.visit_log.collect()
            if r["state"] is not None
        }
        assert states == {
            f"http://hosta/page{i}.html": str(i) for i in range(2, 6)
        }


# -------------------------------------------------------------- lifecycle ----

class TestLifecycle:
    def test_host_count(self, spark, fixture_pages):
        # HostCount (479-498): hosts=2, seeds=3, Visit=0 (scheme policy)
        res = crawl(
            spark, fixture_pages,
            ["ftp://roota/a", "ftp://roota/b", "ftp://rootb/c"],
        )
        assert res.n_seeds == 3
        assert res.n_seed_hosts == 2
        assert res.counters.visit == 0
        assert res.counters.filter == 3

    def test_no_seed(self, spark, fixture_pages):
        # NoSeed (526-539)
        res = crawl(spark, fixture_pages, None)
        assert res.counters.visit == 0
        assert res.counters.filter == 0
        assert res.counters.error == 0

    def test_max_visits_1(self, spark, fixture_pages):
        # MaxVisits (379-398): End err = ErrMaxVisits
        res = crawl(
            spark, fixture_pages, ["http://hosta/page1.html"],
            Options(crawl_delay_ms=DELAY, max_visits=1),
        )
        assert res.err == "max_visits"
        assert res.counters.visit == 1

    def test_end_reason_done(self, spark, fixture_pages):
        # EndReasonDone (400-418)
        res = crawl(spark, fixture_pages, ["http://hosta/page5.html"])
        assert res.err is None
        assert res.counters.visit == 1

    def test_error_fetch(self, spark, fixture_pages):
        # ErrorFetch (420-438): Error=1 kind fetch (unknown.html)
        res = crawl(spark, fixture_pages, ["http://hostb/page2.html"])
        assert res.counters.errors_by_kind == {"fetch": 1}
        errs = [r["url"] for r in res.errors.collect()]
        assert errs == ["http://hostb/unknown.html"]

    def test_run_twice_fresh_state(self, spark, fixture_pages):
        # RunTwiceSameInstance (complex_test.go:101-133): fresh seen per Run
        eng = CrawlEngine(spark, fixture_pages, Options(crawl_delay_ms=DELAY))
        seeds = ["http://hosta/page1.html", "http://hosta/page4.html"]
        r1 = eng.run(seeds)
        r2 = eng.run(seeds)
        for r in (r1, r2):
            assert r.counters.visit == 5
            assert r.counters.filter == 13

    def test_no_crawl_delay(self, spark, fixture_pages):
        # NoCrawlDelay (complex_test.go:12-32): zero delay still correct
        res = crawl(
            spark, fixture_pages,
            ["http://hosta/page1.html", "http://hosta/page4.html"],
            Options(crawl_delay_ms=0),
        )
        assert res.counters.visit == 5
        assert res.counters.filter == 13
        scheds = {r[0] for r in res.fetch_log.select("sched_ms").collect()}
        assert scheds == {0}

    def test_idle_ttl_evicts_host_state(self, spark, fixture_pages):
        # IdleTimeOut (104-121) analog: idle hosts reaped from host_state
        res = crawl(
            spark, fixture_pages,
            ["http://hosta/page5.html", "http://hostb/page1.html"],
            Options(crawl_delay_ms=DELAY, worker_idle_ttl_waves=1),
        )
        hosts = {r[0] for r in res.host_state.select("host").collect()}
        assert "hostb" in hosts
        assert "hosta" not in hosts  # idle since wave 0 → reaped


# -------------------------------------------------------------- injection ----

class TestInjection:
    def test_enqueue_new_url(self, spark, fixture_pages):
        # EnqueueNewUrl (complex_test.go:171-201): Filter=7, Enqueued=4
        done = {"injected": False}

        def on_wave_end(engine, summary):
            if not done["injected"]:
                engine.enqueue(["http://hostc/page1.html"])
                done["injected"] = True

        ext = Extender(
            filter_factory=lambda df, v: (~v)
            & F.lower(F.col("path")).endswith("page1.html"),
            on_wave_end=on_wave_end,
        )
        res = crawl(
            spark, fixture_pages, ["http://hostb/page1.html"],
            Options(crawl_delay_ms=DELAY, same_host_only=False),
            ext,
        )
        assert res.counters.filter == 7
        assert res.counters.enqueued == 4

    def test_enqueue_new_url_on_error(self, spark, fixture_pages):
        # EnqueueNewUrlOnError (complex_test.go:203-236): Filter=2, Enqueued=3
        done = {"injected": False}

        def on_wave_end(engine, summary):
            if not done["injected"] and summary["wave"] == 0:
                engine.enqueue([("http://hosta/page6.html", "Error")])
                done["injected"] = True

        def filt(df, visited):
            return (visited & (F.col("state") == "Error")) | (~visited)

        res = crawl(
            spark, fixture_pages, ["http://hosta/page6.html"],
            ext=Extender(filter_factory=filt, on_wave_end=on_wave_end),
        )
        assert res.counters.filter == 2
        assert res.counters.enqueued == 3


# ------------------------------------------------------ base tag / www -------

class TestNormalizationCrawls:
    def test_base_tag_crawl_page1(self, spark, fixture_pages):
        # TestBaseTag (basetag_test.go:41-68): page2 + page3 visited
        res = crawl(spark, fixture_pages, ["http://hostd/subdir/page1.html"])
        visited = {r[0] for r in res.visit_log.select("url_norm").collect()}
        assert "http://hostd/subdir/page2.html" in visited
        assert "http://hostd/page3.html" in visited

    def test_base_tag_crawl_pagea(self, spark, fixture_pages):
        res = crawl(spark, fixture_pages, ["http://hostd/subdir/pagea.html"])
        visited = {r[0] for r in res.visit_log.select("url_norm").collect()}
        assert "http://hostd/subdir/pagea.html" in visited
        assert "http://hostd/subdir/pageb.html" in visited

    def test_www_same_host_accept(self, spark, fixture_pages):
        # SameHostPolicyWithNormalizedSourceUrl-i13 (294-322): Filter=2, Visit=2
        def visit_fn(url_norm, src, html, text):
            if url_norm == "http://hosta/page1.html":
                return [("http://www.hosta/page2.html", None)]
            return []

        res = crawl(
            spark, fixture_pages, ["http://www.hosta/page1.html"],
            ext=Extender(visit_fn=visit_fn),
        )
        assert res.counters.filter == 2
        assert res.counters.visit == 2
        assert res.counters.disallowed == 0

    def test_www_same_host_reject(self, spark, fixture_pages):
        # SameHostPolicyRejectWithNormalizedSourceUrl-i13 (324-354)
        def visit_fn(url_norm, src, html, text):
            if url_norm == "http://hosta/page1.html":
                return [("http://www.hostb/page1.html", None)]
            return []

        res = crawl(
            spark, fixture_pages, ["http://www.hosta/page1.html"],
            ext=Extender(visit_fn=visit_fn),
        )
        assert res.counters.filter == 2
        assert res.counters.visit == 1

    def test_query_string_survives_non_greedy(self, spark, fixture_pages):
        # QueryStringLostAfterNormalization-i16 (1042-1094)
        def visit_fn(url_norm, src, html, text):
            if src is None:
                return [("http://hosta/new/?start=60", None)]
            return []

        res = crawl(
            spark, fixture_pages, ["http://hosta/page5.html"],
            Options(
                crawl_delay_ms=DELAY,
                url_normalization_flags=FLAGS_USUALLY_SAFE_NON_GREEDY,
            ),
            Extender(visit_fn=visit_fn),
        )
        seen = {r[0] for r in res.seen.select("url_norm").collect()}
        assert "http://hosta/new/?start=60" in seen


# ----------------------------------------------------------------- HEAD ------

class TestHeadBeforeGet:
    def test_no_head(self, spark, fixture_pages):
        # NoHead (745-762): Fetch=4, RequestGet=0
        res = crawl(spark, fixture_pages, ["http://hostb/page1.html"])
        assert res.counters.fetch == 4
        assert res.counters.request_get == 0

    def test_all_head(self, spark, fixture_pages):
        # AllHead (764-787): Fetch=7, RequestGet=3, Enqueued=4
        res = crawl(
            spark, fixture_pages, ["http://hosta/page1.html"],
            Options(crawl_delay_ms=DELAY, head_before_get=True),
        )
        assert res.counters.fetch == 7
        assert res.counters.request_get == 3
        assert res.counters.enqueued == 4

    def test_all_head_with_fetch_error(self, spark, fixture_pages):
        # AllHeadWithFetchError (789-811): Fetch=6, RequestGet=2, Error=1
        res = crawl(
            spark, fixture_pages, ["http://hostb/page1.html"],
            Options(crawl_delay_ms=DELAY, head_before_get=True),
        )
        assert res.counters.fetch == 6
        assert res.counters.request_get == 2
        assert res.counters.error == 1

    def test_request_get_false(self, spark, fixture_pages):
        # RequestGetFalse (693-726): Fetch=6, RequestGet=3, Visit=2, Enqueued=4
        ext = Extender(
            request_get=lambda df: (F.col("status") >= 200)
            & (F.col("status") < 300)
            & (F.col("path") != "/page2.html")
        )
        res = crawl(
            spark, fixture_pages, ["http://hosta/page1.html"],
            Options(crawl_delay_ms=DELAY, head_before_get=True),
            ext,
        )
        assert res.counters.fetch == 6
        assert res.counters.request_get == 3
        assert res.counters.visit == 2
        assert res.counters.enqueued == 4

    def test_head_true_override(self, spark, fixture_pages):
        # HeadTrueOverride (813-837): Fetch=4, RequestGet=1, Enqueued=3
        ext = Extender(
            filter_factory=lambda df, v: (~v) & (F.col("path") != "/page3.html"),
            head_factory=lambda df: F.when(
                F.col("path") == "/page2.html", F.lit(False)
            ),
        )
        res = crawl(
            spark, fixture_pages, ["http://hosta/page1.html"],
            Options(crawl_delay_ms=DELAY, head_before_get=True),
            ext,
        )
        assert res.counters.fetch == 4
        assert res.counters.request_get == 1
        assert res.counters.enqueued == 3

    def test_head_false_override(self, spark, fixture_pages):
        # HeadFalseOverride (839-861): Fetch=4, RequestGet=1, Enqueued=3
        ext = Extender(
            filter_factory=lambda df, v: (~v) & (F.col("path") != "/page3.html"),
            head_factory=lambda df: F.when(
                F.col("path") == "/page2.html", F.lit(True)
            ),
        )
        res = crawl(
            spark, fixture_pages, ["http://hosta/page1.html"],
            Options(crawl_delay_ms=DELAY, head_before_get=False),
            ext,
        )
        assert res.counters.fetch == 4
        assert res.counters.request_get == 1
        assert res.counters.enqueued == 3


# ------------------------------------------------------------- redirects -----

@pytest.fixture(scope="module")
def redirect_pages(spark):
    import datetime

    from crawlspark.sources.pages import PagesSource

    ts = datetime.datetime(2021, 5, 19)
    pages = spark.createDataFrame(
        [
            ("http://rhost/p3", ts, b"ok", "ok", "en"),
            ("http://rhost/robots.txt", ts, b"ok", "ok", "en"),
        ],
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    redirects = spark.createDataFrame(
        [
            ("http://rhost/p1", 307, "http://rhost/p2"),
            ("http://rhost/p2", 307, "http://rhost/p3"),
        ],
        schema="url string, status int, location string",
    )
    return PagesSource(pages, redirects=redirects)


class TestRedirects:
    def test_redirect_chain(self, spark, redirect_pages):
        # TestRedirectURLContext (worker_test.go:14-88):
        # Fetch=4, Visit=1, Filter=3; source + state preserved through clones
        res = crawl(
            spark, redirect_pages, [("http://rhost/p1", "S1")],
            Options(
                crawl_delay_ms=1,
                url_normalization_flags=NF.ADD_TRAILING_SLASH,
            ),
        )
        assert res.counters.fetch == 4
        assert res.counters.visit == 1
        assert res.counters.filter == 3
        rows = res.visit_log.collect()
        assert len(rows) == 1
        assert rows[0]["url_norm"] == "http://rhost/p3/"
        assert rows[0]["state"] == "S1"  # State preserved via clones

    def test_versioned_redirect_asof_latest(self, spark):
        """A redirect URL with multiple warc_ts versions serves its
        LATEST location — the same as-of semantics the pages table gets
        (pages.py versioned window), applied to the side table."""
        import datetime

        from crawlspark.sources.pages import PagesSource

        ts_old = datetime.datetime(2020, 1, 1)
        ts_new = datetime.datetime(2023, 6, 1)
        pages = spark.createDataFrame(
            [
                ("http://rhost/old", ts_old, b"old", "old", "en"),
                ("http://rhost/new", ts_new, b"new", "new", "en"),
                ("http://rhost/robots.txt", ts_old, b"ok", "ok", "en"),
            ],
            schema=(
                "url string, warc_ts timestamp, html binary, "
                "text string, lang string"
            ),
        )
        redirects = spark.createDataFrame(
            [
                ("http://rhost/p1", 307, "http://rhost/old", ts_old),
                ("http://rhost/p1", 307, "http://rhost/new", ts_new),
            ],
            schema="url string, status int, location string, warc_ts timestamp",
        )
        src = PagesSource(pages, redirects=redirects)
        # construction resolved the side table to one row per url
        resolved = src.redirects.collect()
        assert len(resolved) == 1
        assert resolved[0]["location"] == "http://rhost/new"
        res = crawl(
            spark, src, [("http://rhost/p1", "S1")],
            Options(
                crawl_delay_ms=1,
                url_normalization_flags=NF.ADD_TRAILING_SLASH,
            ),
        )
        visited = [r["url_norm"] for r in res.visit_log.collect()]
        assert visited == ["http://rhost/new/"]


class TestPolitenessBudget:
    def test_per_host_wave_cap_defers_without_recount(self, spark, fixture_pages):
        """max_urls_per_host_per_wave=1: same final crawl (visits, order,
        Filter count) as uncapped, but no host fetches more than one URL
        per wave — the hot-host backpressure bound (SURVEY §4 P11)."""
        base = crawl(spark, fixture_pages, ["http://hosta/page1.html"])
        capped = crawl(
            spark, fixture_pages, ["http://hosta/page1.html"],
            Options(crawl_delay_ms=DELAY, max_urls_per_host_per_wave=1),
        )
        assert capped.counters.visit == base.counters.visit == 3
        assert capped.counters.filter == base.counters.filter == 10
        assert capped.waves > base.waves  # budget stretches the crawl
        # per-host visit order unchanged
        order = [
            r[0]
            for r in capped.visit_log.orderBy("seq").select("url_norm").collect()
        ]
        assert order == [
            "http://hosta/page1.html",
            "http://hosta/page2.html",
            "http://hosta/page3.html",
        ]
        # the bound holds: ≤1 page fetch per host per wave
        per_wave = (
            capped.fetch_log.filter(F.col("fetch_rank") == 2)
            .groupBy("host", "wave")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert per_wave == 1


class TestCrawlDelayGrowth:
    def test_growing_delay_with_head(self, spark, fixture_pages):
        """CrawlDelay growth (complex_test.go:44-78): custom ComputeDelay,
        HeadBeforeGet: Fetch=7 (robots + 3×HEAD+GET), ComputeDelay=7,
        per-host schedule strictly increasing with growing gaps."""
        ext = Extender(
            compute_delay=lambda df: F.col("seq_in_wave") * 100
        )
        res = crawl(
            spark, fixture_pages, ["http://hosta/page1.html"],
            Options(crawl_delay_ms=DELAY, head_before_get=True),
            ext,
        )
        assert res.counters.fetch == 7
        assert res.counters.compute_delay == 7
        assert res.counters.visit == 3
        scheds = [
            r[0]
            for r in res.fetch_log.filter(F.col("host") == "hosta")
            .orderBy("wave", "sched_ms")
            .select("sched_ms")
            .collect()
        ]
        assert scheds == sorted(scheds)
        assert len(set(scheds)) == len(scheds) or scheds[0] == 0


# ---------------------------------------------------------- log surface ----

class TestLogSurface:
    """logAssert parity (tbldef_test.go logAsserts): the leveled log
    hook/buffer reproduces the reference's asserted log lines."""

    def _opts(self, **kw):
        from crawlspark.config import LogFlags

        return Options(
            crawl_delay_ms=DELAY, log_flags=LogFlags.ALL, **kw
        )

    def test_robot_crawl_delay_logged(self, spark, fixture_pages):
        # RobotCrawlDelay (tbldef_test.go:642-644)
        res = crawl(
            spark, fixture_pages, ["http://robotc/page1.html"], self._opts()
        )
        assert any("using crawl-delay: 200ms" in l for l in res.log)

    def test_compute_delay_logged(self, spark, fixture_pages):
        # ComputeDelay (tbldef_test.go:195-196): hook delay 17ms in use
        ext = Extender(compute_delay=lambda df: F.lit(17))
        res = crawl(
            spark, fixture_pages, ["http://hosta/page1.html"],
            self._opts(), ext,
        )
        assert any("using crawl-delay: 17ms" in l for l in res.log)

    def test_filter_policy_ignored_logged(self, spark, fixture_pages):
        # Filter (tbldef_test.go:219-232): custom filter keeps only
        # *page1.html; page2 rejection logged at LogIgnored
        ext = Extender(
            filter_factory=lambda df, visited: F.col("path").endswith(
                "page1.html"
            )
        )
        res = crawl(
            spark, fixture_pages, ["http://hostc/page1.html"],
            self._opts(), ext,
        )
        assert any(
            "ignore on filter policy: http://hostc/page2.html" in l
            for l in res.log
        )

    def test_same_host_policy_ignored_logged(self, spark, fixture_pages):
        # same-host rejection line (crawler.go:229, tbldef_test.go:351)
        res = crawl(
            spark, fixture_pages, ["http://hosta/page3.html"], self._opts()
        )
        assert any(
            "ignore on same host policy: http://hostb/page1.html" in l
            for l in res.log
        )
        # and no absolute-policy lines for these all-absolute links
        assert not any("ignore on absolute policy" in l for l in res.log)

    def test_idle_clear_logged(self, spark, fixture_pages):
        # IdleTimeOut (tbldef_test.go:117-120)
        res = crawl(
            spark, fixture_pages,
            ["http://hosta/page5.html", "http://hostb/page1.html"],
            self._opts(worker_idle_ttl_waves=1),
        )
        assert any(
            "worker for host hosta cleared on idle policy" in l
            for l in res.log
        )

    def test_init_trace_lines(self, spark, fixture_pages):
        # ReadBodyInVisitor-style init asserts (tbldef_test.go:494-496)
        res = crawl(
            spark, fixture_pages,
            [
                "http://hosta/page1.html",
                "http://hosta/page4.html",
                "http://hostb/pageunlinked.html",
            ],
            self._opts(),
        )
        assert "init() - seeds length: 3" in res.log
        assert "init() - host count: 2" in res.log

    def test_enqueued_lines_and_custom_hook(self, spark, fixture_pages):
        # a custom Log hook sees every line (getLogFunc always forwards)
        from crawlspark.config import LogFlags

        seen: list[tuple[int, int, str]] = []
        ext = Extender(log=lambda v, lvl, m: seen.append((v, lvl, m)))
        res = crawl(
            spark, fixture_pages, ["http://robota/page1.html"],
            Options(crawl_delay_ms=DELAY, log_flags=LogFlags.NONE), ext,
        )
        assert res.log == []  # hook consumed them
        msgs = [m for _, _, m in seen]
        assert "enqueue: http://robota/robots.txt" in msgs
        assert "enqueue: http://robota/page1.html" in msgs
        levels = {lvl for _, lvl, _ in seen}
        assert LogFlags.ENQUEUED in levels and LogFlags.TRACE in levels


# ------------------------------------------------------- per-fetch hooks ----

class TestFetchHooks:
    def test_fetch_transform_forces_404(self, spark, fixture_pages):
        # Fetch hook analog (ext.go:45): rewrite status by URL pattern;
        # page5 (a leaf) forced 404 → exactly one fewer visit than the
        # AllSameHost base case, all other counters identical
        base = crawl(
            spark, fixture_pages,
            ["http://hosta/page1.html", "http://hosta/page4.html"],
        )
        ext = Extender(
            fetch_transform=lambda df: df.withColumn(
                "status",
                F.when(
                    F.col("url_norm").endswith("page5.html"), F.lit(404)
                ).otherwise(F.col("status")),
            )
        )
        res = crawl(
            spark, fixture_pages,
            ["http://hosta/page1.html", "http://hosta/page4.html"],
            ext=ext,
        )
        assert base.counters.visit == 5
        assert res.counters.visit == 4
        assert res.counters.filter == base.counters.filter == 13
        assert res.counters.fetch == base.counters.fetch

    def test_fetched_robots_hook(self, spark, fixture_pages):
        # FetchedRobots (ext.go:48, worker.go:172): notified for real
        # fetches only, not cached bodies; counter matches
        got: list[list] = []
        ext = Extender(fetched_robots=lambda rows: got.append(rows))
        res = crawl(
            spark, fixture_pages, ["http://hosta/page1.html"], ext=ext
        )
        flat = [h for batch in got for h, _ in batch]
        assert flat == ["hosta"]
        assert res.counters.fetched_robots == 1

        got2: list[list] = []
        ext2 = Extender(
            request_robots={"robota": b"Disallow:/page2.html"},
            fetched_robots=lambda rows: got2.append(rows),
        )
        res2 = crawl(
            spark, fixture_pages, ["http://robota/page1.html"], ext=ext2
        )
        assert [h for b in got2 for h, _ in b] == []
        assert res2.counters.fetched_robots == 0


def test_all_scale_options_compose(spark, fixture_pages, tmp_path, monkeypatch):
    """Every scale knob at once (bloom sidecar + salted sequencing +
    seen compaction + durable commits) produces the exact
    baseline crawl: counters, seen set, per-host visit order."""
    import crawlspark.operators.skew as skew

    seeds = ["http://hosta/page1.html", "http://hosta/page4.html"]
    base = crawl(spark, fixture_pages, seeds)
    # force the salted path at fixture scale
    monkeypatch.setattr(skew, "SALT_THRESHOLD_ROWS", 1)
    res = CrawlEngine(
        spark,
        fixture_pages,
        Options(
            crawl_delay_ms=DELAY,
            use_bloom_seen=True, bloom_min_seen_rows=0,
            bloom_partitions=4,
            bloom_expected_per_partition=1000,
            seen_compact_every=2,
            checkpoint_dir=str(tmp_path / "ck"),
        ),
    ).run(seeds)
    assert res.counters.visit == base.counters.visit == 5
    assert res.counters.filter == base.counters.filter == 13
    assert res.counters.enqueued == base.counters.enqueued
    assert res.counters.disallowed == base.counters.disallowed
    s1 = {r[0] for r in base.seen.select("url_norm").collect()}
    s2 = {r[0] for r in res.seen.select("url_norm").collect()}
    assert s1 == s2
    order = lambda r: [  # noqa: E731
        x[0]
        for x in r.visit_log.filter(F.col("host") == "hosta")
        .orderBy("seq")
        .select("url_norm")
        .collect()
    ]
    assert order(res) == order(base)
