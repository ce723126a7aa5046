"""Frontier semantics tests (SURVEY.md §5 item 3).

- canonicalization: Spark expression ≡ pure-Python mirror
- bloom: zero false negatives, bounded fpp, roundtrip
- URL-seen: bloom-prefiltered path ≡ exact anti-join
- ordering: reference_order ≡ single-process oracle
- politeness: per-bucket pacing + total host budget never exceeded
- end-to-end crawl: every URL fetched exactly once; kill+resume from
  snapshot refetches nothing and misses nothing; retries recover
  transient failures; requeue_failed re-enqueues permanent ones.
"""

from __future__ import annotations

import json
import os
import random

import pytest
from pyspark.sql import functions as F

from edgar_crawler_spark.frontier import (
    BloomFilter,
    CrawlJob,
    ShardedBloom,
    SnapshotStore,
    TokenBucket,
    assign_waves,
    canonicalize_url,
    canonicalize_url_py,
    filter_unseen,
    reference_order,
)
from edgar_crawler_spark.frontier.bloom import shard_of
from edgar_crawler_spark.frontier.fetch import MAX_RETRIES, SimulatedTransport
from edgar_crawler_spark.frontier.seen import build_sharded_bloom
from edgar_crawler_spark.synth import accession_number, filing_url

CANON_CASES = [
    # iXBRL rewrite (download_filings.py:703-705)
    ("https://www.sec.gov/ix?doc=/Archives/edgar/data/320193/a.htm",
     "https://www.sec.gov/Archives/edgar/data/320193/a.htm"),
    # bare 18-digit accession -> dashed normal form
    ("https://www.sec.gov/Archives/edgar/data/320193/000032019324000123.txt",
     "https://www.sec.gov/Archives/edgar/data/320193/0000320193-24-000123.txt"),
    # host case + default port + fragment
    ("HTTPS://WWW.SEC.GOV:443/Archives/x.htm#item7",
     "https://www.sec.gov/Archives/x.htm"),
    ("http://www.sec.gov:80/", "http://www.sec.gov/"),
    # NON-default ports for the scheme are kept: these fetch different bytes
    ("http://www.sec.gov:443/x.htm", "http://www.sec.gov:443/x.htm"),
    ("https://www.sec.gov:80/x.htm", "https://www.sec.gov:80/x.htm"),
    # already canonical: unchanged
    ("https://www.sec.gov/Archives/edgar/data/1/0000000001-20-000001-index.html",
     "https://www.sec.gov/Archives/edgar/data/1/0000000001-20-000001-index.html"),
]


def _frontier_rows(n: int, seed: int = 3):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        cik = str(rng.randint(1000, 99999))
        acc = accession_number(seed, i)
        rows.append(
            (
                filing_url(cik, acc),
                cik,
                f"CO {i}",
                rng.choice(["8-K", "10-K", "10-Q"]),
                f"{rng.randint(2015, 2024)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
                acc,
            )
        )
    return rows


FRONTIER_SCHEMA = (
    "url string, cik string, company string, form_type string, "
    "filing_date string, accession string"
)


def _frontier_df(spark, n: int, seed: int = 3):
    return spark.createDataFrame(_frontier_rows(n, seed), FRONTIER_SCHEMA)


class TestCanon:
    def test_pure_cases(self):
        for raw, want in CANON_CASES:
            assert canonicalize_url_py(raw) == want, raw

    def test_spark_matches_python(self, spark):
        raws = [c[0] for c in CANON_CASES] + [r[0] for r in _frontier_rows(50)]
        df = spark.createDataFrame([(u,) for u in raws], "url string")
        got = [r[0] for r in df.select(canonicalize_url("url")).collect()]
        assert got == [canonicalize_url_py(u) for u in raws]


class TestBloom:
    def test_no_false_negatives_and_fpp(self):
        keys = [f"https://www.sec.gov/Archives/{i}.txt" for i in range(5000)]
        bf = BloomFilter.empty(len(keys), fpp=0.01)
        bf.add_many(keys)
        assert all(bf.might_contain(k) for k in keys)
        probes = [f"https://other/{i}" for i in range(5000)]
        fp = sum(bf.might_contain(p) for p in probes) / len(probes)
        assert fp < 0.03

    def test_sharded_roundtrip(self):
        keys = [f"u{i}" for i in range(2000)]
        shards: dict[int, BloomFilter] = {}
        for k in keys:
            s = shard_of(k, 8)
            shards.setdefault(s, BloomFilter.empty(300, 0.01)).add(k)
        sb = ShardedBloom(8, shards)
        sb2 = ShardedBloom.from_rows(8, sb.to_rows())
        assert all(sb2.might_contain(k) for k in keys)
        assert len(set(shard_of(k, 8) for k in keys)) == 8  # all shards used

    def test_vectorized_paths_bit_identical(self):
        """add_many / might_contain_many are vectorized; they must be
        BIT-identical to the per-key add / might_contain loops —
        including absent shards (answer False) and shards with
        different geometry."""
        import numpy as np

        keys = [f"https://host{i % 7}.example/p/{i}" for i in range(3000)]
        keys += ["", "é∆-unicode", "a" * 500]
        bf_loop = BloomFilter.empty(1000, 0.01)
        bf_vec = BloomFilter.empty(1000, 0.01)
        for k in keys:
            bf_loop.add(k)
        bf_vec.add_many(keys)
        assert np.array_equal(bf_loop.bits, bf_vec.bits)

        shards: dict[int, BloomFilter] = {}
        for k in keys:
            shards.setdefault(shard_of(k, 16), BloomFilter.empty(300, 0.01)).add(k)
        del shards[sorted(shards)[3]]  # absent-shard path
        sb = ShardedBloom(16, shards)
        probe = keys + [f"unseen-{i}" for i in range(3000)]
        per_key = [sb.might_contain(k) for k in probe]
        assert sb.might_contain_many(probe).tolist() == per_key
        assert sb.might_contain_many([]).shape == (0,)

        het = ShardedBloom(
            4, {0: BloomFilter.empty(100, 0.01), 1: BloomFilter.empty(9999, 0.001)}
        )
        het.shards[0].add("x")
        het.shards[1].add("y")
        pr = ["x", "y", "z", "w"]
        assert het.might_contain_many(pr).tolist() == [het.might_contain(k) for k in pr]

    def test_distributed_build_matches(self, spark):
        df = _frontier_df(spark, 400).repartition(7)
        sb = build_sharded_bloom(df, n_shards=4, fpp=0.01)
        urls = [r.url for r in df.select("url").collect()]
        assert all(sb.might_contain(u) for u in urls)


class TestUrlSeen:
    def test_prefiltered_equals_exact(self, spark):
        frontier = _frontier_df(spark, 300, seed=1)
        # seen = half of frontier + some foreign urls
        seen = (
            frontier.sample(0.5, seed=42)
            .select("url")
            .unionByName(
                spark.createDataFrame(
                    [(f"https://elsewhere/{i}",) for i in range(100)], "url string"
                )
            )
        ).cache()
        bloom = build_sharded_bloom(seen, n_shards=4)
        got = sorted(
            r.url for r in filter_unseen(frontier, seen, bloom).select("url").collect()
        )
        want = sorted(
            r.url
            for r in frontier.join(seen, "url", "left_anti").select("url").collect()
        )
        assert got == want
        assert 0 < len(got) < 300

    def test_probe_never_runs_over_seen(self, spark, tmp_path):
        """Plan audit: the bloom probe (an `ArrowEvalPython` node) runs
        over frontier rows only. Catalyst must not infer it across the
        anti-join's `url = url` onto the seen ledger, which would push
        every seen url through the Python probe on every wave."""
        frontier_dir, seen_dir = str(tmp_path / "frontier"), str(tmp_path / "seen")
        _frontier_df(spark, 200, seed=5).write.parquet(frontier_dir)
        frontier = spark.read.parquet(frontier_dir)
        frontier.sample(0.5, seed=7).select("url").write.parquet(seen_dir)
        seen = spark.read.parquet(seen_dir)
        bloom = build_sharded_bloom(seen, n_shards=4)
        unseen = filter_unseen(frontier, seen, bloom)
        unseen.collect()  # audit the final adaptive plan, not the initial one
        evals = _nodes(unseen._jdf.queryExecution().executedPlan(), "ArrowEvalPython")
        assert 1 <= len(evals) <= 2
        for node in evals:
            scanned = {_scan_path(n) for n in _nodes(node, "Scan")}
            assert scanned == {os.path.realpath(frontier_dir)}


def _children(node) -> list:
    """Physical-plan children, looking through adaptive wrappers and
    query stages (which hide their subtree from `children`)."""
    if node.nodeName() == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if node.getClass().getSimpleName().endswith("QueryStageExec"):
        return [node.plan()]
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _nodes(root, prefix: str) -> list:
    out, todo = [], [root]
    while todo:
        node = todo.pop()
        if node.nodeName().startswith(prefix):
            out.append(node)
        todo.extend(_children(node))
    return out


def _scan_path(scan) -> str:
    return scan.relation().location().rootPaths().apply(0).toUri().getPath()


class TestOrdering:
    def test_reference_order_matches_oracle(self, spark):
        rng = random.Random(9)
        seq: dict[tuple[int, int], int] = {}
        rows = []
        for i in range(500):
            yq = (rng.randint(2018, 2021), rng.randint(1, 4))
            rows.append((yq[0], yq[1], seq.get(yq, 0), f"acc{i}"))
            seq[yq] = seq.get(yq, 0) + 1
        df = spark.createDataFrame(
            rows, "year int, quarter int, row_seq long, accession string"
        ).repartition(8)
        got = [
            r.accession
            for r in reference_order(df).orderBy("visit_seq").collect()
        ]
        want = [a for _, _, _, a in sorted(rows, key=lambda r: (r[0], r[1], r[2]))]
        assert got == want

    def test_assign_waves(self, spark):
        df = assign_waves(_frontier_df(spark, 400), n_buckets=4, wave_size=25)
        pdf = df.toPandas()
        assert set(pdf.host_bucket.unique()) <= set(range(4))
        # wave sizes bounded; within-bucket priority is monotone
        for (_, w), grp in pdf.groupby(["host_bucket", "wave"]):
            assert len(grp) <= 25
        for _, grp in pdf.groupby("host_bucket"):
            g = grp.sort_values("bucket_rank")
            keys = list(
                zip(-g.form_weight, [tuple(-ord(c) for c in d) for d in g.filing_date], g.accession)
            )
            assert keys == sorted(keys)

    def test_murmur_mirror_matches_spark_hash(self, spark):
        """partition_slots inverts HashPartitioning with a pure-Python
        Murmur3; it is only sound if the mirror is EXACT (incl. sign
        and int32 overflow semantics)."""
        from edgar_crawler_spark.frontier.priority import _murmur3_int32

        vals = list(range(-5, 40)) + [2**31 - 1, -(2**31), 123456789, -987654321]
        df = spark.createDataFrame([(v,) for v in vals], "v int")
        got = {r.v: r.h for r in df.select("v", F.hash("v").alias("h")).collect()}
        assert got == {v: _murmur3_int32(v) for v in vals}

    def test_slots_cover_all_residues(self):
        from edgar_crawler_spark.frontier.priority import (
            _murmur3_int32, partition_slots,
        )

        for n in (2, 3, 4, 8, 16, 256, 1024):
            s = partition_slots(n)
            assert s is not None
            assert len({_murmur3_int32(v) % n for v in s}) == n

    def test_one_bucket_per_partition(self, spark):
        """Murmur3 collides on raw bucket ids (0 and 1 of 2 share a
        partition), which would stack two politeness-paced buckets
        behind one task; the _pslot mapping must place every bucket on
        its OWN partition."""
        for n in (2, 4, 8):
            w = assign_waves(_frontier_df(spark, 300), n_buckets=n, wave_size=300)
            got = (
                w.select("host_bucket", F.spark_partition_id().alias("p"))
                .distinct()
                .collect()
            )
            parts: dict[int, set] = {}
            for r in got:
                parts.setdefault(r.host_bucket, set()).add(r.p)
            assert all(len(v) == 1 for v in parts.values())
            flat = [next(iter(v)) for v in parts.values()]
            assert len(set(flat)) == len(parts)

    def test_single_exchange_reused_by_fetch(self, spark):
        """The _pslot repartition must remain the ONLY exchange: the
        window and the fetch groupBy reuse its clustering."""
        from edgar_crawler_spark.frontier.fetch import fetch_wave

        w = assign_waves(_frontier_df(spark, 100), n_buckets=4, wave_size=100)
        plan = fetch_wave(
            w, transport_factory=lambda: SimulatedTransport(transient_pct=0)
        )._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1


class TestPoliteness:
    def test_token_bucket_rate(self):
        tb = TokenBucket(rate=2.0, burst=1.0)
        times = [tb.acquire() for _ in range(21)]
        assert times == sorted(times)
        # after the initial burst token, steady state is 1/rate gaps
        gaps = [b - a for a, b in zip(times[1:], times[2:])]
        assert all(g >= 0.5 - 1e-9 for g in gaps)
        assert times[-1] >= 19 * 0.5 - 1e-9

    def test_crawl_respects_host_budget(self, spark, tmp_path):
        job = CrawlJob(
            spark,
            SnapshotStore(str(tmp_path / "store")),
            n_buckets=4,
            wave_size=50,
            host_budget_per_sec=10.0,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        job.run(_frontier_df(spark, 200), max_waves=1)
        log = job.pages().select("host_bucket", "sched_ts").toPandas()
        rate = 10.0 / 4
        for _, grp in log.groupby("host_bucket"):
            ts = sorted(grp.sched_ts)
            gaps = [b - a for a, b in zip(ts, ts[1:])]
            # burst=1: beyond the first token every send is paced
            assert all(g >= 1 / rate - 1e-6 for g in gaps[1:] + gaps[:1] if g > 0) or all(
                g >= 1 / rate - 1e-6 for g in gaps[1:]
            )
        # total host throughput over the wave ≤ budget (+ burst slack)
        ts_all = sorted(log.sched_ts)
        span = max(ts_all[-1] - ts_all[0], 1e-9)
        assert (len(ts_all) - 4) / span <= 10.0 + 1e-6


class TestCrawlEndToEnd:
    def test_exactly_once_and_metrics(self, spark, tmp_path):
        n = 150
        job = CrawlJob(
            spark,
            SnapshotStore(str(tmp_path / "s1")),
            n_buckets=4,
            wave_size=20,
            transport_factory=lambda: SimulatedTransport(transient_pct=20),
        )
        spark.catalog.clearCache()
        res = job.run(_frontier_df(spark, n))
        assert _cache_is_empty(spark)  # every wave unpersisted its caches
        pages = job.pages().cache()
        assert res.n_fetched == n and res.n_failed == 0
        assert pages.count() == n
        assert pages.select("url").distinct().count() == n
        # retries actually happened and recovered
        assert pages.filter(F.col("attempts") > 1).count() > 0
        assert pages.filter(F.col("status") != "ok").count() == 0
        # bodies are real filings (non-empty, deterministic)
        assert pages.filter(F.length("html") > 100).count() == n
        # lineage metrics exist for every wave×bucket that fetched
        m = job.metrics().toPandas()
        assert m.n_urls.sum() == n
        assert (m.urls_per_sec > 0).all()
        assert set(m.columns) >= {
            "wave", "host_bucket", "partition_id", "n_urls", "n_ok",
            "n_failed", "sum_attempts", "sum_bytes", "t_first", "t_last",
            "urls_per_sec",
        }

    def test_kill_and_resume_exactness(self, spark, tmp_path):
        n = 120
        root = str(tmp_path / "s2")
        job1 = CrawlJob(
            spark, SnapshotStore(root), n_buckets=4, wave_size=10,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        r1 = job1.run(_frontier_df(spark, n), max_waves=2)
        assert 0 < r1.n_fetched < n  # mid-crawl "kill"

        # fresh objects = restarted process; frontier arg ignored on resume
        job2 = CrawlJob(
            spark, SnapshotStore(root), n_buckets=4, wave_size=10,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        r2 = job2.run(_frontier_df(spark, n))
        pages = job2.pages()
        assert r1.n_fetched + r2.n_fetched == n
        assert pages.count() == n  # no double fetch ...
        assert pages.select("url").distinct().count() == n  # ... no miss
        # and byte-determinism across the kill boundary: same url -> same body
        want = {r.url: bytes(r.html) for r in _rerun_reference(spark, tmp_path, n)}
        got = {r.url: bytes(r.html) for r in pages.select("url", "html").collect()}
        assert got == want

    def test_permanent_failures_requeue(self, spark, tmp_path):
        job = CrawlJob(
            spark, SnapshotStore(str(tmp_path / "s3")), n_buckets=2, wave_size=40,
            transport_factory=lambda: SimulatedTransport(
                transient_pct=0, permanent_pct=10
            ),
        )
        res = job.run(_frontier_df(spark, 80))
        assert res.n_failed > 0
        pages = job.pages()
        failed = pages.filter(F.col("status") != "ok")
        assert failed.filter(F.col("attempts") != MAX_RETRIES + 1).count() == 0
        n_req = job.requeue_failed()
        assert n_req == failed.select("url").distinct().count()
        # after requeue the frontier holds exactly the failed urls
        frontier = job.store.read(spark, "frontier")
        assert frontier.count() == n_req

    def test_requeue_skips_recovered_urls(self, spark, tmp_path):
        """A url that failed, was requeued, and then SUCCEEDED must not
        be requeued again by a later requeue_failed call (the pages
        union holds both its failed and ok rows)."""
        root = str(tmp_path / "s4")
        job = CrawlJob(
            spark, SnapshotStore(root), n_buckets=2, wave_size=40,
            transport_factory=lambda: SimulatedTransport(
                transient_pct=0, permanent_pct=10
            ),
        )
        job.run(_frontier_df(spark, 80))
        n_req = job.requeue_failed()
        assert n_req > 0
        # "network recovers": same store, transport that never fails
        job2 = CrawlJob(
            spark, SnapshotStore(root), n_buckets=2, wave_size=40,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        job2.run(_frontier_df(spark, 80))
        assert job2.requeue_failed() == 0  # recovered urls stay fetched
        pages = job2.pages()
        ok = pages.filter(F.col("status") == "ok")
        assert ok.select("url").distinct().count() == 80

    def test_seen_frontier_drains_and_terminates(self, spark, tmp_path):
        """Replayed/overlapping discovery: a frontier whose rows are
        ALL already in seen must terminate run() instead of looping
        forever committing empty waves (ADVICE r01, high)."""
        root = str(tmp_path / "s5")
        job = CrawlJob(
            spark, SnapshotStore(root), n_buckets=2, wave_size=50,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        job.run(_frontier_df(spark, 40))
        assert job.pages().count() == 40
        # replay: merge the SAME 40 urls plus 20 new ones into the frontier
        from edgar_crawler_spark.frontier.canon import canonicalize_url
        merged = (
            job.store.read(spark, "frontier")
            .unionByName(
                _frontier_df(spark, 60)  # superset (same seed)
                .withColumn("url", canonicalize_url("url"))
            )
            .dropDuplicates(["url"])
        )
        seen = job.store.read(spark, "seen")
        job.store.commit(
            {"frontier": merged, "seen": seen}, summary={"stage": "replay"}
        )
        spark.catalog.clearCache()
        res = job.run(max_waves=5)  # bounded: must NOT hit the bound
        assert res.waves_run < 5
        # the last wave took the all-seen early return
        assert _cache_is_empty(spark)
        pages = job.pages()
        assert pages.count() == 60  # only the 20 new urls fetched
        assert pages.select("url").distinct().count() == 60
        # pure-replay case: run again with zero new work -> 0 waves
        res2 = job.run(max_waves=5)
        assert res2.waves_run == 0 and res2.n_fetched == 0
        assert _cache_is_empty(spark)


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


class TestCompanyInfoDim:
    def test_dim_grows_lazily_and_survives_resume(self, spark, tmp_path):
        """Reference lazy cache semantics (download_filings.py:572-646):
        the dim grows per wave with only NEW ciks fetched; rows for
        already-known ciks are never rewritten (their
        fetched_at_version is immutable); the dim survives
        kill/resume via the snapshot store."""
        from edgar_crawler_spark.frontier.company import (
            make_company_info_html,
            parse_company_info_html,
        )

        root = str(tmp_path / "ci")
        n = 120
        job1 = CrawlJob(
            spark, SnapshotStore(root), n_buckets=4, wave_size=30,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        job1.run(_frontier_df(spark, n), max_waves=2)
        dim1 = {r.cik: r for r in job1.company_info().collect()}
        assert len(dim1) > 0
        # dim holds exactly the ciks fetched so far
        fetched_ciks = {
            r.cik for r in job1.pages().select("cik").distinct().collect()
        }
        assert set(dim1) == fetched_ciks
        # parsed fields round-trip the deterministic company page
        for cik, row in list(dim1.items())[:5]:
            want = parse_company_info_html(make_company_info_html(cik))
            assert row.company_name == want["company_name"]
            assert row.sic == want["sic"]
            assert row.state_of_inc == want["state_of_inc"]
            assert row.fiscal_year_end == want["fiscal_year_end"]

        # "restart the process" and crawl to exhaustion
        job2 = CrawlJob(
            spark, SnapshotStore(root), n_buckets=4, wave_size=30,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        job2.run(_frontier_df(spark, n))
        dim2 = {r.cik: r for r in job2.company_info().collect()}
        all_ciks = {
            r.cik for r in job2.pages().select("cik").distinct().collect()
        }
        assert set(dim2) == all_ciks
        assert len(dim2) >= len(dim1)
        # grow-only: pre-resume rows kept their original fetch version
        for cik, row in dim1.items():
            assert dim2[cik].fetched_at_version == row.fetched_at_version
        # exactly one row per cik ever (no refetch, no duplicates)
        counts = (
            job2.company_info().groupBy("cik").count()
            .filter(F.col("count") > 1).count()
        )
        assert counts == 0

    def test_enriched_pages_fill_missing_company(self, spark, tmp_path):
        job = CrawlJob(
            spark, SnapshotStore(str(tmp_path / "ci2")), n_buckets=2,
            wave_size=40,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        job.run(_frontier_df(spark, 40))
        pages = job.pages()
        enriched = job.enriched_pages()
        assert enriched.count() == pages.count()
        # company column filled from dim wherever the fact had null
        assert enriched.filter(F.col("company").isNull()).count() == 0
        # dim attributes joined in
        assert "sic" in enriched.columns
        assert enriched.filter(F.col("sic").isNull()).count() == 0


class TestFusedCrawl:
    def test_fused_equals_two_stage(self, spark):
        """fetch_extract_wave (single python pass) must produce the
        same per-url item sets as fetch_wave -> extract_items_job."""
        import hashlib

        from edgar_crawler_spark.frontier.fetch import (
            fetch_extract_wave,
            fetch_wave,
        )
        from edgar_crawler_spark.frontier.priority import assign_waves
        from edgar_crawler_spark.operators.extract_job import extract_items_job

        waved = assign_waves(_frontier_df(spark, 80, seed=31), 4, wave_size=1000)
        tf = lambda: SimulatedTransport(transient_pct=0)  # noqa: E731
        fused = {
            r.url: (r.n_items, r.items_digest)
            for r in fetch_extract_wave(
                waved, host_budget_per_sec=1e9, n_buckets=4, transport_factory=tf
            ).collect()
        }
        pages = fetch_wave(
            waved, host_budget_per_sec=1e9, n_buckets=4, transport_factory=tf
        )
        two_stage = {}
        for r in extract_items_job(pages).collect():
            items = sorted((k, v) for k, v in (r.items or {}).items() if v)
            digest = hashlib.md5(
                "\x00".join(f"{k}\x01{v}" for k, v in items).encode("utf-8")
            ).hexdigest()
            two_stage[r.url] = (len(items), digest)
        assert fused == two_stage
        assert sum(n for n, _ in fused.values()) > 0


class TestTransportErrors:
    @staticmethod
    def _raising_transport(exc_type):
        # defined locally so Spark pickles it by value into the workers
        class Raising(SimulatedTransport):
            """Raises `exc_type` on the first attempt for every third url."""

            @staticmethod
            def raises_first(url):
                return int(url[-10:-4]) % 3 == 0

            def get(self, url, form_type, attempt):
                if attempt == 1 and self.raises_first(url):
                    raise exc_type(f"connection reset: {url}")
                return super().get(url, form_type, attempt)

        return Raising

    def test_connection_error_is_a_retried_attempt(self, spark):
        """A transport that raises (requests' ConnectionError is an
        OSError) costs one attempt inside the retry loop, not the
        bucket task: every url still ends `ok` exactly once."""
        from edgar_crawler_spark.frontier.fetch import fetch_extract_wave, fetch_wave

        waved = assign_waves(_frontier_df(spark, 60, seed=11), 4, wave_size=1000)
        cls = self._raising_transport(ConnectionError)
        urls = [r.url for r in waved.select("url").collect()]
        want = {u: 2 if cls.raises_first(u) else 1 for u in urls}
        assert 0 < sum(a == 2 for a in want.values()) < len(urls)
        for fetch in (fetch_wave, fetch_extract_wave):
            rows = fetch(
                waved, host_budget_per_sec=1e9, n_buckets=4,
                transport_factory=lambda: cls(transient_pct=0),
            ).select("url", "status", "attempts").collect()
            assert sorted(r.url for r in rows) == sorted(urls)
            assert all(r.status == "ok" for r in rows)
            assert {r.url: r.attempts for r in rows} == want

    def test_other_exceptions_fail_loudly(self, spark):
        from edgar_crawler_spark.frontier.fetch import fetch_wave

        waved = assign_waves(_frontier_df(spark, 30, seed=11), 2, wave_size=1000)
        cls = self._raising_transport(ValueError)
        with pytest.raises(Exception, match="ValueError"):
            fetch_wave(
                waved, host_budget_per_sec=1e9, n_buckets=2,
                transport_factory=lambda: cls(transient_pct=0),
            ).collect()


def _rerun_reference(spark, tmp_path, n):
    """Uninterrupted oracle crawl over the same frontier."""
    job = CrawlJob(
        spark, SnapshotStore(str(tmp_path / "oracle")), n_buckets=4, wave_size=1000,
        transport_factory=lambda: SimulatedTransport(transient_pct=0),
    )
    job.run(_frontier_df(spark, n))
    return job.pages().select("url", "html").collect()


class TestRobots:
    def test_robots_denied_urls_never_fetch(self, spark, tmp_path):
        from edgar_crawler_spark.frontier.fetch import RobotsPolicy

        robots_txt = "User-agent: *\nDisallow: /Archives/edgar/data/1\n"
        policy = RobotsPolicy(robots_txt)
        frontier = _frontier_df(spark, 120, seed=41)
        denied_urls = {
            r.url for r in frontier.collect()
            if not policy.allows(r.url)
        }
        assert 0 < len(denied_urls) < 120

        job = CrawlJob(
            spark, SnapshotStore(str(tmp_path / "sr")), n_buckets=4, wave_size=200,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
            robots=policy,
        )
        job.run(frontier)
        pages = job.pages()
        denied_rows = pages.filter(F.col("status") == "robots_denied")
        assert {r.url for r in denied_rows.collect()} == denied_urls
        # denied rows consumed no attempts and carry no body
        assert denied_rows.filter(
            (F.col("attempts") != 0) | F.col("html").isNotNull()
        ).count() == 0
        # everything else fetched normally
        assert pages.filter(F.col("status") == "ok").count() == 120 - len(denied_urls)


class TestSkewBalance:
    def test_single_host_salting_is_balanced(self, spark):
        """The whole frontier is one host (sec.gov) — the crc32 salt
        must spread it near-uniformly across buckets or one fetch task
        inherits the skew."""
        df = assign_waves(_frontier_df(spark, 2000, seed=51), n_buckets=16,
                          wave_size=10**9)
        counts = {
            r.host_bucket: r["count"]
            for r in df.groupBy("host_bucket").count().collect()
        }
        assert len(counts) == 16
        mean = 2000 / 16
        for b, c in counts.items():
            assert 0.6 * mean <= c <= 1.4 * mean, (b, c)


class TestSnapshotExpiry:
    def test_expire_state_keeps_pages_and_resume(self, spark, tmp_path):
        """expire_state drops superseded frontier/seen/bloom copies
        from old snapshots but (a) the pages log stays complete,
        (b) the crawl resumes exactly, (c) per-table carriers are
        respected so a sparse table (company_info) never vanishes."""
        store = SnapshotStore(str(tmp_path / "sx"))
        job = CrawlJob(
            spark, store, n_buckets=4, wave_size=10,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        n = 120
        job.run(_frontier_df(spark, n), max_waves=2)  # seed + 2 waves
        mid_pages = job.pages().count()
        assert mid_pages == 80  # 2 waves x (10 per bucket x 4 buckets)
        expired = store.expire_state(keep_last=1)
        assert expired  # something actually expired
        # newest state survives; resume finishes the crawl exactly
        job2 = CrawlJob(
            spark, store, n_buckets=4, wave_size=10,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        res = job2.run()
        pages = job2.pages()
        assert pages.count() == n
        assert pages.select("url").distinct().count() == n
        # company_info still readable (sparse carrier preserved)
        assert job2.company_info() is not None
        # expired versions: state gone, pages (append log) intact
        v0 = expired[0]
        assert store.read(spark, "seen", v0) is None
        if store.read(spark, "pages", v0) is not None:
            assert store.read(spark, "pages", v0).count() > 0

    def test_expire_respects_sparse_carriers(self, spark, tmp_path):
        """A table carried only by OLD versions keeps its newest
        carrier even when that version's other state expires."""
        store = SnapshotStore(str(tmp_path / "sy"))
        df = spark.range(3).selectExpr("cast(id as string) AS url")
        dim = spark.range(2).selectExpr("id AS cik", "'x' AS name")
        store.commit({"seen": df, "company_info": dim})   # v1
        store.commit({"seen": df})                        # v2
        store.commit({"seen": df})                        # v3
        expired = store.expire_state(keep_last=1)
        assert sorted(expired) == [1, 2]
        # v1's seen expired, but v1's company_info is its newest
        # carrier and MUST survive
        assert store.read(spark, "seen", 1) is None
        assert store.read_any(spark, "company_info").count() == 2


def _urls_df(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def _foreign_urls(n: int, prefix: str = "base") -> list[str]:
    return [f"https://elsewhere.example/{prefix}/{i:07d}.txt" for i in range(n)]


def _resume_store(spark, root: str, n_frontier: int = 120, n_base: int = 3000):
    """A store whose v1 holds a canonical frontier and a seen ledger
    big enough that the next waves append `seen` deltas: `n_base`
    foreign urls plus the first 10 frontier urls. Returns
    (store, base urls)."""
    from edgar_crawler_spark.frontier.canon import canonicalize_url

    frontier = (
        _frontier_df(spark, n_frontier)
        .withColumn("url", canonicalize_url("url"))
        .dropDuplicates(["url"])
    )
    preseen = sorted(r.url for r in frontier.select("url").collect())[:10]
    base = _foreign_urls(n_base) + preseen
    store = SnapshotStore(root)
    store.commit(
        {"frontier": frontier, "seen": _urls_df(spark, base)},
        summary={"stage": "seed"},
    )
    return store, set(base)


def _resume_job(spark, store, **kw):
    return CrawlJob(
        spark, store, n_buckets=4, wave_size=10,
        transport_factory=lambda: SimulatedTransport(transient_pct=0, **kw),
    )


def _seen_urls(spark, store, version=None) -> list[str]:
    return [r.url for r in store.read(spark, "seen", version).collect()]


def _count_builds(monkeypatch) -> list:
    """Record each `build_sharded_bloom` call the crawler makes."""
    from edgar_crawler_spark.frontier import crawler

    calls = []
    real = crawler.build_sharded_bloom

    def spy(*args, **kwargs):
        calls.append((args, kwargs))
        return real(*args, **kwargs)

    monkeypatch.setattr(crawler, "build_sharded_bloom", spy)
    return calls


class TestSeenDeltaLog:
    def test_waves_append_deltas(self, spark, tmp_path):
        """Over a big base, each wave commits its fetched urls as a
        `seen` delta on the previous version, and the logical table
        is base ∪ fetched with no duplicate."""
        store, base = _resume_store(spark, str(tmp_path / "d1"))
        job = _resume_job(spark, store)
        res = job.run(max_waves=3)
        assert res.waves_run == 3
        for v in res.versions:
            assert store.manifest(v)["deltas"] == {"seen": v - 1}
        assert store.chain("seen", res.versions[-1]) == [1, *res.versions]
        fetched = {r.url for r in job.pages().select("url").collect()}
        assert len(fetched) == res.n_fetched + res.n_failed
        seen = _seen_urls(spark, store)
        assert len(seen) == len(set(seen))
        assert set(seen) == base | fetched

    def test_read_is_one_scan(self, spark, tmp_path):
        """The logical read resolves base + deltas as one multi-path
        parquet scan, never a Union of per-version reads."""
        store = SnapshotStore(str(tmp_path / "d2"))
        store.commit({"seen": _urls_df(spark, _foreign_urls(2000))})
        for i in range(3):
            store.commit({}, deltas={"seen": _urls_df(spark, _foreign_urls(5, f"d{i}"))})
        assert store.chain("seen", 4) == [1, 2, 3, 4]
        df = store.read(spark, "seen")
        assert df.count() == 2015
        plan = df._jdf.queryExecution().executedPlan()
        assert _nodes(plan, "Union") == []
        scans = _nodes(plan, "Scan")
        assert len(scans) == 1
        assert scans[0].relation().location().rootPaths().size() == 4

    def test_compaction_follows_size_rule(self, spark, tmp_path):
        """A delta commit extends the chain while the deltas since the
        base hold fewer bytes than the base, and writes a full copy
        once they reach it."""
        store = SnapshotStore(str(tmp_path / "d3"))
        urls = _foreign_urls(200)
        store.commit({"seen": _urls_df(spark, urls)})
        kinds = []
        for i in range(12):
            chain = store.chain("seen", store.latest())
            sizes = [store.manifest(v)["bytes"]["seen"] for v in chain]
            batch = _foreign_urls(60, f"d{i}")
            urls += batch
            v = store.commit({}, deltas={"seen": _urls_df(spark, batch)})
            appended = store.manifest(v)["deltas"] == {"seen": v - 1}
            assert appended == (sum(sizes[1:]) < sizes[0])
            kinds.append(appended)
        assert True in kinds and False in kinds
        seen = _seen_urls(spark, store)
        assert sorted(seen) == sorted(urls)

    def test_chain_stays_bounded(self, spark, tmp_path):
        """Tiny deltas on a big base never reach its bytes, so the
        chain is cut at Spark's parallel-listing threshold instead:
        40 waves never read more than that many paths."""
        store = SnapshotStore(str(tmp_path / "d4"))
        limit = int(spark.conf.get(
            "spark.sql.sources.parallelPartitionDiscovery.threshold"))
        urls = _foreign_urls(20000)
        store.commit({"seen": _urls_df(spark, urls)})
        lengths = []
        for i in range(40):
            batch = _foreign_urls(1, f"w{i}")
            urls += batch
            v = store.commit({}, deltas={"seen": _urls_df(spark, batch)})
            lengths.append(len(store.chain("seen", v)))
        assert max(lengths) == limit
        assert lengths[limit - 1] == 1  # the cut: a full copy
        seen = _seen_urls(spark, store)
        assert len(seen) == len(set(seen)) == len(urls)

    def test_expire_keeps_chain_members(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path / "d5"))
        df = _urls_df(spark, ["f"])
        store.commit({"frontier": df, "seen": _urls_df(spark, _foreign_urls(2000))})
        for i in range(3):
            store.commit(
                {"frontier": df},
                deltas={"seen": _urls_df(spark, _foreign_urls(5, f"d{i}"))},
            )
        expired = store.expire_state(keep_last=1)
        assert expired == [1, 2, 3]  # their frontier copies
        for v in (1, 2, 3, 4):
            assert os.path.isdir(os.path.join(store.root, f"v{v}", "seen"))
        assert store.read(spark, "frontier", 1) is None
        assert store.read(spark, "seen").count() == 2015
        # a full copy cuts the chain: the old members then expire
        store.commit({"frontier": df, "seen": store.read(spark, "seen")})
        store.expire_state(keep_last=1)
        assert store.read(spark, "seen", 4) is None
        assert store.read(spark, "seen").count() == 2015


class TestWaveBloom:
    def test_built_once_and_no_false_negatives(self, spark, tmp_path, monkeypatch):
        """The bloom is built once per job, sized for the ledger plus
        the frontier, then each wave ORs its fetched urls into it: it
        flags every url of the logical seen. A new job on the same
        store (a resumed process) builds its own."""
        builds = _count_builds(monkeypatch)
        store, base = _resume_store(spark, str(tmp_path / "b1"))
        job = _resume_job(spark, store)
        res = job.run(max_waves=3)
        assert res.waves_run == 3 and len(builds) == 1
        n_frontier = store.read(spark, "frontier", 1).count()
        per_shard = -(-(len(base) + n_frontier) // job.bloom_shards)
        assert builds[0][1]["expected_per_shard"] == per_shard
        assert job._bloom_version == store.latest()
        seen = _seen_urls(spark, store)
        assert job._bloom.might_contain_many(seen).all()
        _resume_job(spark, store).run(max_waves=1)
        assert len(builds) == 2

    def test_grown_bloom_filters_like_fresh_build(self, spark, tmp_path):
        store, _ = _resume_store(spark, str(tmp_path / "b2"))
        job = _resume_job(spark, store)
        job.run(max_waves=2)
        v = store.latest()
        frontier = store.read(spark, "frontier", 1)  # part of it seen since
        seen = store.read(spark, "seen", v)
        grown = job._bloom_for(v, frontier, seen)
        assert grown is job._bloom
        fresh = build_sharded_bloom(seen, n_shards=job.bloom_shards)

        def unseen(bloom):
            return sorted(r.url for r in filter_unseen(frontier, seen, bloom).collect())

        want = sorted(
            r.url for r in frontier.join(seen, "url", "left_anti").collect()
        )
        assert unseen(grown) == unseen(fresh) == want
        assert 0 < len(want) < frontier.count()

    def test_union_leaves_the_probed_filter_untouched(self):
        sb = ShardedBloom.from_rows(
            4, [(s, BloomFilter.empty(100).to_bytes()) for s in range(4)]
        )
        before = [bytes(r[1]) for r in sb.to_rows()]
        grown = sb.union(["a", "b", "c"])
        assert [bytes(r[1]) for r in sb.to_rows()] == before
        assert not sb.might_contain_many(["a", "b", "c"]).any()
        assert grown.might_contain_many(["a", "b", "c"]).all()

    def test_requeue_forces_a_rebuild(self, spark, tmp_path, monkeypatch):
        """requeue_failed removes urls from seen in a commit the wave
        loop did not make, so the next wave rebuilds the bloom rather
        than probe a stale one."""
        builds = _count_builds(monkeypatch)
        store, _ = _resume_store(spark, str(tmp_path / "b3"), n_frontier=80)
        job = CrawlJob(
            spark, store, n_buckets=2, wave_size=40,
            transport_factory=lambda: SimulatedTransport(
                transient_pct=0, permanent_pct=10
            ),
        )
        job.run()
        assert len(builds) == 1
        assert job.requeue_failed() > 0
        res = job.run(max_waves=1)
        assert res.waves_run == 1 and len(builds) == 2

    def test_sized_for_the_frontier(self, spark, tmp_path, monkeypatch):
        """A fresh crawl's bloom, built over an empty ledger, has room
        for the whole frontier: no wave passes its capacity, so it is
        built once."""
        builds = _count_builds(monkeypatch)
        job = CrawlJob(
            spark, SnapshotStore(str(tmp_path / "b4")), n_buckets=4,
            wave_size=100, bloom_shards=2,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        res = job.run(_frontier_df(spark, 600))
        assert res.waves_run >= 2 and len(builds) == 1
        n_frontier = job.store.read(spark, "frontier", 1).count()
        assert builds[0][1]["expected_per_shard"] == -(-n_frontier // 2) > 64
        fetched = res.n_fetched + res.n_failed
        assert job._bloom_room == 2 * builds[0][1]["expected_per_shard"] - fetched

    def test_rebuilt_when_room_runs_out(self, spark, tmp_path, monkeypatch):
        """The capacity guard: a wave whose urls would pass the room
        left drops the bloom, and the next wave builds a new one."""
        builds = _count_builds(monkeypatch)
        store, _ = _resume_store(spark, str(tmp_path / "b5"))
        job = _resume_job(spark, store)
        job.run(max_waves=1)
        job._bloom_room = 0
        job.run(max_waves=1)
        assert job._bloom is None and len(builds) == 1
        job.run(max_waves=1)
        assert len(builds) == 2 and job._bloom_version == store.latest()


class TestCommitFaults:
    def test_crash_at_manifest_rename_resumes_exactly(self, spark, tmp_path, monkeypatch):
        """Kill between a wave's data writes (a seen delta among them)
        and its manifest rename: the resumed crawl discards the debris
        and ends with the pages and logical seen of an uninterrupted
        crawl."""
        from edgar_crawler_spark.frontier import state

        real_replace = state.os.replace
        crashed = []

        def replace(src, dst):
            if dst.endswith("MANIFEST.json") and not crashed:
                with open(src) as f:
                    m = json.load(f)
                if "seen" in m["deltas"] and m["version"] == 3:
                    crashed.append(os.path.dirname(dst))
                    raise OSError("killed before the manifest rename")
            return real_replace(src, dst)

        monkeypatch.setattr(state.os, "replace", replace)
        store, _ = _resume_store(spark, str(tmp_path / "crash"))
        with pytest.raises(OSError, match="killed"):
            _resume_job(spark, store).run()
        assert crashed and store.latest() == 2
        debris = [
            os.path.join(d, f)
            for d, _, fs in os.walk(crashed[0]) for f in fs if f.endswith(".parquet")
        ]
        assert debris
        monkeypatch.setattr(state.os, "replace", real_replace)

        job = _resume_job(spark, SnapshotStore(store.root))
        job.run()
        assert not any(os.path.exists(p) for p in debris)

        oracle_store, _ = _resume_store(spark, str(tmp_path / "oracle"))
        oracle = _resume_job(spark, oracle_store)
        oracle.run()

        def pages(j):
            return sorted(
                (r.url, r.status, bytes(r.html))
                for r in j.pages().select("url", "status", "html").collect()
            )

        assert pages(job) == pages(oracle)
        got, want = _seen_urls(spark, store), _seen_urls(spark, oracle_store)
        assert len(got) == len(set(got))
        assert sorted(got) == sorted(want)

    def test_failed_write_commits_nothing(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path / "fw"))
        store.commit({"seen": _urls_df(spark, ["a"])})
        bad = spark.range(3).selectExpr("raise_error('write failed') AS x")
        with pytest.raises(Exception, match="write failed"):
            store.commit({"frontier": _urls_df(spark, ["b"]), "bad": bad})
        assert store.latest() == 1
        assert not os.path.exists(os.path.join(store.root, "v2", "MANIFEST.json"))


class TestManifestTelemetry:
    def test_bytes_and_deltas_cost_no_job(self, spark, tmp_path):
        """The manifest records each table's bytes on disk and the
        version a delta extends; the commit runs exactly one Spark job
        per table, all in the caller's job group."""
        sc = spark.sparkContext
        store = SnapshotStore(str(tmp_path / "tm"))
        store.commit({"seen": _urls_df(spark, _foreign_urls(500))})
        delta, other = _urls_df(spark, ["x"]), _urls_df(spark, ["y"])
        sc.setJobGroup("telemetry-commit", "commit")
        try:
            v = store.commit({"frontier": other}, deltas={"seen": delta})
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup("telemetry-commit")) == 2
        m = store.manifest(v)
        assert m["deltas"] == {"seen": 1}
        assert m["tables"] == ["frontier", "seen"]
        for t in ("frontier", "seen"):
            d = os.path.join(store.root, f"v{v}", t)
            on_disk = sum(
                os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
                if f.endswith(".parquet")
            )
            assert m["bytes"][t] == on_disk > 0


class TestCrawlDelay:
    def test_robots_crawl_delay_caps_rate(self, spark, tmp_path):
        """robots.txt Crawl-delay overrides a looser operator budget:
        delay=1s -> 1 req/s across the host, split over buckets."""
        from edgar_crawler_spark.frontier.fetch import (
            RobotsPolicy, effective_budget,
        )

        robots = RobotsPolicy("User-agent: *\nCrawl-delay: 1\n")
        assert robots.crawl_delay() == 1.0
        assert effective_budget(10.0, robots) == 1.0
        # stricter operator budget wins the other way
        assert effective_budget(0.5, robots) == 0.5
        assert effective_budget(10.0, None) == 10.0
        assert effective_budget(10.0, RobotsPolicy("User-agent: *\n")) == 10.0

        job = CrawlJob(
            spark,
            SnapshotStore(str(tmp_path / "cd")),
            n_buckets=2,
            wave_size=10,
            host_budget_per_sec=10.0,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
            robots=robots,
        )
        job.run(_frontier_df(spark, 12), max_waves=1)
        log = job.pages().select("host_bucket", "sched_ts").toPandas()
        # 1 req/s over 2 buckets -> 0.5 req/s per bucket -> >= 2s gaps
        for _, grp in log.groupby("host_bucket"):
            ts = sorted(grp.sched_ts)
            gaps = [b - a for a, b in zip(ts, ts[1:])]
            assert all(g >= 2.0 - 1e-6 for g in gaps[1:] + ([gaps[0]] if len(gaps) > 1 else gaps[:1]))

    def test_request_rate_fallback(self):
        from edgar_crawler_spark.frontier.fetch import RobotsPolicy

        r = RobotsPolicy("User-agent: *\nRequest-rate: 2/10\n")
        assert r.crawl_delay() == 5.0


class TestRealPaceEndToEnd:
    def test_wall_time_matches_host_budget(self, spark):
        """VERDICT r02 #7: end-to-end rate-cap equality. With
        real_pace=True the fetch stage SLEEPS to its politeness
        schedule, so the wave's wall-clock time must equal
        ~n_urls/host_budget (the north-rule politeness story), and
        the buckets must run CONCURRENTLY (sequential buckets would
        double it). Budget math itself is covered elsewhere; this
        asserts the wall clock.

        n=30 urls, budget 10/s over 2 buckets (5/s each, burst 1):
        perfectly balanced -> (15-1)/5 = 2.8 s = ~n/budget. The
        bucket split is hash-determined, so bounds derive from the
        ACTUAL max bucket size; sequential execution would take the
        SUM over buckets — the upper bound excludes it.
        """
        import time

        from edgar_crawler_spark.frontier.fetch import fetch_wave

        n, budget, buckets = 30, 10.0, 2
        wave = assign_waves(_frontier_df(spark, n), n_buckets=buckets,
                            wave_size=n).cache()
        sizes = {r.host_bucket: r.cnt
                 for r in wave.groupBy("host_bucket").count()
                 .withColumnRenamed("count", "cnt").collect()}
        rate = budget / buckets
        expect = (max(sizes.values()) - 1) / rate       # paced, parallel
        sequential = sum((c - 1) / rate for c in sizes.values())
        assert expect < sequential  # the test can tell the two apart

        t0 = time.monotonic()
        rows = fetch_wave(
            wave, host_budget_per_sec=budget, n_buckets=buckets,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
            real_pace=True,
        ).collect()
        wall = time.monotonic() - t0
        wave.unpersist()

        assert len(rows) == n and all(r.status == "ok" for r in rows)
        # paced: wall >= schedule of the largest bucket
        assert wall >= expect - 0.05
        # concurrent + no stragglers: well under the sequential sum,
        # with slack for task launch + python-worker spin-up
        assert wall < min(sequential, expect + 2.5)
        # and ~n/budget when balanced (schedule says so too)
        sched = max(r.sched_ts for r in rows)
        assert abs(sched - expect) < 1e-6
