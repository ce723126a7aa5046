"""Wave-loop crawl driver: schedule → fetch → commit, resumable.

One `run()` reproduces the reference's crawl entry point
(/root/reference/download_filings.py:54-224) as an iterative batch
loop — the Structured-Streaming dual is foreachBatch over the frontier
table, but an explicit loop keeps each wave = one atomic snapshot,
which is the exact-resume contract of the north rule.

Per wave:
 1. reload state from the last committed snapshot (lineage stays one
    wave deep — iterative Spark jobs must cut lineage or plans grow
    unboundedly),
 2. URL-seen: sharded bloom pre-filter + exact anti-join (seen.py),
    persisted once per wave. The bloom is the one this job grew through
    the last snapshot when it committed that snapshot itself; otherwise
    it is built from `seen`, sized for `seen` plus the frontier,
 3. priority + politeness waves (priority.py — salted host buckets),
 4. fetch the front wave via applyInPandas (fetch.py),
 5. derive per-partition lineage metrics and merge the company dim,
 6. commit {frontier, pages, metrics, company_info} and the fetched
    URLs as a `seen` delta atomically (state.py), then keep a copy of
    the bloom with those URLs ORed in for the next wave. Kill the
    process anywhere; rerun resumes from the last commit with no
    double-fetch and no missed URL.

Failed-after-retries URLs are committed to `seen` with status=failed
in the pages table (so a bounded run terminates); the reference's
"rerun to retry failures" idiom is `requeue_failed()`.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bloom import ShardedBloom
from .canon import canonicalize_url
from .company import enrich_pages, merge_company_info
from .fetch import RobotsPolicy, SimulatedTransport, fetch_wave
from .priority import assign_waves
from .seen import build_sharded_bloom, filter_unseen
from .state import SnapshotStore

FRONTIER_COLS = ["url", "cik", "company", "form_type", "filing_date", "accession"]

METRICS_SCHEMA_DOC = (
    "wave, host_bucket, partition_id, n_urls, n_ok, n_failed, "
    "sum_attempts, sum_bytes, t_first, t_last, urls_per_sec"
)


@dataclass
class CrawlResult:
    waves_run: int
    n_fetched: int
    n_failed: int
    versions: list[int] = field(default_factory=list)


class CrawlJob:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        n_buckets: int = 8,
        wave_size: int = 64,
        host_budget_per_sec: float = 10.0,
        bloom_shards: int = 16,
        bloom_fpp: float = 0.01,
        transport_factory: Callable[[], SimulatedTransport] | None = None,
        robots: RobotsPolicy | None = None,
        company_transport_factory: Callable[[], object] | None = None,
    ):
        self.spark = spark
        self.store = store
        self.n_buckets = n_buckets
        self.wave_size = wave_size
        self.host_budget_per_sec = host_budget_per_sec
        self.bloom_shards = bloom_shards
        self.bloom_fpp = bloom_fpp
        self.transport_factory = transport_factory
        self.robots = robots
        self.company_transport_factory = company_transport_factory
        # the bloom mirroring `seen` at the version this job last
        # committed, and how many more keys it was sized for
        self._bloom: ShardedBloom | None = None
        self._bloom_version: int | None = None
        self._bloom_room = 0

    # -- state ---------------------------------------------------------

    def seed(self, frontier: DataFrame) -> int:
        """Snapshot v1: canonicalized deduped frontier, empty seen."""
        canon = (
            frontier.withColumn("url", canonicalize_url("url"))
            .dropDuplicates(["url"])
            .select(*FRONTIER_COLS)
        )
        empty_seen = self.spark.createDataFrame([], "url string")
        return self.store.commit(
            {"frontier": canon, "seen": empty_seen},
            summary={"stage": "seed"},
        )

    def _load_state(self) -> tuple[int, DataFrame, DataFrame] | None:
        v = self.store.latest()
        if v is None:
            return None
        frontier = self.store.read(self.spark, "frontier", v)
        seen = self.store.read(self.spark, "seen", v)
        return v, frontier, seen

    def _bloom_for(
        self, version: int, frontier: DataFrame, seen: DataFrame
    ) -> ShardedBloom:
        """The bloom this job grew through `version` if one of its waves
        committed it; else a fresh build from `seen`. The build is sized
        for `seen` plus the whole frontier: every url a later wave adds
        comes from that frontier, and a commit that grows the frontier
        or removes seen urls (`requeue_failed`, a stream merge, another
        process) is not a wave of this job, so it forces a rebuild and a
        stale filter is never read."""
        if self._bloom is not None and self._bloom_version == version:
            return self._bloom
        n_seen = seen.count()
        per_shard = max(
            64, math.ceil((n_seen + frontier.count()) / self.bloom_shards)
        )
        self._bloom = build_sharded_bloom(
            seen, n_shards=self.bloom_shards,
            expected_per_shard=per_shard, fpp=self.bloom_fpp,
        )
        self._bloom_version = version
        self._bloom_room = per_shard * self.bloom_shards - n_seen
        return self._bloom

    # -- one wave ------------------------------------------------------

    def run_wave(self) -> tuple[int, int, int] | None:
        """Run exactly one wave. Returns (n_ok, n_failed, version) or
        None if the frontier is exhausted."""
        state = self._load_state()
        if state is None:
            raise RuntimeError("no snapshot; call seed(frontier) first")
        v, frontier, seen = state
        if not frontier.head(1):
            return None

        bloom = self._bloom_for(v, frontier, seen)
        # persisted: waves, next frontier and commit all read `unseen`,
        # and each read of an unpersisted one re-runs the bloom probe
        unseen = filter_unseen(frontier, seen, bloom).persist()
        fetched = None
        try:
            # A merged/replayed frontier can consist ENTIRELY of
            # already-seen urls; without this check run() would loop
            # forever committing empty waves (frontier non-empty but no
            # fetchable work). The count also materializes `unseen`.
            if unseen.count() == 0:
                return None
            waved = assign_waves(unseen, self.n_buckets, self.wave_size)
            front = waved.filter(F.col("wave") == 0)

            fetched = fetch_wave(
                front,
                host_budget_per_sec=self.host_budget_per_sec,
                n_buckets=self.n_buckets,
                transport_factory=self.transport_factory,
                robots=self.robots,
            ).cache()

            metrics = (
                fetched.withColumn("_pid", F.spark_partition_id())
                .groupBy("wave", "host_bucket")
                .agg(
                    F.min("_pid").alias("partition_id"),
                    F.count(F.lit(1)).alias("n_urls"),
                    F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias(
                        "n_ok"
                    ),
                    F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias(
                        "n_failed"
                    ),
                    F.sum("attempts").alias("sum_attempts"),
                    F.sum("fetched_bytes").alias("sum_bytes"),
                    F.min("sched_ts").alias("t_first"),
                    F.max("sched_ts").alias("t_last"),
                )
                .withColumn(
                    "urls_per_sec",
                    F.col("n_urls")
                    / F.greatest(F.col("t_last") - F.col("t_first"), F.lit(1e-9)),
                )
            )

            # lazy company-info dim upsert (download_filings.py:572-646):
            # only ciks NOT already in the dim are "fetched"; the merged
            # dim rides the same atomic commit as the rest of the state.
            dim = self.store.read_any(self.spark, "company_info")
            next_version = (self.store.latest() or 0) + 1
            new_dim = merge_company_info(
                dim, fetched.select("cik"), next_version,
                self.company_transport_factory,
            )

            done_urls = fetched.select("url")
            # next frontier = this round's UNSEEN minus this wave's
            # fetches: already-seen rows drain out of the frontier here
            # instead of being carried (and re-bloom-filtered) forever.
            # Not `wave > 0`: a recomputed assign_waves may break its
            # row_number ties differently from the fetched wave.
            new_frontier = unseen.join(done_urls, on="url", how="left_anti")

            # the one action over the cached `fetched`: it materializes
            # the cache before the concurrent commit writes read it
            done = fetched.agg(
                F.count_if(F.col("status") == "ok").alias("n_ok"),
                F.count_if(F.col("status") != "ok").alias("n_failed"),
                F.collect_list("url").alias("urls"),
            ).first()
            n_ok, n_failed = int(done["n_ok"]), int(done["n_failed"])
            version = self.store.commit(
                {
                    "frontier": new_frontier.select(*FRONTIER_COLS),
                    "pages": fetched,
                    "metrics": metrics,
                    "company_info": new_dim,
                },
                summary={
                    "stage": "wave",
                    "n_ok": n_ok,
                    "n_failed": n_failed,
                    "n_buckets": self.n_buckets,
                    "wave_size": self.wave_size,
                    "host_budget_per_sec": self.host_budget_per_sec,
                },
                deltas={"seen": done_urls.coalesce(1)},
            )
            # every fetched url was unseen, so the ledger grew by
            # exactly these; past the room the fpp would degrade, so the
            # next wave rebuilds instead (a guard: the frontier it was
            # sized for bounds them)
            self._bloom = None
            if len(done["urls"]) <= self._bloom_room:
                self._bloom = bloom.union(done["urls"])  # `bloom` stays as probed
                self._bloom_version = version
                self._bloom_room -= len(done["urls"])
            return n_ok, n_failed, version
        finally:
            unseen.unpersist()
            if fetched is not None:
                fetched.unpersist()

    # -- full run ------------------------------------------------------

    def run(self, frontier: DataFrame | None = None, max_waves: int | None = None) -> CrawlResult:
        """Crawl to exhaustion (or `max_waves`). If the store already
        has snapshots, `frontier` is ignored and the run RESUMES."""
        if self.store.latest() is None:
            if frontier is None:
                raise ValueError("fresh store needs a frontier")
            self.seed(frontier)
        result = CrawlResult(waves_run=0, n_fetched=0, n_failed=0)
        while max_waves is None or result.waves_run < max_waves:
            out = self.run_wave()
            if out is None:
                break
            n_ok, n_failed, version = out
            result.waves_run += 1
            result.n_fetched += n_ok
            result.n_failed += n_failed
            result.versions.append(version)
        return result

    # -- outputs -------------------------------------------------------

    def pages(self) -> DataFrame:
        """Union of all committed wave pages (all snapshots)."""
        dfs = [
            self.store.read(self.spark, "pages", v)
            for v in self.store.versions()
        ]
        dfs = [d for d in dfs if d is not None]
        if not dfs:
            raise RuntimeError("no pages committed yet")
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def metrics(self) -> DataFrame:
        dfs = [
            self.store.read(self.spark, "metrics", v)
            for v in self.store.versions()
        ]
        dfs = [d for d in dfs if d is not None]
        if not dfs:
            raise RuntimeError("no metrics committed yet")
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def company_info(self) -> DataFrame:
        """The company-info dim from the newest snapshot carrying it
        (grow-only across waves; survives kill/resume)."""
        dim = self.store.read_any(self.spark, "company_info")
        if dim is None:
            raise RuntimeError("no company_info committed yet")
        return dim

    def enriched_pages(self) -> DataFrame:
        """pages with missing company fields filled from the dim
        (download_filings.py:648-656)."""
        return enrich_pages(self.pages(), self.company_info())

    def requeue_failed(self) -> int:
        """Reference 'rerun to retry failed' idiom: move failed URLs
        from seen back into the frontier in a new snapshot."""
        v = self.store.latest()
        if v is None:
            return 0
        pages = self.pages()
        # pages() is the all-versions union: a url that failed once and
        # succeeded after an earlier requeue has BOTH rows. Only urls
        # with no 'ok' row anywhere may be requeued (no-double-fetch).
        ever_ok = pages.filter(F.col("status") == "ok").select("url")
        failed = (
            pages.filter(F.col("status") != "ok")
            .select(*FRONTIER_COLS)
            .dropDuplicates(["url"])
            .join(ever_ok, on="url", how="left_anti")
        )
        n = failed.count()
        if n == 0:
            return 0
        frontier = self.store.read(self.spark, "frontier", v)
        seen = self.store.read(self.spark, "seen", v)
        self.store.commit(
            {
                "frontier": frontier.unionByName(failed).dropDuplicates(["url"]),
                "seen": seen.join(failed.select("url"), "url", "left_anti"),
            },
            summary={"stage": "requeue_failed", "n": n},
        )
        return n
