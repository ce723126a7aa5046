"""Workload definitions, input materialisation and the measured pipeline.

A pipeline follows `jobs/crawl_job.py --extract-out`: `CrawlJob.run`
from the seed to an empty frontier, then `extract_items_job(job.pages())`
written as parquet. Every input is generated from the workload seed; the
program under test only ever sees the generated frontier, store and
transport.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from edgar_crawler_spark.frontier.crawler import FRONTIER_COLS, CrawlJob
from edgar_crawler_spark.frontier.fetch import RobotsPolicy, SimulatedTransport
from edgar_crawler_spark.frontier.state import SnapshotStore
from edgar_crawler_spark.operators import extract_job as extract_mod
from edgar_crawler_spark.synth import frontier_df


@dataclass(frozen=True)
class Workload:
    name: str
    n_urls: int                 # generated frontier rows
    nominal_s: float            # typical pipeline time on 4 cores
    wave_size: int              # URLs per host bucket per wave
    n_buckets: int = 4
    host_budget_per_sec: float = 10.0
    preseen_pct: int = 0        # share of the frontier already in `seen`
    ledger_filler: int = 0      # extra seen URLs that are not in the frontier
    transient_pct: int = 10     # SimulatedTransport failure plan
    permanent_pct: int = 0
    robots_txt: str | None = None
    requeue: bool = False       # crawl, requeue_failed(), crawl again
    extract_repeats: int = 7    # extract phases after each untraced pipeline

    def transport_factory(self, seed: int):
        # a partial of the program's own class pickles by reference, so
        # executors rebuild the same transport without the benchmark code
        return functools.partial(
            SimulatedTransport, seed=seed,
            transient_pct=self.transient_pct, permanent_pct=self.permanent_pct,
        )

    def robots(self) -> RobotsPolicy | None:
        return RobotsPolicy(self.robots_txt) if self.robots_txt else None

    def crawl_job(self, spark, store: SnapshotStore, seed: int) -> CrawlJob:
        return CrawlJob(
            spark, store,
            n_buckets=self.n_buckets,
            wave_size=self.wave_size,
            host_budget_per_sec=self.host_budget_per_sec,
            transport_factory=self.transport_factory(seed),
            robots=self.robots(),
        )


WORKLOADS = {
    w.name: w
    for w in (
        # bloom idle: per-wave fixed cost, commit, company merge, fetch and
        # extraction dominate; 4 buckets x 180 gives 3 waves for any seed
        Workload(
            name="crawl_fresh",
            n_urls=1800, wave_size=180, nominal_s=18.0, extract_repeats=4,
        ),
        # bloom on: resume over a pre-seeded ledger; the bloom build, the
        # probe over the ledger and the seen rewrite dominate; 600 new urls
        # in 2 waves
        Workload(
            name="recrawl_resume",
            n_urls=6000, wave_size=105, nominal_s=14.0,
            preseen_pct=90, ledger_filler=250_000,
        ),
        # retries, backoff and the robots gate dominate the fetch loop, and
        # requeue_failed re-reads state through the all-versions pages() union
        Workload(
            name="requeue_flaky",
            n_urls=1000, wave_size=350, nominal_s=14.0,
            transient_pct=30, permanent_pct=5,
            robots_txt="User-agent: *\nDisallow: /Archives/edgar/data/9\n"
                       "Crawl-delay: 1\n",
            requeue=True,
        ),
    )
}


@dataclass
class Inputs:
    """Materialised workload input under one directory."""

    frontier_path: str
    store_template: str | None = None   # pre-seeded store (resume only)
    ledger_path: str | None = None      # the pre-seeded `seen` table


def _filler_urls(spark, n: int, seed: int):
    """Seen-ledger URLs in EDGAR's shape that no frontier row can match:
    the accession's middle field is 99, and the generator only emits
    10..24 there."""
    cik = (F.col("id") * 7919 + seed) % 9_999_000 + 1000
    acc = F.concat(
        F.lpad(((F.col("id") * 104_729 + seed) % 10**10).cast("string"), 10, "0"),
        F.lit("-99-"),
        F.lpad((F.col("id") % 1_000_000).cast("string"), 6, "0"),
    )
    return spark.range(n).select(
        F.concat(
            F.lit("https://www.sec.gov/Archives/edgar/data/"),
            cik.cast("string"), F.lit("/"), acc, F.lit(".txt"),
        ).alias("url")
    )


def materialize(spark, wl: Workload, seed: int, dest: str) -> Inputs:
    """Write the workload input under `dest`: the frontier parquet, and
    for a resume workload a store committed through SnapshotStore.commit
    with the pre-seeded seen ledger (snapshot v1, exactly what `seed()`
    would commit, but with a non-empty `seen`)."""
    frontier_path = os.path.join(dest, "frontier")
    frontier_df(spark, seed, wl.n_urls).write.mode("overwrite").parquet(frontier_path)
    if not wl.preseen_pct:
        return Inputs(frontier_path)
    frontier = spark.read.parquet(frontier_path).select(*FRONTIER_COLS)
    # exactly preseen_pct of the frontier, picked by a seeded hash order
    urls = sorted(
        (r["url"] for r in frontier.select("url").collect()),
        key=lambda u: hashlib.blake2b(f"{seed}|{u}".encode(), digest_size=8).digest(),
    )
    preseen = spark.createDataFrame(
        [(u,) for u in urls[: len(urls) * wl.preseen_pct // 100]], "url string")
    ledger = preseen.unionByName(_filler_urls(spark, wl.ledger_filler, seed))
    store_dir = os.path.join(dest, "store")
    store = SnapshotStore(store_dir)
    v = store.commit({"frontier": frontier, "seen": ledger}, summary={"stage": "seed"})
    return Inputs(
        frontier_path, store_template=store_dir,
        ledger_path=os.path.join(store_dir, f"v{v}", "seen"),
    )


@dataclass
class PipelineRun:
    store_dir: str
    extract_dir: str
    pipeline_s: float = 0.0
    crawl_s: float = 0.0
    extract_s: float = 0.0
    first_wave_s: float = 0.0
    wave_s: list[float] = field(default_factory=list)
    requeued: int = 0
    repeat_extract_s: list[float] = field(default_factory=list)
    repeat_dirs: list[str] = field(default_factory=list)


def run_pipeline(spark, wl: Workload, seed: int, inputs: Inputs,
                 store_dir: str, extract_dir: str, tracer) -> PipelineRun:
    """One closed-loop pipeline: crawl to an empty frontier, then extract.

    The timed region starts at the `CrawlJob.run` call and ends when the
    extracted parquet is written. `tracer.span` is a no-op when untraced."""
    if inputs.store_template:
        shutil.copytree(inputs.store_template, store_dir)
    store = SnapshotStore(store_dir)
    job = wl.crawl_job(spark, store, seed)
    res = PipelineRun(store_dir, extract_dir)

    waves: list[tuple[float, float]] = []
    inner = job.run_wave

    def timed_wave():
        t = time.perf_counter()
        out = inner()
        if out is not None:
            waves.append((t, time.perf_counter()))
        return out

    job.run_wave = timed_wave
    frontier = None if inputs.store_template else spark.read.parquet(inputs.frontier_path)

    with tracer.span("pipeline"):
        t0 = time.perf_counter()
        with tracer.span("crawl"):
            job.run(frontier)
            first_end = waves[0][1] if waves else time.perf_counter()
            if wl.requeue:
                res.requeued = job.requeue_failed()
                job.run()
        t1 = time.perf_counter()
        with tracer.span("extract"):
            # looked up on the module at call time so a traced run's
            # wrapper is the one called
            extracted = extract_mod.extract_items_job(job.pages())
            extracted.write.mode("overwrite").parquet(extract_dir)
        t2 = time.perf_counter()

    res.pipeline_s = t2 - t0
    res.crawl_s = t1 - t0
    res.extract_s = t2 - t1
    res.first_wave_s = first_end - t0
    res.wave_s = [e - s for s, e in waves]
    return res


def repeat_extract(spark, wl: Workload, seed: int, res: PipelineRun) -> None:
    """Run the extract phase again over the finished store, once per
    `wl.extract_repeats`, each into its own directory `<extract_dir>-r<i>`,
    and append each phase time to `res.repeat_extract_s`.

    The extract phase of a short pipeline lasts about a second, so a
    single sample carries any second-long stall of the host whole; the
    median of several does not. `pipeline_s` keeps the pipeline's own,
    first and coldest, extraction."""
    job = wl.crawl_job(spark, SnapshotStore(res.store_dir), seed)
    for i in range(wl.extract_repeats):
        dest = f"{res.extract_dir}-r{i}"
        t = time.perf_counter()
        extract_mod.extract_items_job(job.pages()).write.mode("overwrite").parquet(dest)
        res.repeat_extract_s.append(time.perf_counter() - t)
        res.repeat_dirs.append(dest)
