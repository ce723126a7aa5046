"""Output checker: runs after the timed region, on every pipeline.

`collect_outputs` reads what a pipeline left behind (all snapshot
versions of the store, and the extracted parquet) with a few small Spark
jobs. `check` is pure Python over those collected rows, so the self-test
can plant faults in them. Expectations come from the generated inputs
and the simulated network's failure plan, not from the crawler.
"""

from __future__ import annotations

import os
import random
from collections import defaultdict
from dataclasses import dataclass, field
from urllib import robotparser

from pyspark.sql import functions as F

from edgar_crawler_spark.extraction import extract_filing
from edgar_crawler_spark.frontier.fetch import MAX_RETRIES
from edgar_crawler_spark.frontier.state import SnapshotStore

SAMPLE_SIZE = 12     # pages whose items are recomputed in-process
GAP_EPS = 1e-6       # float slack on the politeness gap (virtual seconds)
META_NONE_KEYS = (
    "Period of Report", "SIC", "State of Inc", "State location",
    "Fiscal Year End", "html_index", "htm_file_link", "complete_text_file_link",
)


@dataclass
class Expectation:
    inputs: dict[str, dict]              # url -> generated frontier row
    preseen: set[str]                    # urls already in the seen ledger
    denied: set[str]                     # robots-disallowed urls
    permanent: set[str]                  # urls the transport never serves
    passes: int                          # crawl passes (2 with a requeue)
    min_gap: float                       # 1 / per-bucket request rate
    transport: object                    # to rebuild the expected bodies
    sample_seed: int


@dataclass
class Outputs:
    pages: list[dict]                    # every pages row of every version
    frontier_left: int
    seen_missing: int                    # expected seen urls absent
    seen_extra: int                      # seen urls nobody put there
    seen_dups: int
    company_ciks: list[str]
    extracted: list[dict]                # url, n_items, quarantined
    sample: list[dict] = field(default_factory=list)  # page + items


def build_expectation(spark, wl, seed: int, inputs) -> Expectation:
    frontier = spark.read.parquet(inputs.frontier_path)
    rows = {r["url"]: r.asDict() for r in frontier.collect()}
    preseen: set[str] = set()
    if inputs.ledger_path:
        ledger = spark.read.parquet(inputs.ledger_path)
        preseen = {
            r["url"] for r in
            frontier.join(ledger, "url", "left_semi").select("url").collect()
        }
    transport = wl.transport_factory(seed)()
    budget = wl.host_budget_per_sec
    denied: set[str] = set()
    if wl.robots_txt:
        parser = robotparser.RobotFileParser()
        parser.parse(wl.robots_txt.splitlines())
        denied = {u for u in rows if not parser.can_fetch("*", u)}
        delay = parser.crawl_delay("*")
        if delay:
            budget = min(budget, 1.0 / float(delay))
    permanent = {
        u for u in rows
        if u not in denied and transport.planned_failures(u) > MAX_RETRIES
    }
    return Expectation(
        inputs=rows, preseen=preseen, denied=denied, permanent=permanent,
        passes=2 if wl.requeue else 1,
        min_gap=wl.n_buckets / budget,
        transport=transport, sample_seed=seed,
    )


def collect_outputs(spark, run, expect: Expectation, ledger_path: str | None) -> Outputs:
    store = SnapshotStore(run.store_dir)
    versions = store.versions()
    page_dfs = [
        spark.read.parquet(os.path.join(run.store_dir, f"v{v}", "pages"))
        .withColumn("version", F.lit(v))
        for v in versions
        if os.path.isdir(os.path.join(run.store_dir, f"v{v}", "pages"))
    ]
    pages_all = page_dfs[0]
    for d in page_dfs[1:]:
        pages_all = pages_all.unionByName(d)
    pages = [
        r.asDict() for r in pages_all.select(
            "url", "cik", "form_type", "status", "attempts", "host_bucket",
            "sched_ts", "fetched_bytes", "version",
        ).collect()
    ]

    latest = versions[-1]
    frontier_left = store.read(spark, "frontier", latest).count()

    expected_seen = pages_all.select("url")
    if ledger_path:
        expected_seen = expected_seen.unionByName(spark.read.parquet(ledger_path))
    final = store.read(spark, "seen", latest).groupBy("url").agg(
        F.count(F.lit(1)).alias("n")
    )
    exp = expected_seen.distinct().withColumn("e", F.lit(1))
    agg = final.join(exp, "url", "full_outer").agg(
        F.sum(F.when(F.col("n").isNull(), 1).otherwise(0)).alias("missing"),
        F.sum(F.when(F.col("e").isNull(), 1).otherwise(0)).alias("extra"),
        F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0)).alias("dups"),
    ).collect()[0]

    dim = store.read_any(spark, "company_info")
    company_ciks = [r["cik"] for r in dim.select("cik").collect()] if dim else []

    extracted_df = spark.read.parquet(run.extract_dir)
    extracted = [
        r.asDict() for r in extracted_df.select(
            "url", "n_items", F.col("payload_json").isNull().alias("quarantined")
        ).collect()
    ]

    ok_urls = sorted({p["url"] for p in pages if p["status"] == "ok"})
    picked = random.Random(expect.sample_seed).sample(
        ok_urls, min(SAMPLE_SIZE, len(ok_urls))
    )
    sample = []
    if picked:
        items = {
            r["url"]: r["items"] for r in
            extracted_df.filter(F.col("url").isin(picked)).select("url", "items").collect()
        }
        for r in pages_all.filter(
            F.col("url").isin(picked) & (F.col("status") == "ok")
        ).select("url", "html", "cik", "company", "form_type", "filing_date",
                 "filename").collect():
            d = r.asDict()
            d["items"] = items.get(d["url"])
            sample.append(d)

    return Outputs(
        pages=pages, frontier_left=frontier_left,
        seen_missing=int(agg["missing"] or 0), seen_extra=int(agg["extra"] or 0),
        seen_dups=int(agg["dups"] or 0), company_ciks=company_ciks,
        extracted=extracted, sample=sample,
    )


def expected_items(page: dict) -> dict:
    """The item map `extract_filing` gives for one page row, computed in
    this process with the page's own metadata."""
    md = {
        "CIK": page["cik"], "Company": page["company"], "Type": page["form_type"],
        "Date": page["filing_date"], "filename": page["filename"],
        **{k: None for k in META_NONE_KEYS},
    }
    result = extract_filing(bytes(page["html"]), md) or {}
    return {
        k: v for k, v in result.items()
        if (k.startswith(("item_", "part_")) or k == "SIGNATURE") and isinstance(v, str)
    }


def check(expect: Expectation, out: Outputs) -> list[tuple[str | None, str]]:
    """Every violation as (url or None for a global one, message)."""
    bad: list[tuple[str | None, str]] = []
    by_url: dict[str, list[dict]] = defaultdict(list)
    for p in out.pages:
        by_url[p["url"]].append(p)

    for url in expect.inputs:
        rows = by_url.get(url, [])
        statuses = sorted(r["status"] for r in rows)
        if url in expect.preseen:
            if rows:
                bad.append((url, "pre-seen url was fetched"))
        elif not rows:
            bad.append((url, "input url has no pages row"))
        elif url in expect.denied:
            if statuses != ["robots_denied"] * expect.passes:
                bad.append((url, f"robots-disallowed url has rows {statuses}"))
        elif url in expect.permanent:
            if statuses != ["failed"] * expect.passes:
                bad.append((url, f"permanently failing url has rows {statuses}"))
            elif any(r["attempts"] != MAX_RETRIES + 1 for r in rows):
                bad.append((url, "permanently failing url without all attempts"))
        elif statuses != ["ok"]:
            bad.append((url, f"url should be fetched once, has rows {statuses}"))
    for url in by_url.keys() - expect.inputs.keys():
        bad.append((url, "pages row for a url not in the input"))

    if out.frontier_left:
        bad.append((None, f"final frontier has {out.frontier_left} rows"))
    if out.seen_missing or out.seen_extra or out.seen_dups:
        bad.append((None, f"final seen != ledger + pages (missing {out.seen_missing}, "
                          f"extra {out.seen_extra}, duplicate {out.seen_dups})"))

    slots: dict[tuple, list[float]] = defaultdict(list)
    for p in out.pages:
        if p["status"] != "robots_denied":
            slots[(p["version"], p["host_bucket"])].append(p["sched_ts"])
    for key, ts in slots.items():
        ts.sort()
        gaps = [b - a for a, b in zip(ts, ts[1:])]
        if gaps and min(gaps) < expect.min_gap - GAP_EPS:
            bad.append((None, f"politeness gap {min(gaps):.4f}s < "
                              f"{expect.min_gap:.4f}s in (version, bucket) {key}"))

    if len(out.company_ciks) != len(set(out.company_ciks)):
        bad.append((None, "company_info has duplicate ciks"))
    if set(out.company_ciks) != {p["cik"] for p in out.pages}:
        bad.append((None, "company_info ciks != page ciks"))

    if len(out.extracted) != len(out.pages):
        bad.append((None, f"{len(out.extracted)} extracted rows for "
                          f"{len(out.pages)} page rows"))
    ok_urls = {p["url"] for p in out.pages if p["status"] == "ok"}
    for e in out.extracted:
        if e["url"] in ok_urls and not e["n_items"]:
            bad.append((e["url"], "ok page extracted no items"))

    for page in out.sample:
        url = page["url"]
        row = expect.inputs.get(url)
        if row is not None:
            body = expect.transport.get(url, row["form_type"], MAX_RETRIES + 1)
            if bytes(page["html"]) != body:
                bad.append((url, "fetched body differs from the served body"))
        if page["items"] != expected_items(page):
            bad.append((url, "extracted items differ from extract_filing"))
    return bad


def check_repeats(spark, dirs, extracted) -> list[tuple[str | None, str]]:
    """Each repeated extraction of a pipeline's pages must write the rows
    and item counts the pipeline's own extraction wrote. One Spark job
    for all repeats."""
    if not dirs:
        return []
    want = (len(extracted), sum(e["n_items"] for e in extracted))
    got = {
        r["d"]: (r["rows"], r["items"]) for r in
        spark.read.parquet(*dirs)
        .withColumn("d", F.regexp_extract(F.input_file_name(), r"-(r\d+)/", 1))
        .groupBy("d").agg(F.count(F.lit(1)).alias("rows"), F.sum("n_items").alias("items"))
        .collect()
    }
    bad = []
    for d in dirs:
        have = got.get(d.rsplit("-", 1)[1], (0, 0))
        if have != want:
            bad.append((None, f"repeated extraction {os.path.basename(d)} wrote "
                              f"(rows, items) {have}, the pipeline's wrote {want}"))
    return bad


def failed_count(violations) -> int:
    """Distinct urls with a violation, plus one per global violation."""
    urls = {u for u, _ in violations if u is not None}
    return len(urls) + sum(1 for u, _ in violations if u is None)
