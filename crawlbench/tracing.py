"""Traced run: spans around the program's public calls, Spark's event
log attributed to those spans, and the per-layer metrics reduced from
both.

Spans are recorded from the benchmark's own files by wrapping public
callables for the duration of the measured pipelines; nothing in the
program changes. Each span sets a Spark job group `cb<id>`, so every job
in the event log names the innermost span that submitted it.

The crawl's layers are lazy: `filter_unseen`, `assign_waves`,
`fetch_wave` and `merge_company_info` only build plans, so their spans
are short and their work runs inside the action spans (`count`, `head`,
`collect`, `parquet`) that consume them. The event-log stages of those
actions carry that time; `fetch.task_s` finds the fetch UDF's stages by
their operator scope.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict

from stats import median, self_time

GROUP_PREFIX = "cb"
PROBE_GROUP = "crawlbench-probe"
ACTION_SPANS = ("DataFrame.count", "DataFrame.head", "DataFrame.collect",
                "DataFrameWriter.parquet")


class NullTracer:
    """Untraced runs: spans cost nothing."""

    def span(self, name):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.captures: dict[str, list] = defaultdict(list)

    @contextlib.contextmanager
    def span(self, name):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid):
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if sid is None else f"{GROUP_PREFIX}{sid}")
        self.sc.setLocalProperty(
            "spark.job.description", None if sid is None else self.spans[sid]["name"])

    def patch(self, owner, attr: str, name: str, capture=None):
        """Replace `owner.attr` with a span-recording wrapper. `capture`
        (span, args, kwargs, result) may keep what the probes need."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if capture is not None:
                    capture(rec, args, kwargs, out)
                return out

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unpatch(self):
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def install(self):
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from edgar_crawler_spark.frontier import crawler
        from edgar_crawler_spark.frontier.state import SnapshotStore
        from edgar_crawler_spark.operators import extract_job

        def on_wave(rec, args, kwargs, out):
            rec["committed"] = out is not None

        def on_bloom(rec, args, kwargs, out):
            self.captures["bloom"].append({"span": rec["id"], "seen": args[0], "bloom": out})

        def on_filter(rec, args, kwargs, out):
            self.captures["filter"].append({
                "span": rec["id"], "frontier": args[0], "seen": args[1],
                "bloom": args[2], "unseen": out,
            })

        self.patch(crawler.CrawlJob, "run_wave", "CrawlJob.run_wave", on_wave)
        for m in ("seed", "requeue_failed", "pages"):
            self.patch(crawler.CrawlJob, m, f"CrawlJob.{m}")
        for m in ("commit", "read"):
            self.patch(SnapshotStore, m, f"SnapshotStore.{m}")
        # crawler.py imports these by name, so they are patched in its
        # namespace; patching their home modules would miss the calls
        caps = {"build_sharded_bloom": on_bloom, "filter_unseen": on_filter}
        for f in ("build_sharded_bloom", "filter_unseen", "assign_waves",
                  "fetch_wave", "merge_company_info"):
            self.patch(crawler, f, f, caps.get(f))
        self.patch(extract_job, "extract_items_job", "extract_items_job")
        for m in ("count", "head", "collect"):
            self.patch(DataFrame, m, f"DataFrame.{m}")
        self.patch(DataFrameWriter, "parquet", "DataFrameWriter.parquet")

    # -- span tree helpers ------------------------------------------------

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s["id"])
        return kids

    def subtree(self, sid: int, kids=None) -> list[int]:
        kids = kids if kids is not None else self.children()
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(kids.get(cur, ()))
        return out

    def dump(self, jobs_by_span) -> list[dict]:
        kids = self.children()
        out = []
        for s in self.spans:
            child = [(self.spans[c]["start"], self.spans[c]["end"]) for c in kids.get(s["id"], ())]
            out.append({
                **s,
                "duration_s": s["end"] - s["start"],
                "self_s": self_time(s["start"], s["end"], child),
                "jobs": sorted(jobs_by_span.get(s["id"], [])),
            })
        return out


# -- Spark event log ------------------------------------------------------


class EventLog:
    """The parts of an uncompressed Spark event log the reducer needs."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_scopes: dict[int, set[str]] = defaultdict(set)
        self.stage_tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.accum: dict[int, float] = defaultdict(float)
        self.python_eval_accums: dict[int, set[int]] = defaultdict(set)
        files = [path] if os.path.isfile(path) else sorted(glob.glob(os.path.join(path, "events_*")))
        for f in files:
            with open(f) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, e: dict):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            sql = props.get("spark.sql.execution.id")
            self.jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "sql": int(sql) if sql is not None else None,
                "stages": list(e["Stage IDs"]),
            }
            for st in e["Stage IDs"]:
                self.stage_job.setdefault(st, jid)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            for rdd in info.get("RDD Info", []):
                scope = rdd.get("Scope")
                if scope:
                    self.stage_scopes[info["Stage ID"]].add(json.loads(scope).get("name", ""))
        elif kind == "SparkListenerTaskEnd":
            t = self.stage_tasks[e["Stage ID"]]
            t["tasks"] += 1
            if e["Task End Reason"].get("Reason") != "Success":
                t["failed"] += 1
                return
            m = e.get("Task Metrics") or {}
            t["run_ms"] += m.get("Executor Run Time", 0)
            t["cpu_ns"] += m.get("Executor CPU Time", 0)
            t["gc_ms"] += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            t["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Name") == "number of output rows":
                    try:
                        self.accum[a["ID"]] += float(a.get("Update") or 0)
                    except (TypeError, ValueError):
                        pass
        elif kind.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            self._plan(e["executionId"], e.get("sparkPlanInfo") or {})

    def _plan(self, exec_id: int, node: dict):
        if node.get("nodeName") == "ArrowEvalPython" and "maybe_seen" in node.get("simpleString", ""):
            for m in node.get("metrics", []):
                if m.get("name") == "number of output rows":
                    self.python_eval_accums[exec_id].add(m["accumulatorId"])
        for c in node.get("children", []):
            self._plan(exec_id, c)

    def probe_rows(self, exec_ids) -> float:
        """Rows through the `maybe_seen` UDF in these SQL executions."""
        ids = set()
        for x in exec_ids:
            ids |= self.python_eval_accums.get(x, set())
        return sum(self.accum.get(i, 0.0) for i in ids)


def find_event_log(directory: str) -> str:
    found = sorted(glob.glob(os.path.join(directory, "*")))
    if not found:
        raise RuntimeError(f"no Spark event log under {directory}")
    return found[-1]


# -- per-layer reduction --------------------------------------------------


def _per_pipeline(total: float, n: int) -> float:
    return total / max(1, n)


def _wave_median(values) -> float:
    vals = list(values)
    return median(vals) if vals else 0.0


def reduce_layers(tracer: Tracer, log: EventLog, runs, outputs, probes, cores: int):
    """Per-layer metrics of one traced run (all pipelines of the run), as
    {name: (value, unit)}, and the job ids attributed to each span."""
    n = len(runs)
    kids = tracer.children()
    spans = tracer.spans
    by_group = {f"{GROUP_PREFIX}{s['id']}": s["id"] for s in spans}
    jobs_by_span: dict[int, list[int]] = defaultdict(list)
    for jid, j in log.jobs.items():
        sid = by_group.get(j["group"])
        if sid is not None:
            jobs_by_span[sid].append(jid)

    def sub_jobs(sid):
        return [j for s in tracer.subtree(sid, kids) for j in jobs_by_span.get(s, ())]

    def job_stats(jobs):
        agg: dict[str, float] = defaultdict(float)
        stages = {st for j in jobs for st in log.jobs[j]["stages"] if log.stage_job.get(st) == j}
        for st in stages:
            if st in log.stage_tasks:
                agg["stages"] += 1
                for k, v in log.stage_tasks[st].items():
                    agg[k] += v
        return agg

    def dur(s):
        return s["end"] - s["start"]

    def selft(s):
        return self_time(s["start"], s["end"],
                         [(spans[c]["start"], spans[c]["end"]) for c in kids.get(s["id"], ())])

    waves = [s for s in spans if s["name"] == "CrawlJob.run_wave" and s.get("committed")]
    wave_ids = {s["id"] for s in waves}

    def in_wave(s):
        cur = s["parent"]
        while cur is not None:
            if cur in wave_ids:
                return cur
            cur = spans[cur]["parent"]
        return None

    def per_wave(name, f=dur):
        acc = defaultdict(float)
        for s in spans:
            if s["name"] == name:
                w = in_wave(s)
                if w is not None:
                    acc[w] += f(s)
        return [acc.get(w["id"], 0.0) for w in waves]

    wave_d = [dur(w) for w in waves]
    third = max(1, len(wave_d) // 3)
    first_t, last_t = wave_d[:third], wave_d[-third:]

    commits = [s for s in spans if s["name"] == "SnapshotStore.commit" and in_wave(s) is not None]
    blooms = [s for s in spans if s["name"] == "build_sharded_bloom" and in_wave(s) is not None]
    pipelines = [s for s in spans if s["name"] == "pipeline"]
    extracts = [s for s in spans if s["name"] == "extract"]

    all_jobs = [j for p in pipelines for j in sub_jobs(p["id"])]
    total = job_stats(all_jobs)
    wall = sum(dur(p) for p in pipelines)

    # fetch UDF stages: grouped pandas map under a wave, outside the bloom build
    fetch_run_ms = 0.0
    bloom_span_ids = {i for b in blooms for i in tracer.subtree(b["id"], kids)}
    for w in waves:
        for j in sub_jobs(w["id"]):
            if by_group.get(log.jobs[j]["group"]) in bloom_span_ids:
                continue
            for st in log.jobs[j]["stages"]:
                if log.stage_job.get(st) == j and "FlatMapGroupsInPandas" in log.stage_scopes.get(st, ()):
                    fetch_run_ms += log.stage_tasks[st]["run_ms"]

    wave_sql = {log.jobs[j]["sql"] for w in waves for j in sub_jobs(w["id"])} - {None}
    extract_jobs = [j for e in extracts for j in sub_jobs(e["id"])]

    pages = [p for o in outputs for p in o.pages]
    wave_vers = [(o, v) for o in outputs for v in sorted({p["version"] for p in o.pages})]
    wave_urls, skews = [], []
    makespan = 0.0
    for o, v in wave_vers:
        per_bucket = defaultdict(int)
        last_ts = 0.0
        for p in o.pages:
            if p["version"] == v:
                per_bucket[p["host_bucket"]] += 1
                last_ts = max(last_ts, p["sched_ts"])
        wave_urls.append(sum(per_bucket.values()))
        skews.append(max(per_bucket.values()) / (sum(per_bucket.values()) / len(per_bucket)))
        makespan += last_ts

    fetched = [p for p in pages if p["status"] != "robots_denied"]
    attempts = sum(p["attempts"] for p in pages)
    ok = sum(1 for p in pages if p["status"] == "ok")
    extracted = [e for o in outputs for e in o.extracted]

    m = {
        "crawler.waves": (_per_pipeline(len(waves), n), "count"),
        "crawler.spark_jobs_per_wave": (_wave_median(len(sub_jobs(w["id"])) for w in waves), "count"),
        "crawler.run_wave_self_s": (_wave_median(selft(w) for w in waves), "s"),
        "crawler.wave_growth": (median(last_t) / median(first_t) if waves else 0.0, "ratio"),
        "crawler.actions_s": (_wave_median(
            sum(x) for x in zip(*[per_wave(a) for a in ACTION_SPANS])), "s"),
        "crawler.requeue_s": (_per_pipeline(
            sum(dur(s) for s in spans if s["name"] == "CrawlJob.requeue_failed"), n), "s"),
        "crawler.pages_union_versions": (probes["pages_union_versions"], "count"),
        "state.commit_s": (_wave_median(dur(s) for s in commits), "s"),
        "state.commit_jobs": (_wave_median(len(sub_jobs(s["id"])) for s in commits), "count"),
        "state.read_s": (_wave_median(per_wave("SnapshotStore.read")), "s"),
        "state.files_written": (probes["files_written"], "count"),
        **{f"state.bytes_written.{t}": (probes["bytes_written"][t], "bytes")
           for t in ("seen", "frontier", "pages", "metrics", "company_info")},
        "seen.bloom_build_s": (_wave_median(dur(s) for s in blooms), "s"),
        "seen.bloom_build_jobs": (_wave_median(len(sub_jobs(s["id"])) for s in blooms), "count"),
        "seen.bloom_keys": (probes["bloom_keys"], "count"),
        "seen.bloom_bytes": (probes["bloom_bytes"], "bytes"),
        "seen.python_eval_nodes": (probes["python_eval_nodes"], "count"),
        "seen.probe_rows": (log.probe_rows(wave_sql) / max(1, len(waves)), "count"),
        "seen.suspect_precision": (probes["suspect_precision"], "ratio"),
        "seen.observed_fpp": (probes["observed_fpp"], "ratio"),
        "priority.wave_urls": (_wave_median(wave_urls), "count"),
        "priority.bucket_skew": (_wave_median(skews), "ratio"),
        "fetch.urls": (_per_pipeline(len(pages), n), "count"),
        "fetch.attempts": (_per_pipeline(attempts, n), "count"),
        "fetch.retries": (_per_pipeline(sum(max(0, p["attempts"] - 1) for p in fetched), n), "count"),
        "fetch.ok": (_per_pipeline(ok, n), "count"),
        "fetch.failed": (_per_pipeline(sum(1 for p in pages if p["status"] == "failed"), n), "count"),
        "fetch.robots_denied": (_per_pipeline(len(pages) - len(fetched), n), "count"),
        "fetch.bytes": (_per_pipeline(sum(p["fetched_bytes"] for p in pages), n), "bytes"),
        "fetch.useful_ratio": (ok / attempts if attempts else 0.0, "ratio"),
        "fetch.task_s": (_per_pipeline(fetch_run_ms / 1000, n), "s"),
        "fetch.virtual_makespan_s": (_per_pipeline(makespan, n), "s"),
        "company.new_ciks": (_per_pipeline(sum(len(o.company_ciks) for o in outputs), n), "count"),
        "company.merge_s": (_per_pipeline(
            sum(dur(s) for s in spans if s["name"] == "merge_company_info"), n), "s"),
        "extract.filings": (_per_pipeline(len(extracted), n), "count"),
        "extract.items": (_per_pipeline(sum(e["n_items"] for e in extracted), n), "count"),
        "extract.quarantined": (_per_pipeline(sum(1 for e in extracted if e["quarantined"]), n), "count"),
        "extract.task_s": (_per_pipeline(job_stats(extract_jobs)["run_ms"] / 1000, n), "s"),
        "spark.jobs": (_per_pipeline(len(all_jobs), n), "count"),
        "spark.stages": (_per_pipeline(total["stages"], n), "count"),
        "spark.tasks": (_per_pipeline(total["tasks"], n), "count"),
        "spark.failed_tasks": (_per_pipeline(total["failed"], n), "count"),
        "spark.executor_run_s": (_per_pipeline(total["run_ms"] / 1000, n), "s"),
        "spark.executor_cpu_s": (_per_pipeline(total["cpu_ns"] / 1e9, n), "s"),
        "spark.gc_s": (_per_pipeline(total["gc_ms"] / 1000, n), "s"),
        "spark.shuffle_write_bytes": (_per_pipeline(total["shuffle_write"], n), "bytes"),
        "spark.shuffle_read_bytes": (_per_pipeline(total["shuffle_read"], n), "bytes"),
        "spark.spill_bytes": (_per_pipeline(total["spill"], n), "bytes"),
        "spark.idle_core_share": (
            1 - (total["run_ms"] / 1000) / (wall * cores) if wall else 0.0, "ratio"),
        "trace.pipeline_s": (_wave_median(dur(p) for p in pipelines), "s"),
        "trace.spans": (_per_pipeline(len(spans), n), "count"),
    }
    return m, jobs_by_span


# -- plan-shape and bloom-quality probes (own job group) ------------------


FPP_PROBE_KEYS = 20_000


def run_probes(spark, tracer: Tracer, runs) -> dict:
    """Counters read from outside the program after the pipelines ran,
    under their own job group so they never count as wave work."""
    from stats import dir_bytes, dir_files

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", PROBE_GROUP)
    sc.setLocalProperty("spark.job.description", PROBE_GROUP)
    try:
        filters = tracer.captures["filter"]
        plan = filters[0]["unseen"]._jdf.queryExecution().executedPlan().toString() if filters else ""
        eval_nodes = sum(1 for line in plan.splitlines() if "ArrowEvalPython" in line)

        keys, nbytes, fpps = [], [], []
        for cap in tracer.captures["bloom"]:
            k = cap["seen"].count()
            keys.append(k)
            nbytes.append(sum(len(b) for _, b in cap["bloom"].to_rows()))
            if k:
                probe = [f"https://probe.invalid/crawlbench/{i}.txt" for i in range(FPP_PROBE_KEYS)]
                fpps.append(float(cap["bloom"].might_contain_many(probe).sum()) / FPP_PROBE_KEYS)
        suspects = hits = 0
        for cap in filters:
            urls = [r["url"] for r in cap["frontier"].select("url").collect()]
            flags = cap["bloom"].might_contain_many(urls) if urls else []
            seen_urls = {
                r["url"] for r in cap["frontier"].select("url")
                .join(cap["seen"].select("url"), "url", "left_semi").collect()
            }
            for u, f in zip(urls, flags):
                if f:
                    suspects += 1
                    hits += u in seen_urls

        files = []
        tables = {t: [] for t in ("seen", "frontier", "pages", "metrics", "company_info")}
        union_versions = []
        for r in runs:
            vs = sorted(
                int(d[1:]) for d in os.listdir(r.store_dir)
                if d.startswith("v") and d[1:].isdigit()
                and os.path.isdir(os.path.join(r.store_dir, d, "pages"))
            )
            union_versions.append(len(vs))
            for v in vs:
                vdir = os.path.join(r.store_dir, f"v{v}")
                files.append(dir_files(vdir))
                for t in ("seen", "frontier", "pages", "metrics", "company_info"):
                    tables[t].append(dir_bytes(vdir, t) if os.path.isdir(os.path.join(vdir, t)) else 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return {
        "python_eval_nodes": eval_nodes,
        "bloom_keys": _wave_median(keys),
        "bloom_bytes": _wave_median(nbytes),
        "observed_fpp": _wave_median(fpps),
        "suspect_precision": hits / suspects if suspects else 0.0,
        "files_written": _wave_median(files),
        "bytes_written": {t: _wave_median(v) for t, v in tables.items()},
        "pages_union_versions": _wave_median(union_versions),
    }
