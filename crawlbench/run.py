"""Crawl -> extract benchmark for `CrawlJob` and `extract_items_job`.

    python3 crawlbench/run.py --workload crawl_fresh --seed 1 --seconds 10 --trace 0

One closed-loop client: a single driver process on local[k], k = the
cores this process may use, runs round(seconds / the workload's nominal
pipeline time) pipelines back to back, at least one; a fixed count keeps
the medians of different runs comparable. Each pipeline crawls a freshly
materialised input from seed to an empty frontier and then extracts every
page, as `jobs/crawl_job.py --extract-out` does. The output checker runs on every
pipeline after the timed region.

`--trace 0` prints the end-to-end metrics; `--trace 1` is a separate
traced run that prints the per-layer metrics (see tracing.py). The last
stdout line is one JSON object: correct, attempted, failed, metrics.
Results and the span dump go to `.crawlbench_out/` under the checkout.
Exit status: 0 when every check passed, 1 on a violation or run error,
2 when the program under test is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPEATS = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "pipeline_s": "s",
    "crawl_urls_per_s": "1/s",
    "extract_filings_per_s": "1/s",
    "wave_s_p50": "s",
    "first_wave_s": "s",
    "store_bytes_per_page_byte": "ratio",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file Spark and its Python workers write inside `work`,
    and let executors import the program from the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    paths = [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [str(ROOT), str(HERE)]


def start_spark(work: Path, cores: int, trace: bool):
    from edgar_crawler_spark.session import get_spark

    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="crawlbench", cores=cores, extra_conf=conf)


def warm_python_workers(spark, cores: int) -> None:
    def ident(batches):
        yield from batches

    spark.range(0, 4 * cores, 1, cores).mapInPandas(ident, "id long").count()


def stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it started) to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if proc.stdin:
        proc.stdin.close()
    proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "edgar_crawler_spark" / "frontier" / "crawler.py").is_file():
        print(f"crawlbench: no program sources under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".crawlbench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out_dir = ROOT / ".crawlbench_out"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        return run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.sync()  # finish the deletes here, not in the next run's timed region


def run(args, work: Path, out_dir: Path) -> int:
    import checker
    import stats
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    trace = bool(args.trace)

    t0 = time.perf_counter()
    spark = start_spark(work, cores, trace)
    try:
        warm_python_workers(spark, cores)
        session_s = time.perf_counter() - t0

        materialise_s, inputs = [], None
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            inputs = workloads.materialize(spark, wl, args.seed, str(work / f"input{i}"))
            materialise_s.append(time.perf_counter() - t)

        n_pipelines = max(1, round(args.seconds / wl.nominal_s))

        tracer = tracing.Tracer(spark.sparkContext) if trace else tracing.NullTracer()
        if trace:
            tracer.install()
        runs, error = [], None
        os.sync()  # flush set-up writes so their writeback does not land in the timed region
        t_meas = time.perf_counter()
        try:
            for i in range(n_pipelines):
                runs.append(workloads.run_pipeline(
                    spark, wl, args.seed, inputs,
                    str(work / f"store{i}"), str(work / f"extract{i}"), tracer))
                if not trace:
                    workloads.repeat_extract(spark, wl, args.seed, runs[-1])
        except Exception:  # noqa: BLE001 - a run error is a reported failure
            error = traceback.format_exc()
            print(error, file=sys.stderr)
        finally:
            if trace:
                tracer.unpatch()
        measure_s = time.perf_counter() - t_meas
        rss_mb = (stats.vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
                  + stats.vm_hwm_kb()) / 1024

        expect = checker.build_expectation(spark, wl, args.seed, inputs)
        outputs, violations = [], []
        for r in runs:  # only pipelines that returned; one that raised is not here
            o = checker.collect_outputs(spark, r, expect, inputs.ledger_path)
            outputs.append(o)
            violations += checker.check(expect, o)
            violations += checker.check_repeats(spark, r.repeat_dirs, o.extracted)
        probes = tracing.run_probes(spark, tracer, runs) if trace and outputs else None
        check_s = time.perf_counter() - t_meas - measure_s
    finally:
        stop_spark(spark)
    print(f"crawlbench: phases session {session_s:.1f}s, materialise "
          f"{sum(materialise_s):.1f}s, measure {measure_s:.1f}s, check {check_s:.1f}s, "
          f"total {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    attempted = len(expect.inputs) * (len(runs) + (1 if error else 0))
    failed = checker.failed_count(violations) + (1 if error else 0)
    for url, msg in violations[:20]:
        print(f"crawlbench: VIOLATION {url or '-'}: {msg}", file=sys.stderr)

    result = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "pipelines": len(runs), "cores": cores}
    if outputs:
        e2e = end_to_end(runs, outputs, session_s, materialise_s, rss_mb, stats)
        result["end_to_end"] = e2e
        result["pipeline_runs"] = [
            {k: v for k, v in vars(r).items() if not k.endswith(("_dir", "_dirs"))}
            for r in runs]
    result["failed_share"] = failed / attempted
    metrics = {}
    if trace and outputs:
        log = tracing.EventLog(tracing.find_event_log(str(work / "eventlog")))
        layers, jobs_by_span = tracing.reduce_layers(tracer, log, runs, outputs, probes, cores)
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in layers.items()}
        spans_path = out_dir / f"{wl.name}-seed{args.seed}-spans.json"
        out_dir.mkdir(exist_ok=True)
        spans_path.write_text(json.dumps(tracer.dump(jobs_by_span), indent=1))
        result["span_dump"] = str(spans_path.relative_to(ROOT))
        untraced = out_dir / f"{wl.name}-seed{args.seed}-trace0.json"
        if untraced.is_file():
            base = json.loads(untraced.read_text()).get("end_to_end", {}).get("pipeline_s")
            if base:
                result["tracing_overhead_s"] = layers["trace.pipeline_s"][0] - base["value"]
    elif outputs:
        metrics = result["end_to_end"]

    out_dir.mkdir(exist_ok=True)
    (out_dir / f"{wl.name}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(result | {"per_layer" if trace else "metrics": metrics}, indent=1))
    for name, m in metrics.items():
        print(f"crawlbench: {name} = {m['value']:.6g} {m['unit']}")
    print("crawlbench: " + json.dumps({k: v for k, v in result.items() if k != "end_to_end"}))
    correct = not violations and error is None and bool(outputs)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def end_to_end(runs, outputs, session_s, materialise_s, rss_mb, stats) -> dict:
    med = stats.median
    resolved, page_bytes, store_bytes, filings = [], [], [], []
    for r, o in zip(runs, outputs):
        resolved.append(len({p["url"] for p in o.pages}))
        page_bytes.append(sum(p["fetched_bytes"] for p in o.pages))
        store_bytes.append(stats.dir_bytes(r.store_dir))
        filings.append(len(o.extracted))
    values = {
        "setup_s": session_s + med(materialise_s),
        "pipeline_s": med(r.pipeline_s for r in runs),
        "crawl_urls_per_s": med(n / r.crawl_s for n, r in zip(resolved, runs)),
        # over the repeats; a traced run has none, only the pipeline's own
        "extract_filings_per_s": med(n / s for n, r in zip(filings, runs)
                                     for s in r.repeat_extract_s or [r.extract_s]),
        "wave_s_p50": med(w for r in runs for w in r.wave_s),
        "first_wave_s": med(r.first_wave_s for r in runs),
        "store_bytes_per_page_byte": med(s / b for s, b in zip(store_bytes, page_bytes)),
        "peak_rss_mb": rss_mb,
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
