"""Self-test of the benchmark's own machinery.

    python3 crawlbench/selftest.py

Unit checks of the percentile, self-time and /proc helpers, then tiny
copies of the workloads on local[2]: each must pass the output checker,
and the checker must reject a planted double fetch, a missing URL and a
wrong items map. The tiny fresh crawl also runs traced, to check the
event-log reduction. Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import copy
import dataclasses
import os
import shutil
import statistics
import sys
from pathlib import Path

import run

FAILURES: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(f"{'ok  ' if cond else 'FAIL'} {what}")
    if not cond:
        FAILURES.append(what)


def unit_checks(stats) -> None:
    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    expect(stats.median(vals) == 3.0, "median of an odd sample")
    expect(stats.median([1, 2, 3, 4]) == 2.5, "median of an even sample")
    expect(stats.median(vals) == statistics.median(vals), "median matches statistics.median")
    expect(stats.self_time(0, 10, []) == 10, "self time without children")
    expect(stats.self_time(0, 10, [(1, 3), (2, 5), (8, 12)]) == 4,
           "self time with overlapping and overhanging children")
    expect(stats.self_time(0, 10, [(11, 12)]) == 10, "children outside the span")
    expect(stats.merged_cover([(0, 1), (0.5, 2), (3, 4)]) == 3, "interval union")
    own = stats.vm_hwm_kb()
    expect(own > 1000, f"VmHWM of this process read from /proc ({own} kB)")
    expect(stats.vm_hwm_kb(os.getpid()) >= own, "VmHWM by pid")


def plant_checks(checker, exp, out) -> None:
    ok_pages = [p for p in out.pages if p["status"] == "ok"]
    victim = ok_pages[0]["url"]

    doubled = copy.deepcopy(out)
    doubled.pages.append(dict(ok_pages[0], version=ok_pages[0]["version"] + 1))
    bad = checker.check(exp, doubled)
    expect(any(u == victim for u, _ in bad), "checker rejects a planted double fetch")

    missing = copy.deepcopy(out)
    missing.pages = [p for p in missing.pages if p["url"] != victim]
    bad = checker.check(exp, missing)
    expect(any(u == victim and "no pages row" in m for u, m in bad),
           "checker rejects a missing url")

    wrong = copy.deepcopy(out)
    target = wrong.sample[0]
    key = sorted(target["items"])[0]
    target["items"] = dict(target["items"], **{key: target["items"][key] + " tampered"})
    bad = checker.check(exp, wrong)
    expect(any(u == target["url"] and "items" in m for u, m in bad),
           "checker rejects a wrong items map")


def repeat_checks(spark, checker, workloads, wl, r, out) -> None:
    workloads.repeat_extract(spark, dataclasses.replace(wl, extract_repeats=2), 5, r)
    expect(len(r.repeat_extract_s) == 2, "two repeated extract phases timed")
    expect(not checker.check_repeats(spark, r.repeat_dirs, out.extracted),
           "repeated extractions match the pipeline's")
    short = spark.read.parquet(r.repeat_dirs[1]).limit(len(out.extracted) - 1)
    short.write.mode("overwrite").parquet(r.extract_dir + "-r9")
    bad = checker.check_repeats(spark, [r.repeat_dirs[0], r.extract_dir + "-r9"], out.extracted)
    expect(len(bad) == 1 and "-r9" in bad[0][1] and f"({len(out.extracted) - 1}," in bad[0][1],
           f"checker rejects a repeated extraction with a missing row {bad}")


def tiny_runs(work: Path) -> None:
    import checker
    import tracing
    import workloads

    spark = run.start_spark(work, cores=2, trace=True)
    try:
        sizes = {"crawl_fresh": dict(n_urls=60, wave_size=10),
                 "recrawl_resume": dict(n_urls=80, wave_size=10, ledger_filler=500),
                 "requeue_flaky": dict(n_urls=80, wave_size=30)}
        for name, size in sizes.items():
            wl = dataclasses.replace(workloads.WORKLOADS[name], **size)
            inputs = workloads.materialize(spark, wl, 5, str(work / f"{name}-input"))
            traced = name == "crawl_fresh"
            tracer = tracing.Tracer(spark.sparkContext) if traced else tracing.NullTracer()
            if traced:
                tracer.install()
            try:
                r = workloads.run_pipeline(spark, wl, 5, inputs, str(work / f"{name}-store"),
                                           str(work / f"{name}-extract"), tracer)
            finally:
                if traced:
                    tracer.unpatch()
            exp = checker.build_expectation(spark, wl, 5, inputs)
            out = checker.collect_outputs(spark, r, exp, inputs.ledger_path)
            bad = checker.check(exp, out)
            expect(not bad, f"tiny {name} passes the checker {bad[:3]}")
            expect(len(r.wave_s) >= 1, f"tiny {name} ran {len(r.wave_s)} waves")
            if name == "recrawl_resume":
                expect(bool(exp.preseen), "tiny recrawl_resume has pre-seen urls")
            if name == "requeue_flaky":
                expect(bool(exp.denied) and bool(exp.permanent),
                       "tiny requeue_flaky has robots-denied and failing urls")
                repeat_checks(spark, checker, workloads, wl, r, out)
            if traced:
                plant_checks(checker, exp, out)
                probes = tracing.run_probes(spark, tracer, [r])
                trace_state = (tracer, r, out, probes)
    finally:
        run.stop_spark(spark)

    tracer, r, out, probes = trace_state
    log = tracing.EventLog(tracing.find_event_log(str(work / "eventlog")))
    layers, _ = tracing.reduce_layers(tracer, log, [r], [out], probes, cores=2)
    expect(layers["seen.python_eval_nodes"][0] == 3, "three ArrowEvalPython nodes in filter_unseen")
    expect(layers["crawler.spark_jobs_per_wave"][0] > 0, "event-log jobs attributed to waves")
    expect(layers["seen.probe_rows"][0] > 0, "maybe_seen rows read from SQL metrics")
    expect(layers["fetch.task_s"][0] > 0, "fetch stages found by operator scope")
    expect(layers["fetch.urls"][0] == 60, "fetch.urls counts every input url")


def main() -> int:
    run.prepare_env(work := run.ROOT / ".crawlbench_work" / f"selftest-{os.getpid()}")
    try:
        import stats

        unit_checks(stats)
        tiny_runs(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(FAILURES)} failed" if FAILURES else "all checks passed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
