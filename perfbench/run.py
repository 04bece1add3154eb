"""Benchmark entry point: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 20 --trace 0

Run from the repository root. The inputs are drawn from the seed and
written first. Set-up (Spark start, store/index build, one warm-up
request of every kind) is timed as ``setup_s``; then the client issues a
fixed number of request cycles back to back, as many as ``--seconds``
holds at the workload's nominal cycle length, and every answer is
checked against a reference that does not use the engine. The last
stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) of
``BENCHMARK.json``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import gc
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the pinned deployment: one local executor with a slot per CPU this
# process may run on, and a heap cap well below a 16 GB machine's memory
DRIVER_MEM = "4g"

# span name -> per-layer metric: seconds of self time per request
SPAN_METRICS = {
    "index.probe": "index.probe_plan_s",
    "rowset.combine": "rowset.combine_plan_s",
    "rowset.exec": "rowset.exec_s",
    "costats": "costats.s",
    "knn": "knn.s",
    "segments.smart_filter": "segments.smart_filter_s",
    "segments.write_segment": "segments.write_segment_s",
    "segments.compact_tiered": "segments.compact_tiered_s",
    "segments.delete": "segments.delete_s",
    "segments.open_point": "segments.open_point_s",
    "fsio": "fsio.s",
    "textstats.quality_filter": "textstats.quality_filter_s",
    "dedup.minhash": "dedup.minhash_s",
    "search.bm25": "search.bm25_s",
    "search.phrase": "search.phrase_s",
    "search.hybrid": "search.hybrid_s",
    "similarity.ann": "similarity.ann_s",
}


def _pin_environment(run_dir: str) -> None:
    """Spark runs local[nproc] with a bounded heap, and keeps every file it
    writes (shuffle, spill, temp) inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # every JVM (the launcher too): temp files in the run directory,
            # and no perf-data file in the system temp directory
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--conf spark.ui.showConsoleProgress=false",
                    f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
                    "pyspark-shell",
                ]
            ),
        }
    )


class Pass:
    """Latencies and verdicts of one run of the request loop.

    A workload's operation (the unit its latency is reported for) is one
    request (lookup) or the requests of one batch (ingest): an operation
    takes the summed latency of its requests and fails if any of them
    fails."""

    def __init__(self):
        self.latencies: list[float] = []
        self.kinds: list[str] = []
        self.units: list = []
        self.op_ids: set[int] = set()
        self.failed_units: set = set()
        self.problems: list[str] = []

    def op_latencies(self) -> list[float]:
        by: dict = {}
        for u, t in zip(self.units, self.latencies):
            by[u] = by.get(u, 0.0) + t
        return list(by.values())

    @property
    def attempted(self) -> int:
        return len(set(self.units))

    @property
    def failed(self) -> int:
        return len(self.failed_units)


def quiesce(spark) -> None:
    """Collect the JVM's and Python's garbage, so every measured pass starts
    from the same heap state and no pass pays for its predecessor's."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def cycles_for(seconds: float, cycle_s: float) -> int:
    """Cycles per pass: as many nominal cycles as ``seconds`` holds, at
    least one. The count depends on the arguments only, never on how fast
    the program runs, so every run of a command measures the same work."""
    return max(1, round(seconds / cycle_s))


def run_requests(requests, tracer, counters, op_ids) -> Pass:
    """Closed loop: each request is issued when the previous one has been
    answered and checked. Only the engine call is timed. ``requests``
    yields (operation, kind, do, check); both callables run before the
    next item is drawn, so they may close over the generator's state."""
    res = Pass()
    for unit, kind, do, check in requests:
        op_id = next(op_ids)
        tracer.op_id = op_id
        group = counters.begin(op_id) if counters else None
        ans, problem = None, None
        t0 = time.perf_counter()
        try:
            with tracer.span("op." + kind):
                ans = do()
        except Exception:  # a failed request is counted, never retried
            problem = traceback.format_exc(limit=4)
        dt = time.perf_counter() - t0
        tracer.op_id = None
        if counters:
            counters.end(group)
        if problem is None:
            try:
                problem = check(ans)
            except Exception:
                problem = "check raised: " + traceback.format_exc(limit=4)
        res.latencies.append(dt)
        res.kinds.append(kind)
        res.units.append(unit)
        res.op_ids.add(op_id)
        if problem is not None:
            res.failed_units.add(unit)
            res.problems.append(f"{kind}#{op_id}: {problem}")
    return res


def per_kind_p50(p: Pass) -> dict:
    by = {}
    for k, t in zip(p.kinds, p.latencies):
        by.setdefault(k, []).append(t)
    return {k: round(statistics.median(v), 4) for k, v in sorted(by.items())}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["lookup", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, run_dir, out_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir, out_dir) -> int:
    from pyspark import SparkContext

    from iodf_spark.session import get_spark
    from iodf_spark.sources import fsio

    from perfbench import gen, stats
    from perfbench.tracing import CountingBackend, SparkCounters, Tracer, vm_hwm_mb

    if args.workload == "lookup":
        from perfbench.lookup import Lookup as Workload
    else:
        from perfbench.ingest import Ingest as Workload

    params = gen.GenParams()
    cycles = cycles_for(args.seconds, Workload.CYCLE_S)
    print(f"# perfbench workload={args.workload} seed={args.seed} cycles={cycles} "
          f"params={json.dumps(dataclasses.asdict(params), sort_keys=True)}", flush=True)
    tracer = Tracer(enabled=bool(args.trace))
    counting = CountingBackend(fsio.get_backend(), tracer)
    traced_fsio = fsio.using_backend(counting) if args.trace else contextlib.nullcontext()
    wl = Workload(run_dir, args.seed, params, tracer, cycles)
    wl.generate()

    t_start = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t_start
    gateway = SparkContext._gateway
    jvm = gateway.proc
    op_ids = itertools.count()
    try:
        with traced_fsio:
            wl.build(spark)
            passes = [run_requests(wl.warmup(), tracer, None, op_ids)]
        setup_s = time.perf_counter() - t_start
        wl.reset_pass()
        quiesce(spark)
        if args.trace:
            # the traced pass takes the place of an untraced run's pass, so
            # its layers are measured in the same state; an untraced pass of
            # fresh requests of the same mix follows, for the overhead
            counters = SparkCounters(spark.sparkContext)
            counting.calls.clear()
            with fsio.using_backend(counting):
                traced = run_requests(wl.requests(0), tracer, counters, op_ids)
            traced_work = wl.pass_metrics()
            wl.reset_pass()
            tracer.enabled = False
            quiesce(spark)
            main_pass = run_requests(wl.requests(1), tracer, None, op_ids)
            passes.append(traced)
        else:
            main_pass = run_requests(wl.requests(0), tracer, None, op_ids)
        amp = wl.amp
        work = wl.pass_metrics()
        passes.append(main_pass)
        peak_rss = vm_hwm_mb(jvm.pid) + vm_hwm_mb()
    finally:
        wl.close()
        spark.stop()
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()

    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    for p in passes:
        for problem in p.problems:
            print("FAILED " + problem, file=sys.stderr)
    print("# requests " + json.dumps([[u, k, round(t, 4)] for u, k, t in zip(
        main_pass.units, main_pass.kinds, main_pass.latencies)]), file=sys.stderr)
    lat = stats.latency_summary(main_pass.op_latencies())
    t = lat["tail"]
    print(f"# operations={main_pass.attempted} requests={len(main_pass.latencies)} p50={lat['op_p50_s']:.4f}s "
          f"tail=p{t['percentile']} ({t['beyond']} of {t['samples']} samples beyond) "
          f"failed_share={failed / attempted:.4f} setup_s={setup_s:.2f} "
          f"per_kind_p50={json.dumps(per_kind_p50(main_pass))} "
          f"op_latencies={json.dumps([round(x, 4) for x in main_pass.op_latencies()])}", flush=True)

    if not args.trace:
        metrics = end_to_end_metrics(setup_s, lat, amp)
    else:
        metrics = layer_metrics(
            tracer, counters, counting, traced, main_pass, work, traced_work,
            start_s, failed / attempted, peak_rss,
        )
        tracer.dump(
            os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "params": dataclasses.asdict(params),
             "spark": dict(counters.totals), "fsio_calls": dict(counting.calls),
             "metrics": {k: v for k, (v, _) in metrics.items()}},
        )
    print(stats.result_line(failed == 0, attempted, failed, metrics), flush=True)
    return 0


# the metrics a run prints, with their units (BENCHMARK.json lists the same)
E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "write_amp": "ratio",
    "space_amp": "ratio",
}
LAYER_UNITS = {
    **{name: "s/op" for name in SPAN_METRICS.values()},
    "session.start_s": "s",
    "session.jobs_per_op": "jobs/op",
    "session.stages_per_op": "stages/op",
    "session.tasks_per_op": "tasks/op",
    "session.failed_tasks": "count",
    "segments.open_index_s": "s",
    "fsio.calls_per_op": "calls/op",
    "access.pruned_share": "share",
    "access.index_path_share": "share",
    "segments.bytes_rewritten": "B",
    "segments.segment_count": "count",
    "segments.store_bytes": "B",
    "dedup.dup_recall": "share",
    "recall_at_10": "share",
    "rows_per_s": "rows/s",
    "failed_share": "share",
    "peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def _with_units(values: dict, units: dict) -> dict:
    if values.keys() != units.keys():
        raise KeyError(f"metrics {sorted(values.keys() ^ units.keys())} not both defined and measured")
    return {k: (values[k], units[k]) for k in units}


def end_to_end_metrics(setup_s: float, lat: dict, amp: dict) -> dict:
    return _with_units(
        {
            "setup_s": setup_s,
            "op_p50_s": lat["op_p50_s"],
            "op_tail_s": lat["op_tail_s"],
            "ops_per_s": lat["ops_per_s"],
            **amp,
        },
        E2E_UNITS,
    )


def layer_metrics(tracer, counters, counting, traced, untraced, work, traced_work,
                  start_s, failed_share, peak_rss) -> dict:
    """Per-layer metrics of the traced pass. A layer's ``_s`` metric is its
    spans' self time per operation; a layer a workload does not use reads
    0. ``untraced``, the pass after it, gives ``rows_per_s`` and the
    baseline of the tracing overhead."""
    n = traced.attempted
    self_t = tracer.self_times(traced.op_ids)
    setup_t = tracer.self_times({None})
    tot = counters.totals
    values = {name: self_t.get(span, 0.0) / n for span, name in SPAN_METRICS.items()}
    values.update(
        {
            "session.start_s": start_s,
            "session.jobs_per_op": tot["jobs"] / n,
            "session.stages_per_op": tot["stages"] / n,
            "session.tasks_per_op": tot["tasks"] / n,
            "session.failed_tasks": tot["failed_tasks"],
            "segments.open_index_s": setup_t.get("segments.open_index", 0.0),
            "fsio.calls_per_op": sum(counting.calls.values()) / n,
            "rows_per_s": work.get("input_rows", 0) / sum(untraced.latencies),
            "failed_share": failed_share,
            "peak_rss_mb": peak_rss,
            "trace.overhead_s": statistics.median(traced.op_latencies())
            - statistics.median(untraced.op_latencies()),
        }
    )
    for k in ("access.pruned_share", "access.index_path_share", "segments.bytes_rewritten",
              "segments.segment_count", "segments.store_bytes", "dedup.dup_recall",
              "recall_at_10"):
        values[k] = traced_work.get(k, 0)
    return _with_units(values, LAYER_UNITS)


if __name__ == "__main__":
    sys.exit(main())
