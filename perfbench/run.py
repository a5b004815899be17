#!/usr/bin/env python3
"""Benchmark of the MapReduce engine: two workloads, end-to-end and
per-layer metrics, output checks.

    python3 perfbench/run.py --workload catalog-cold --seed 1 --seconds 5 --trace 0

One process, one closed-loop client, one ``local[<cores>]`` session.
The run generates its inputs from ``--seed``, sets up (session start,
input staging, an unmeasured warm-up pass), then runs passes over
the workload's operations until ``--seconds`` have been measured, and
finally checks the outputs of the first pass. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``; the per-layer ones with ``--trace 1``).

With ``--trace 1`` passes alternate untraced and traced: per-layer
metrics come from the traced passes, the difference of the two kinds'
median wall times is reported as ``trace.overhead_s``, and the spans
of every operation are written to ``.perfbench_out/``.

Everything the run writes stays under the checkout (``.perfbench_work``
is removed at exit). Without the package next to this directory the
run exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: stop starting passes once this much of the run has gone (the run must
#: end well inside three minutes)
PASS_DEADLINE_S = 110.0
DRIVER_MEMORY = "1g"


def metric_units(kind: str) -> dict[str, str]:
    """``{name: unit}`` of BENCHMARK.json's ``end_to_end`` or
    ``per_layer`` metrics: the file is the one list of what is printed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: smallest inputs and one pass (smoke test)")
    p.add_argument("--corrupt", default=None, metavar="OP",
                   help="drop one row of OP's first-pass result before its check (smoke test)")
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run and its JVM write under ``work``, and
    let Spark's Python workers import the package."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM the run starts (Spark's launcher and driver): temp files
    # under work, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT, HERE]


def start_session(work: str, cores: int):
    from multithreaded_mapreduce_spark.session import get_spark

    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            # the engine's default (8g) let the heap keep growing through
            # the timed passes, so resident memory and the first pass's
            # time depended on when the JVM grew it; the workloads' heap
            # use peaks near 0.7 GB
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the session's JVM plus this process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def heap_peak_mb(spark) -> float:
    """Sum of the peak used sizes of the session JVM's heap memory pools."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(pool.getPeakUsage().getUsed() for pool in mgmt.getMemoryPoolMXBeans()
               if pool.getType().name() == "HEAP") / 2**20


def run_pass(ctx, workload, pass_no: int, traced: bool) -> tuple[list, float]:
    """One pass over the workload's operations; returns their records
    and the pass wall time (results go to ``ctx.results``)."""
    from spans import OpRecord, storage_mb
    from workloads import memo_counts, release

    from multithreaded_mapreduce_spark.plans import caching

    sc = ctx.spark.sparkContext
    ctx.pass_no, ctx.traced, ctx.results = pass_no, traced, {}
    recs = []
    t0 = time.perf_counter()
    for i, op in enumerate(workload.ops()):
        rec = OpRecord(op.name, pass_no, group=f"perfbench-{pass_no}-{i}", layer=op.layer)
        sc.setJobGroup(rec.group, op.name)
        hits0, misses0 = memo_counts()
        start = time.perf_counter()
        rec.spans["release"] = (start, start)
        try:
            release(ctx, op.cold)
            rec.spans["release"] = (start, time.perf_counter())
            result = op.run(ctx, rec)
        except Exception as e:  # a failed operation is counted, not fatal
            rec.error = f"{type(e).__name__}: {e}"[:400]
            result = None
        rec.spans["op"] = (start, time.perf_counter())
        hits1, misses1 = memo_counts()
        rec.memo_hits, rec.memo_misses = hits1 - hits0, misses1 - misses0
        if traced:
            rec.tracked_persists = caching.tracked_count()
            rec.storage_mb = storage_mb(ctx.spark)
        ctx.results[op.name] = result
        recs.append(rec)
    wall = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    return recs, wall


def request_latencies(passes: list[list], workload) -> list[float]:
    """Latency of every request of ``passes`` (lists of operation
    records) whose operations all succeeded: the sum of their latencies."""
    request_of = {op.name: op.request or op.name for op in workload.ops()}
    out = []
    for recs in passes:
        groups: dict[str, list] = {}
        for r in recs:
            groups.setdefault(request_of[r.name], []).append(r)
        out += [sum(r.latency_s for r in rs) for rs in groups.values() if not any(r.error for r in rs)]
    return out


def corrupt(result):
    import pyarrow as pa

    if not isinstance(result, pa.Table) or result.num_rows == 0:
        raise SystemExit("--corrupt needs an operation whose result is a non-empty table")
    return result.slice(0, result.num_rows - 1)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_launch = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    isolate(work)
    try:
        import spans
        import workloads as W  # imports the engine package
    except ImportError as e:
        print(f"perfbench: cannot import the engine package from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2
    tiny = args.scale == "tiny"
    workload = W.WORKLOADS[args.workload](args.seed, tiny=tiny)
    cores = len(os.sched_getaffinity(0))
    data_dir = os.path.join(work, "data")
    spark = None
    try:
        # ------------------------------------------------------- set-up
        # inputs first, then the session: each is timed on its own
        t_setup = time.perf_counter()
        inputs = workload.generate(data_dir)
        gen_s = time.perf_counter() - t_setup
        t = time.perf_counter()
        from multithreaded_mapreduce_spark.plans.registry import all_queries

        spark = start_session(work, cores)
        progress = spans.StreamProgress()
        spark.streams.addListener(progress)
        queries = all_queries()
        start_s = time.perf_counter() - t
        ctx = W.Ctx(spark, queries, data_dir, os.path.join(work, "out"), corpus=inputs.get("shape"))
        t = time.perf_counter()
        workload.spark_stage(ctx)
        stage_s = gen_s + time.perf_counter() - t

        # warm-up: one unmeasured pass, so the measured ones find the JIT,
        # the generated-code cache and the Python workers warm
        t = time.perf_counter()
        run_pass(ctx, workload, -1, traced=False)
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup

        # ------------------------------------------------ timed passes
        first_job, first_exec = spans.next_job_id(spark), spans.next_execution_id(spark)
        passes: list[tuple[list, float, bool]] = []
        first_results = None
        t_begin = time.perf_counter()
        # --trace 1 follows the first (checked) pass with traced,
        # untraced, traced passes: the untraced one sits between the two
        # traced ones, so a drift across the run cancels out of the
        # tracing overhead, and the first pass's one-time costs (memoized
        # plan decisions) stay out of it
        order = (False, True, False, True) if args.trace else (False,)
        fewest = 2 if args.trace else 1
        while True:
            traced = order[len(passes) % len(order)]
            recs, wall = run_pass(ctx, workload, len(passes), traced)
            if first_results is None:
                first_results = ctx.results
            passes.append((recs, wall, traced))
            done = len(passes) >= len(order) and \
                (tiny or time.perf_counter() - t_begin >= args.seconds)
            late = time.perf_counter() - t_launch + wall > PASS_DEADLINE_S
            if len(passes) >= fewest and (done or late):
                break
        spans.drain_listener_bus(spark)

        # ------------------------------------------------------ checks
        t_checks = time.perf_counter()
        ctx.pass_no, ctx.results = 0, first_results
        failed_ops = {(r.pass_no, r.name) for recs, _, _ in passes for r in recs if r.error}
        mismatches = [f"{r.name} (pass {r.pass_no}): {r.error}"
                      for recs, _, _ in passes for r in recs if r.error]
        for op in workload.ops():
            result = first_results.get(op.name)
            if op.check is None or result is None:
                continue
            if args.corrupt == op.name:
                result = corrupt(result)
            try:
                errs = op.check(ctx, result)
            except Exception as e:  # a check that cannot run fails its op
                errs = [f"{op.name}: check raised {type(e).__name__}: {e}"[:400]]
            if errs:
                failed_ops.add((0, op.name))
                mismatches += errs
        checks_s = time.perf_counter() - t_checks
        attempted = sum(len(recs) for recs, _, _ in passes)
        failed = len(failed_ops)

        # ----------------------------------------------------- metrics
        plain = [(recs, wall) for recs, wall, tr in passes if not tr]
        lat = request_latencies([recs for recs, _ in plain], workload)
        walls = [wall for _, wall in plain]
        e2e = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "query_p50_s": statistics.median(lat) if lat else 0.0,
            "peak_rss_mb": peak_rss_mb(spark),
        }
        # stream triggers go to the ingest operations (of every pass; the
        # traced metrics below read them too)
        ingest = [r for recs, _, _ in passes for r in recs if r.layer == "streaming"]
        spans.attribute(ingest, [], [], progress.events)
        trig = [ev for recs, _ in plain for r in recs for ev in r.triggers]
        trig_s = sum(ev["durations_ms"].get("triggerExecution", 0) for ev in trig) / 1e3
        print(f"workload={args.workload} seed={args.seed} cores={cores} passes={len(passes)} "
              f"ops={attempted} pass_walls_s={[round(w, 3) for _, w, _ in passes]}")
        print("inputs: " + json.dumps({k: v for k, v in inputs.items() if k != "shape"}))
        print(f"memory: heap pools' peak use {heap_peak_mb(spark):.1f} MB of a {DRIVER_MEMORY} heap")
        print(f"setup: inputs {gen_s:.3f} s, session {start_s:.3f} s, staging {stage_s - gen_s:.3f} s, "
              f"warm-up {warmup_s:.3f} s; "
              f"checks {checks_s:.3f} s")
        for r in plain[0][0]:
            print(f"  op {r.name:<30} {r.latency_s:8.3f} s  rows={r.result_rows}")
        print(f"  requests of the first pass (s): {[round(x, 3) for x in request_latencies([plain[0][0]], workload)]}")
        units = metric_units("end_to_end")
        for name, v in e2e.items():
            print(f"  {name:<18} {v:12.4f} {units[name]}")
        if len(lat) - int(0.9 * len(lat)) >= 10:
            print(f"  {'query_p90_s':<18} {statistics.quantiles(lat, n=10)[-1]:12.4f} s  (n={len(lat)})")
        else:
            print(f"  {'query_p90_s':<18} {'n/a':>12}    (n={len(lat)}: fewer than 10 samples beyond p90)")
        if trig:
            rows = sum(ev["rows"] for ev in trig)
            print(f"  {'stream_rows_per_s':<18} {rows / trig_s:12.1f} rows/s  ({len(trig)} triggers)")
        print(f"  {'failed_frac':<18} {failed / attempted:12.4f} ratio  ({failed}/{attempted})")
        for m in mismatches[:20]:
            print(f"  FAILED {m}")

        if not args.trace:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
        else:
            metrics = traced_metrics(spark, passes, progress, first_job, first_exec, cores, {
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "session.heap_peak_mb": heap_peak_mb(spark),
                "sources.stage_s": stage_s,
                "sources.input_bytes": float(inputs["bytes"]),
                "sources.input_rows": float(inputs["rows"]),
            }, args)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def traced_metrics(spark, passes, progress, first_job, first_exec, cores, setup, args) -> dict:
    """Per-layer metrics: the median over traced passes of each layer
    metric, plus set-up layers and the tracing overhead. Writes every
    operation's spans and breakdown to ``.perfbench_out/``."""
    import spans

    clock = spans.Clock()
    jobs = spans.read_jobs(spark, clock, first_job)
    execs = spans.read_executions(spark, first_exec)
    all_ops = [r for recs, _, _ in passes for r in recs]
    spans.attribute(all_ops, jobs, execs, [])
    traced = [(recs, wall) for recs, wall, tr in passes if tr]
    # untraced passes after the first, unless the run ended before one
    plain = [wall for i, (_, wall, tr) in enumerate(passes) if not tr and i > 0] or [passes[0][1]]
    per_pass = [spans.layer_metrics(recs, wall, cores) for recs, wall in traced]
    values = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    values.update(setup)
    values["trace.overhead_s"] = statistics.median(w for _, w in traced) - statistics.median(plain)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    dump = {
        "workload": args.workload, "seed": args.seed, "layers": values,
        "passes": [{"pass": i, "traced": tr, "wall_s": wall, "ops": [
            {"name": r.name, "group": r.group, "error": r.error, "result_rows": r.result_rows,
             "spans": r.spans, "breakdown": spans.op_breakdown(r),
             "jobs": [{k: j[k] for k in ("id", "start", "end")} | {"stages": len(j["stages"])}
                      for j in r.jobs],
             "join_rows_max": max((e["join_rows_max"] for e in r.executions), default=0),
             "catalyst_s": r.phases_s, "triggers": r.triggers}
            for r in recs]} for i, (recs, wall, tr) in enumerate(passes)],
    }
    path = os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json")
    with open(path, "w") as f:
        json.dump(dump, f, indent=1, default=str)
    print(f"trace: {path}")
    for recs, wall in traced[:1]:
        print(f"  per-op breakdown of traced pass (wall {wall:.3f} s):")
        for r in recs:
            b = spans.op_breakdown(r)
            parts = " ".join(f"{k}={v:.3f}" for k, v in b.items() if k != "wall_s")
            print(f"    {r.name:<28} wall={b['wall_s']:.3f} {parts}")
    print(f"  trace.overhead_s={values['trace.overhead_s']:.3f} "
          f"(traced minus untraced median pass wall)")
    units = metric_units("per_layer")
    missing = set(units) - set(values)
    if missing:
        raise SystemExit(f"per-layer metrics not computed: {sorted(missing)}")
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


if __name__ == "__main__":
    sys.exit(main())
