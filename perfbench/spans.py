"""Spans and Spark-side counters for the benchmark's traced runs.

Everything here observes the engine from the outside: spans are
recorded around the benchmark's own calls into the package, and the
per-layer counters come from Spark's status stores (job, stage and SQL
execution data the Spark driver keeps even with the UI off) and from a
streaming query listener. Spans stay in memory and are written once,
at the end of the run.
"""

from __future__ import annotations

import re
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

#: plan nodes whose name marks a join; their "number of output rows"
#: is the candidate volume a join produced
_JOIN_NODE = re.compile(r"Join|CartesianProduct")
#: plan nodes that run Python workers over Arrow batches
_PYTHON_NODE = re.compile(r"Pandas|Arrow|Python")
_COUNT = re.compile(r"\d[\d,]*")
#: a per-task metric names the stage of its largest task: "(stage 3.0: task 7)"
_STAGE_REF = re.compile(r"stage (\d+)\.\d+")


@dataclass
class OpRecord:
    """One operation of one pass: its spans (name -> (start, end), on
    the perf_counter clock) and what the benchmark counted around it."""

    name: str
    pass_no: int
    group: str
    spans: dict[str, tuple[float, float]] = field(default_factory=dict)
    result_rows: int = 0
    error: str | None = None
    phases_s: dict[str, float] = field(default_factory=dict)
    tracked_persists: int = 0
    storage_mb: float = 0.0
    memo_hits: int = 0
    memo_misses: int = 0
    files_written: int = 0
    bytes_written: int = 0
    layer: str = "operators"
    # filled from the status stores after the run
    jobs: list[dict] = field(default_factory=list)
    executions: list[dict] = field(default_factory=list)
    triggers: list[dict] = field(default_factory=list)

    @property
    def start(self) -> float:
        return self.spans["op"][0]

    @property
    def end(self) -> float:
        return self.spans["op"][1]

    @property
    def latency_s(self) -> float:
        """From the builder call until the result or the write returns."""
        b = self.spans.get("build", self.spans["op"])
        return self.spans["op"][1] - b[0]


class Clock:
    """Maps Spark's epoch-millisecond timestamps onto perf_counter."""

    def __init__(self) -> None:
        self.offset = time.time() - time.perf_counter()

    def from_epoch_ms(self, ms: int) -> float:
        return ms / 1000.0 - self.offset


class StreamProgress(StreamingQueryListener):
    """Collects every micro-batch progress report of the session."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.events.append({
            "t": time.perf_counter(),
            "rows": int(p.numInputRows),
            "durations_ms": dict(p.durationMs),
            "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def drain_listener_bus(spark) -> None:
    """Wait until queued listener events (streaming progress included)
    have been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def _opt(o):
    return o.get() if o.isDefined() else None


def read_jobs(spark, clock: Clock, first_job: int) -> list[dict]:
    """Every job with id >= ``first_job`` from the Spark driver's status
    store, with its stages' executor counters."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    jobs = []
    for i in range(seq.size()):
        j = seq.apply(i)
        jid = int(j.jobId())
        if jid < first_job:
            continue
        sub, comp = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is None or comp is None:
            continue
        stages = []
        sids = j.stageIds()
        for k in range(sids.size()):
            sd = store.lastStageAttempt(int(sids.apply(k)))
            if str(sd.status()) == "SKIPPED":
                continue
            stages.append({
                "id": int(sd.stageId()),
                "tasks": int(sd.numCompleteTasks()),
                "run_s": sd.executorRunTime() / 1e3,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "input_bytes": int(sd.inputBytes()),
                "shuffle_read_bytes": int(sd.shuffleReadBytes()),
                "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
                "spill_bytes": int(sd.diskBytesSpilled()),
            })
        group = _opt(j.jobGroup())
        jobs.append({
            "id": jid,
            "group": str(group) if group is not None else None,
            "start": clock.from_epoch_ms(sub.getTime()),
            "end": clock.from_epoch_ms(comp.getTime()),
            "stages": stages,
        })
    return jobs


def read_executions(spark, first_execution: int) -> list[dict]:
    """SQL executions with id >= ``first_execution``: their job ids,
    the largest join output and the Python-node rows and stages."""
    store = spark._jsparkSession.sharedState().statusStore()
    seq = store.executionsList()
    out = []
    for i in range(seq.size()):
        e = seq.apply(i)
        eid = int(e.executionId())
        if eid < first_execution:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        join_rows_max, py_rows, py_stages = 0, 0, set()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            name = str(node.name())
            is_join, is_py = bool(_JOIN_NODE.search(name)), bool(_PYTHON_NODE.search(name))
            if not (is_join or is_py):
                continue
            metrics = node.metrics()
            for q in range(metrics.size()):
                m = metrics.apply(q)
                value = values.get(m.accumulatorId())
                if not value.isDefined():
                    continue
                text = str(value.get())
                if m.name() == "number of output rows":
                    rows = int(_COUNT.search(text).group().replace(",", ""))
                    if is_join:
                        join_rows_max = max(join_rows_max, rows)
                    if is_py:
                        py_rows += rows
                if is_py:
                    py_stages.update(int(s) for s in _STAGE_REF.findall(text))
        job_ids = e.jobs().keySet().toSeq()
        out.append({
            "id": eid,
            "jobs": [int(job_ids.apply(q)) for q in range(job_ids.size())],
            "join_rows_max": join_rows_max,
            "python_rows": py_rows,
            "python_stages": sorted(py_stages),
        })
    return out


def next_job_id(spark) -> int:
    """One past the highest job id the status store has seen."""
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((int(seq.apply(i).jobId()) for i in range(seq.size())), default=-1) + 1


def next_execution_id(spark) -> int:
    seq = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((int(seq.apply(i).executionId()) for i in range(seq.size())), default=-1) + 1


def storage_mb(spark) -> float:
    """Memory plus disk held by cached and checkpointed blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(r.memSize()) + int(r.diskSize()) for r in infos) / 2**20


def force_phases(df) -> dict[str, float]:
    """Plan ``df`` now and return Catalyst's phase times in seconds.
    Until its plan is forced, ``df``'s phase tracker holds only the
    analysis phase (a write, for one, plans in a QueryExecution of its
    own)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = p.get().durationMs() / 1e3 if p.isDefined() else 0.0
    return out


def attribute(ops: list[OpRecord], jobs: list[dict], execs: list[dict],
              triggers: list[dict]) -> None:
    """Give each op the jobs of its job group (or, for jobs from other
    threads such as streaming micro-batches, the jobs submitted inside
    its span), the SQL executions of those jobs, and the stream
    triggers reported inside its span."""
    by_group = {op.group: op for op in ops}
    job_owner: dict[int, OpRecord] = {}
    for job in jobs:
        owner = by_group.get(job["group"])
        if owner is None:
            owner = next((op for op in ops if op.start <= job["start"] <= op.end), None)
        if owner is not None:
            owner.jobs.append(job)
            job_owner[job["id"]] = owner
    for ex in execs:
        owner = next((job_owner[j] for j in ex["jobs"] if j in job_owner), None)
        if owner is not None:
            owner.executions.append(ex)
    streams = [op for op in ops if op.layer == "streaming"]
    for ev in triggers:
        # progress reports arrive asynchronously: the owner is the last
        # streaming op that started before the report
        owner = max((op for op in streams if op.start <= ev["t"]), key=lambda op: op.start,
                    default=None)
        if owner is not None:
            owner.triggers.append(ev)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(jobs: list[dict], span: tuple[float, float]) -> list[tuple[float, float]]:
    s0, e0 = span
    return [(max(j["start"], s0), min(j["end"], e0)) for j in jobs
            if j["end"] > s0 and j["start"] < e0]


def op_breakdown(op: OpRecord) -> dict:
    """Self time of every span along one operation. The pieces sum to
    the op's wall time; ``unattributed_s`` is what no span covers."""
    out: dict[str, float] = {}
    covered = 0.0
    for name in ("release", "build", "plan", "execute"):
        if name not in op.spans:
            continue
        span = op.spans[name]
        jobs_s = union_s(_clip(op.jobs, span))
        out[f"{name}.self_s"] = (span[1] - span[0]) - jobs_s
        out[f"{name}.jobs_s"] = jobs_s
        covered += span[1] - span[0]
    out["wall_s"] = op.end - op.start
    out["unattributed_s"] = out["wall_s"] - covered
    return out


def layer_metrics(ops: list[OpRecord], pass_wall_s: float, cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass (all ops of that pass)."""
    stages = [s for op in ops for j in op.jobs for s in j["stages"]]
    stage_run = {s["id"]: s["run_s"] for s in stages}
    build_jobs = [j for op in ops for j in op.jobs
                  if "build" in op.spans and op.spans["build"][0] <= j["start"] <= op.spans["build"][1]]
    build_s = sum(op.spans["build"][1] - op.spans["build"][0] for op in ops if "build" in op.spans)
    build_jobs_s = sum(union_s(_clip(op.jobs, op.spans["build"])) for op in ops if "build" in op.spans)
    join_ops = [op for op in ops if any(ex["join_rows_max"] for ex in op.executions)]
    join_rows = sum(max(ex["join_rows_max"] for ex in op.executions) for op in join_ops)
    joined_result_rows = sum(op.result_rows for op in join_ops)
    py_stage_ids = {sid for op in ops for ex in op.executions for sid in ex["python_stages"]}
    triggers = [t for op in ops for t in op.triggers]
    trig_s = [t["durations_ms"].get("triggerExecution", 0) / 1e3 for t in triggers]
    stream_rows = sum(t["rows"] for t in triggers)
    sink_ops = [op for op in ops if op.layer == "sinks"]
    sink_read = sum(s["input_bytes"] for op in sink_ops for j in op.jobs for s in j["stages"])
    sink_written = sum(op.bytes_written for op in sink_ops)
    run_s = sum(s["run_s"] for s in stages)
    hits = sum(op.memo_hits for op in ops)
    misses = sum(op.memo_misses for op in ops)

    def span_sum(name: str) -> float:
        return sum(op.spans[name][1] - op.spans[name][0] for op in ops if name in op.spans)

    unattributed = pass_wall_s - sum(op.end - op.start for op in ops)
    unattributed += sum(op_breakdown(op)["unattributed_s"] for op in ops)
    return {
        "operators.build_s": build_s,
        "operators.build_self_s": build_s - build_jobs_s,
        "operators.build_jobs": float(len(build_jobs)),
        "operators.result_rows": float(sum(op.result_rows for op in ops)),
        "operators.join_rows_max": float(join_rows),
        "operators.pair_yield": joined_result_rows / join_rows if join_rows else 0.0,
        "plans.memo_hits": float(hits),
        "plans.memo_misses": float(misses),
        "plans.memo_hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "plans.release_s": span_sum("release"),
        "plans.tracked_persists": float(sum(op.tracked_persists for op in ops)),
        "plans.storage_peak_mb": max((op.storage_mb for op in ops), default=0.0),
        "catalyst.analysis_s": sum(op.phases_s.get("analysis", 0.0) for op in ops),
        "catalyst.optimization_s": sum(op.phases_s.get("optimization", 0.0) for op in ops),
        "catalyst.planning_s": sum(op.phases_s.get("planning", 0.0) for op in ops),
        "executor.jobs": float(sum(len(op.jobs) for op in ops)),
        "executor.stages": float(len(stages)),
        "executor.tasks": float(sum(s["tasks"] for s in stages)),
        "executor.run_s": run_s,
        "executor.cpu_s": sum(s["cpu_s"] for s in stages),
        "executor.gc_s": sum(s["gc_s"] for s in stages),
        "executor.busy_frac": run_s / (pass_wall_s * cores) if pass_wall_s else 0.0,
        "executor.shuffle_read_bytes": float(sum(s["shuffle_read_bytes"] for s in stages)),
        "executor.shuffle_write_bytes": float(sum(s["shuffle_write_bytes"] for s in stages)),
        "executor.spill_bytes": float(sum(s["spill_bytes"] for s in stages)),
        "multimodal.python_stage_s": sum(stage_run.get(sid, 0.0) for sid in py_stage_ids),
        "multimodal.python_rows": float(sum(ex["python_rows"] for op in ops for ex in op.executions)),
        "streaming.triggers": float(len(triggers)),
        "streaming.trigger_p50_s": statistics.median(trig_s) if trig_s else 0.0,
        "streaming.add_batch_s": sum(t["durations_ms"].get("addBatch", 0) for t in triggers) / 1e3,
        "streaming.query_planning_s": sum(t["durations_ms"].get("queryPlanning", 0) for t in triggers) / 1e3,
        "streaming.commit_s": sum(t["durations_ms"].get("walCommit", 0)
                                  + t["durations_ms"].get("commitOffsets", 0) for t in triggers) / 1e3,
        "streaming.state_rows": float(max((t["state_rows"] for t in triggers), default=0)),
        "streaming.rows_per_s": stream_rows / sum(trig_s) if sum(trig_s) else 0.0,
        "sinks.write_s": sum(op.end - op.start for op in sink_ops),
        "sinks.files_written": float(sum(op.files_written for op in sink_ops)),
        "sinks.bytes_written": float(sink_written),
        "sinks.write_amplification": sink_written / sink_read if sink_read else 0.0,
        "trace.unattributed_s": unattributed,
    }
