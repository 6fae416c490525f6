"""Per-layer numbers for a traced run.

Three sources, all switched on from the benchmark's own code:

- the outside timers around each registry call and materialisation;
- Spark's event log, enabled through ``session.get_spark(extra_confs=…)``;
- a ``StreamingQueryListener`` added with ``spark.streams.addListener``.

Events are matched to the job (registry entry) whose outside-timer
window contains their start time.  Streaming micro-batch jobs run under
the query's own job group, so matching by time covers them too; one job
is in flight at a time, so the windows do not overlap.

The spans nest run → pass → job → ``plans.build`` / ``exec.materialize``
→ Spark job → stage, and a streaming query → micro-batch → its
``durationMs`` phases.  A phase has no start time of its own, so phases
are laid end to end in execution order inside their batch.
"""

from __future__ import annotations

import datetime as dt
import json
import statistics

from workloads import PER_LAYER

#: per-layer metrics taken from the outside timers, the memory sampler and
#: the host probe rather than from the event log and the listener
OUTSIDE_TIMERS = {"session.get_spark_s", "session.jvm_threads_start",
                  "session.jvm_threads_end", "session.jvm_rss_peak_mb",
                  "session.pyworker_rss_peak_mb", "plans.build_s",
                  "exec.materialize_s", "host.probe_s", "trace.overhead_frac"}

#: micro-batch phases in the order ``MicroBatchExecution`` runs them
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets"]

#: stage accumulables summed into a layer metric: metric -> (name, scale)
_STAGE_SUMS = {
    "exec.task_ms": ("internal.metrics.executorRunTime", 1),
    "exec.cpu_ms": ("internal.metrics.executorCpuTime", 1e-6),
    "exec.gc_ms": ("internal.metrics.jvmGCTime", 1),
    "exec.sort_ms": ("sort time", 1),
    "exec.agg_build_ms": ("time in aggregation build", 1),
    "exec.shuffle_write_ms": ("internal.metrics.shuffle.write.writeTime", 1e-6),
    "exec.shuffle_write_bytes": ("internal.metrics.shuffle.write.bytesWritten", 1),
    "exec.fetch_wait_ms": ("internal.metrics.shuffle.read.fetchWaitTime", 1),
    "sources.scan_ms": ("scan time", 1),
    "sources.rows_read": ("internal.metrics.input.recordsRead", 1),
    "sources.bytes_read": ("internal.metrics.input.bytesRead", 1),
    "pyworker.ms": ("time to run Python workers", 1),
    "pyworker.bytes_sent": ("data sent to Python workers", 1),
    "pyworker.bytes_returned": ("data returned from Python workers", 1),
    "pyworker.rows_returned": ("python rows", 1),
}
#: plan node names of operators that run Python workers
_PYTHON_NODES = ("Python", "Pandas", "Arrow")
#: driver-side SQL metrics (``DriverAccumUpdates``): metric -> name
_DRIVER_SUMS = {
    "sources.files_read": "number of files read",
    "sinks.files_written": "number of written files",
    "sinks.bytes_written": "written output",
}


def _iso_ms(stamp: str) -> float:
    """``2026-01-02T03:04:05.678Z`` → epoch milliseconds."""
    d = dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return d.replace(tzinfo=dt.timezone.utc).timestamp() * 1000


def _number(value) -> float | None:
    """Accumulable values: numbers for task metrics, decimal strings for
    SQL metrics, anything else for accumulators the split ignores."""
    if isinstance(value, (int, float)):
        return value
    try:
        return float(value)
    except (TypeError, ValueError):
        return None


def read_event_log(path: str) -> dict:
    """The parts of a Spark event log the layer split needs."""
    jobs, stages, execs, driver = {}, {}, {}, {}
    metric_names: dict[int, str] = {}
    python_rows: set[int] = set()  # "number of output rows" of Python nodes
    failed_tasks: dict[int, int] = {}

    def walk(plan):
        is_python = any(k in plan.get("nodeName", "")
                        for k in _PYTHON_NODES)
        for m in plan.get("metrics", []):
            metric_names[m["accumulatorId"]] = m["name"]
            if is_python and m["name"] == "number of output rows":
                python_rows.add(m["accumulatorId"])
        for child in plan.get("children", []):
            walk(child)

    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"], "stages": e["Stage IDs"],
                    "exec": int(exec_id) if exec_id is not None else None}
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                acc: dict[str, float] = {}
                rows: dict[int, float] = {}
                for a in info.get("Accumulables", []):
                    value = _number(a.get("Value"))
                    if value is not None:
                        acc[a["Name"]] = acc.get(a["Name"], 0) + value
                        if a["Name"] == "number of output rows":
                            rows[a["ID"]] = value
                stages[info["Stage ID"]] = {
                    "start": info.get("Submission Time"),
                    "end": info.get("Completion Time"),
                    "tasks": info["Number of Tasks"], "acc": acc,
                    "rows": rows}
            elif kind == "SparkListenerTaskEnd":
                if e["Task End Reason"]["Reason"] != "Success":
                    sid = e["Stage ID"]
                    failed_tasks[sid] = failed_tasks.get(sid, 0) + 1
            elif kind == "SparkListenerSQLExecutionStart":
                walk(e["sparkPlanInfo"])
                execs[e["executionId"]] = {
                    "start": e["time"],
                    "root": e.get("rootExecutionId", e["executionId"])}
            elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
                walk(e["sparkPlanInfo"])
            elif kind == "SparkListenerSQLExecutionEnd":
                execs[e["executionId"]]["end"] = e["time"]
            elif kind == "SparkListenerDriverAccumUpdates":
                # each update carries the metric's value so far, as the
                # SQL UI reads it: the last one per accumulator counts
                driver.setdefault(e["executionId"], {}).update(
                    (acc_id, value) for acc_id, value in e["accumUpdates"])
    for st in stages.values():
        st["acc"]["python rows"] = sum(v for k, v in st.pop("rows").items()
                                       if k in python_rows)
    driver_named = {}
    for exec_id, updates in driver.items():
        named: dict[str, float] = {}
        for acc_id, value in updates.items():
            name = metric_names.get(acc_id)
            if name is not None:
                named[name] = named.get(name, 0) + value
        driver_named[exec_id] = named
    return {"jobs": jobs, "stages": stages, "execs": execs,
            "driver": driver_named, "failed_tasks": failed_tasks}


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class _Windows:
    """Outside-timer job windows (epoch ms), for matching events."""

    def __init__(self, passes: list[dict]):
        self.items = []
        for p in passes:
            for j in p["jobs"]:
                self.items.append((j["t0"] * 1000, j["t1"] * 1000,
                                   p["tag"], j))
        self.items.sort(key=lambda x: x[0])

    def find(self, t_ms: float):
        for a, b, tag, job in self.items:
            if a <= t_ms <= b:
                return tag, job
        return None


def _empty_layer() -> dict:
    return {name: 0 for name in PER_LAYER if name not in OUTSIDE_TIMERS}


class Spans:
    """Spans held in memory; written once, at the end."""

    def __init__(self):
        self.items: list[dict] = []

    def add(self, name: str, start_ms: float, end_ms: float,
            parent: int | None, **attrs) -> int:
        self.items.append({"id": len(self.items), "parent": parent,
                           "name": name, "start_ms": start_ms,
                           "end_ms": end_ms, **attrs})
        return len(self.items) - 1

    def self_time_s(self) -> dict[str, float]:
        """Per span name: summed duration minus what children cover."""
        children: dict[int, list] = {}
        for s in self.items:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start_ms"], s["end_ms"]))
        out: dict[str, float] = {}
        for s in self.items:
            lo, hi = s["start_ms"], s["end_ms"]
            own = (hi - lo) - _union_ms(children.get(s["id"], []), lo, hi)
            out[s["name"]] = out.get(s["name"], 0.0) + max(own, 0.0) / 1000
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.items:
                fh.write(json.dumps(s) + "\n")


def analyse(passes: list[dict], log: dict, progress: list[dict]):
    """Per-pass layer metrics and the span tree of the traced passes."""
    windows = _Windows(passes)
    per_pass = {p["tag"]: _empty_layer() for p in passes}
    spans = Spans()
    run_id = spans.add("run", passes[0]["t0"] * 1000,
                       passes[-1]["t1"] * 1000, None)
    job_span: dict[int, dict] = {}
    for p in passes:
        pid = spans.add("pass", p["t0"] * 1000, p["t1"] * 1000, run_id,
                        tag=p["tag"])
        for j in p["jobs"]:
            jid = spans.add("job", j["t0"] * 1000, j["t1"] * 1000, pid,
                            job=j["job"])
            b_end = (j["t0"] + j.get("build_s", j["t1"] - j["t0"])) * 1000
            job_span[id(j)] = {
                "build": spans.add("plans.build", j["t0"] * 1000, b_end, jid),
                "mat": spans.add("exec.materialize", b_end, j["t1"] * 1000, jid),
                "b_end": b_end}

    def parent_for(job, t_ms):
        s = job_span[id(job)]
        return s["build"] if t_ms < s["b_end"] else s["mat"]

    # Spark jobs and their stages
    exec_jobs: dict[int, list] = {}
    counted: set[int] = set()  # a stage reused by a later job counts once
    for job_id, sj in sorted(log["jobs"].items()):
        hit = windows.find(sj["start"])
        if hit is None:
            continue
        tag, job = hit
        m = per_pass[tag]
        end = sj.get("end", sj["start"])
        m["exec.jobs"] += 1
        sj_span = spans.add("spark.job", sj["start"], end,
                            parent_for(job, sj["start"]), spark_job=job_id)
        if sj["exec"] is not None:
            root = log["execs"].get(sj["exec"], {}).get("root", sj["exec"])
            exec_jobs.setdefault(root, []).append((sj["start"], end))
        for sid in sj["stages"]:
            st = log["stages"].get(sid)
            if st is None or st["start"] is None or sid in counted:
                continue  # skipped, or already counted under its first job
            counted.add(sid)
            m["exec.stages"] += 1
            m["exec.tasks"] += st["tasks"]
            m["exec.tasks_failed"] += log["failed_tasks"].get(sid, 0)
            acc = st["acc"]
            for metric, (name, scale) in _STAGE_SUMS.items():
                m[metric] += acc.get(name, 0) * scale
            m["exec.spill_bytes"] += (acc.get("internal.metrics.memoryBytesSpilled", 0)
                                      + acc.get("internal.metrics.diskBytesSpilled", 0))
            m["exec.peak_exec_memory_bytes"] = max(
                m["exec.peak_exec_memory_bytes"],
                acc.get("internal.metrics.peakExecutionMemory", 0))
            m["sinks.commit_ms"] += acc.get("task commit time", 0)
            spans.add("spark.stage", st["start"], st["end"] or st["start"],
                      sj_span, stage=sid)
    # SQL executions: driver-side metrics and the time no job ran
    for exec_id, ex in log["execs"].items():
        hit = windows.find(ex["start"])
        if hit is None:
            continue
        m = per_pass[hit[0]]
        named = log["driver"].get(exec_id, {})
        for metric, name in _DRIVER_SUMS.items():
            m[metric] += named.get(name, 0)
        m["sinks.commit_ms"] += named.get("job commit time", 0)
        if ex["root"] == exec_id and "end" in ex:
            busy = _union_ms(exec_jobs.get(exec_id, []), ex["start"], ex["end"])
            m["exec.driver_gap_ms"] += (ex["end"] - ex["start"]) - busy
    _streaming(progress, windows, per_pass, spans, job_span)
    return per_pass, spans


def _streaming(progress, windows, per_pass, spans, job_span) -> None:
    last_state: dict[str, tuple] = {}
    queries: dict[str, dict] = {}
    batches_by_job: dict[int, list] = {}
    for ev in progress:
        if ev["kind"] != "progress":
            continue
        start = _iso_ms(ev["timestamp"])
        hit = windows.find(start)
        if hit is None:
            continue
        tag, job = hit
        m = per_pass[tag]
        dur = ev.get("durationMs", {})
        trigger = dur.get("triggerExecution", 0)
        m["streaming.batches"] += 1
        m["streaming.trigger_ms"] += trigger
        m["streaming.add_batch_ms"] += dur.get("addBatch", 0)
        m["streaming.query_planning_ms"] += dur.get("queryPlanning", 0)
        m["streaming.latest_offset_ms"] += dur.get("latestOffset", 0)
        m["streaming.wal_commit_ms"] += dur.get("walCommit", 0)
        m["streaming.commit_offsets_ms"] += dur.get("commitOffsets", 0)
        m["streaming.input_rows"] += ev.get("numInputRows", 0)
        ops = ev.get("stateOperators", [])
        m["streaming.rows_dropped_by_watermark"] += sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops)
        last_state[ev["runId"]] = (tag, sum(o.get("numRowsTotal", 0) for o in ops),
                                   sum(o.get("memoryUsedBytes", 0) for o in ops))
        q = queries.setdefault(ev["runId"], {"tag": tag, "job": job,
                                             "batches": []})
        q["batches"].append((start, start + trigger, dur, ev.get("batchId")))
        batches_by_job.setdefault(id(job), []).append((start, start + trigger))
    for run_id, (tag, rows, mem) in last_state.items():
        per_pass[tag]["streaming.state_rows"] += rows
        per_pass[tag]["streaming.state_memory_bytes"] += mem
    for run_id, q in queries.items():
        per_pass[q["tag"]]["streaming.queries"] += 1
        lo = min(b[0] for b in q["batches"])
        hi = max(b[1] for b in q["batches"])
        qid = spans.add("stream.query", lo, hi,
                        job_span[id(q["job"])]["build"], run_id=run_id)
        for a, b, dur, batch_id in q["batches"]:
            bid = spans.add("stream.batch", a, b, qid, batch=batch_id)
            t = a
            for phase in PHASES:
                if dur.get(phase):
                    spans.add(f"stream.{phase}", t, t + dur[phase], bid)
                    t += dur[phase]
    for _, _, tag, job in windows.items:
        got = batches_by_job.get(id(job))
        if got and "build_s" in job:
            lo, hi = job["t0"] * 1000, (job["t0"] + job["build_s"]) * 1000
            per_pass[tag]["streaming.outside_batches_ms"] += (
                (hi - lo) - _union_ms(got, lo, hi))


def medians(per_pass: dict[str, dict]) -> dict[str, float]:
    names = next(iter(per_pass.values())).keys()
    return {n: statistics.median(p[n] for p in per_pass.values())
            for n in names}
