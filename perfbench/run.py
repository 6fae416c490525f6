"""The engine's benchmark of record.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Prepares the workload's seeded input (once per seed), runs the workload
in its own Spark process (``worker.py``), samples that process tree's
resident memory from ``/proc``, checks every job's output against its
DuckDB oracle, and prints each metric by name with its unit.  The last
line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones (``workloads.PER_LAYER``), and
the run also writes its spans.  Everything the run writes goes under
``perfbench/.work/`` next to this file.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: driver heap of the benchmark's Spark process
DRIVER_MEM = "2g"
#: files of the checkout the benchmark drives
ENGINE_FILES = ["__spark_entry__.py", "aws_etl_bank_spark/session.py",
                "scripts/verify_entry.py"]


class TreeSampler:
    """Samples the resident memory of a process and its descendants.

    Python workers are forked from one daemon and share most of their
    pages, so summing their RSS would count those pages once per worker:
    they are counted by PSS (shared pages split among the sharers).  The
    JVM shares nothing with them and is counted by RSS.

    A process the JVM starts runs the JVM's own executable, in the JVM's
    memory, until it execs its program; sampled in that window it would
    count the whole JVM a second time, so it is skipped."""

    def __init__(self, pid: int, interval_s: float = 0.1):
        self.pid = pid
        self.interval_s = interval_s
        self.seen: set[int] = {pid}
        self.peak_total_mb = 0.0
        #: (name, executable, MB) of each process at the peak sample
        self.peak_parts: list[tuple[str, str, float]] = []
        self.peak_jvm_hwm_mb = 0.0
        self.peak_pyworkers_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _children() -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue  # exited while listing
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            kids.setdefault(ppid, []).append(int(entry))
        return kids

    @staticmethod
    def _status(pid: int) -> dict[str, str]:
        out = {}
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    key, _, value = line.partition(":")
                    out[key] = value.strip()
        except OSError:
            pass  # exited since the scan
        return out

    @staticmethod
    def _pss_mb(pid: int) -> float:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) / 1024
        except OSError:
            pass  # exited since the scan
        return 0.0

    def sample(self) -> None:
        kids = self._children()
        total, pyworkers = 0.0, 0.0
        parts = []
        stack = [(self.pid, False)]
        while stack:
            pid, under_jvm = stack.pop()
            self.seen.add(pid)
            st = self._status(pid)
            try:
                exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
            except OSError:
                continue  # exited since the scan
            is_jvm = exe == "java"
            if is_jvm and under_jvm:
                mb = 0.0  # started by the JVM, not yet exec'd
            elif is_jvm:
                mb = int(st.get("VmRSS", "0 kB").split()[0]) / 1024
                hwm = int(st.get("VmHWM", "0 kB").split()[0]) / 1024
                self.peak_jvm_hwm_mb = max(self.peak_jvm_hwm_mb, hwm)
            else:
                mb = self._pss_mb(pid)
                if under_jvm:
                    pyworkers += mb
            total += mb
            parts.append((st.get("Name", "?"), exe, round(mb, 1)))
            stack.extend((k, under_jvm or is_jvm) for k in kids.get(pid, []))
        if total > self.peak_total_mb:
            self.peak_total_mb, self.peak_parts = total, parts
        self.peak_pyworkers_mb = max(self.peak_pyworkers_mb, pyworkers)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(") ")[-1][:1] != "Z"
    except OSError:
        return False


def _reap(pids: set[int], grace_s: float = 20.0) -> None:
    """Wait for every process the run started to end; kill stragglers."""
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)


def _git_state() -> dict:
    def git(*args):
        return subprocess.run(["git", "-C", ROOT, *args], capture_output=True,
                               text=True, timeout=30)

    try:
        top = git("rev-parse", "--show-toplevel")
        if top.returncode != 0 or os.path.realpath(top.stdout.strip()) != \
                os.path.realpath(ROOT):
            return {"commit": None, "dirty": None}
        head = git("rev-parse", "HEAD").stdout.strip()
        dirty = bool(git("status", "--porcelain").stdout.strip())
        return {"commit": head, "dirty": dirty}
    except (OSError, subprocess.TimeoutExpired):
        return {"commit": None, "dirty": None}


def worker_timeout_s(seconds: float) -> float:
    """How long the worker may take before it is killed: a fixed allowance
    for the JVM launch, the cold and warm-up passes, the output check and
    shutdown, plus a multiple of the measured window.  At the benchmark's
    own ``run_seconds`` it leaves the whole run within 180 s."""
    return 100 + 3 * seconds


def _run_worker(cfg: dict, run_dir: str) -> tuple[int, TreeSampler]:
    tmp = os.path.join(WORK, "tmp")
    cwd = os.path.join(WORK, "cwd")
    for d in (tmp, cwd):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = tmp
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # a fixed, modest heap: the engine's 8g default lets the JVM's resident
    # size wander by gigabytes between identical runs, and the host is shared
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["PERFBENCH_T0"] = repr(time.time())
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh, indent=1)
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT)
        sampler = TreeSampler(proc.pid)
        sampler.start()
        code = None
        try:
            code = proc.wait(timeout=worker_timeout_s(cfg["seconds"]))
        except subprocess.TimeoutExpired:
            sampler.sample()
        finally:
            sampler.stop()
            # a timed-out worker is killed at once, with all it started
            _reap(sampler.seen, grace_s=20.0 if code is not None else 0.0)
    return code, sampler


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _end_to_end(rec: dict, sampler: TreeSampler) -> dict:
    ok = [p for p in rec["passes"] if p["ok"]] or rec["passes"]
    per_job = {}
    for p in ok:
        for j in p["jobs"]:
            if "error" not in j:
                per_job.setdefault(j["job"], []).append(j["build_s"] + j["mat_s"])
    job_medians = {k: _median(v) for k, v in per_job.items()}
    geomean = (math.exp(statistics.fmean(math.log(v) for v in job_medians.values()))
               if job_medians else float("nan"))
    return {
        "setup_s": rec["import_s"] + rec["setup"]["total_s"],
        "pass_s": _median([p["wall_s"] for p in ok]),
        "job_geomean_s": geomean,
        "peak_rss_mb": sampler.peak_total_mb,
        "live_heap_mb": rec["live_heap_mb"],
    }, job_medians


def _per_layer(rec: dict, sampler: TreeSampler, run_dir: str,
               event_log_dir: str) -> tuple[dict, dict]:
    import layers

    # only the traced session logs events, so the directory holds one log
    (log_name,) = os.listdir(event_log_dir)
    log = layers.read_event_log(os.path.join(event_log_dir, log_name))
    traced = rec["traced_passes"]
    per_pass, spans = layers.analyse(traced, log, rec["progress"])
    spans_path = os.path.join(run_dir, "spans.jsonl")
    spans.write(spans_path)
    m = layers.medians(per_pass)
    m["plans.build_s"] = _median([sum(j.get("build_s", 0) for j in p["jobs"])
                                  for p in traced])
    m["exec.materialize_s"] = _median([sum(j.get("mat_s", 0) for j in p["jobs"])
                                       for p in traced])
    m["session.get_spark_s"] = rec["setup"]["get_spark_s"]
    m["session.jvm_threads_start"] = rec["jvm_threads_start"]
    m["session.jvm_threads_end"] = rec["jvm_threads_end"]
    m["session.jvm_rss_peak_mb"] = sampler.peak_jvm_hwm_mb
    m["session.pyworker_rss_peak_mb"] = sampler.peak_pyworkers_mb
    m["host.probe_s"] = (rec["probe_before_s"] + rec["probe_after_s"]) / 2
    untraced = _median([p["wall_s"] for p in rec["passes"]])
    traced_pass_s = _median([p["wall_s"] for p in traced])
    m["trace.overhead_frac"] = traced_pass_s / untraced - 1
    detail = {"per_pass": per_pass, "spans": spans_path,
              "self_time_s": spans.self_time_s(), "traced_pass_s": traced_pass_s,
              # the outside timers should account for the whole pass
              "timers_share_of_pass": (m["plans.build_s"]
                                       + m["exec.materialize_s"]) / traced_pass_s}
    return m, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    sys.path.insert(0, HERE)
    import datagen
    from workloads import BASE_SF, END_TO_END, PER_LAYER, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    missing = [f for f in ENGINE_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"engine not found next to the benchmark (missing {missing})",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    inputs = datagen.prepare(os.path.join(WORK, "data"), BASE_SF, args.seed)
    prep_s = time.perf_counter() - t_start
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    run_dir = os.path.join(WORK, "runs", f"{stamp}_{args.workload}_s{args.seed}"
                           f"_t{args.trace}_{os.getpid()}")
    os.makedirs(run_dir)
    event_log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(event_log_dir)
    tmp = os.path.join(WORK, "tmp")
    cfg = {"root": ROOT, "workload": args.workload, "jobs": workload["jobs"],
           "input_dir": inputs["path"], "seconds": args.seconds,
           "trace": args.trace, "event_log_dir": event_log_dir,
           "record_path": os.path.join(run_dir, "worker.json"),
           "confs": {"spark.local.dir": tmp,
                     # heap committed and touched from the start (-Xms =
                     # the -Xmx that spark.driver.memory sets): otherwise
                     # resident memory depends on how much of the heap the
                     # collector's timing-driven sizing happened to touch.
                     # live_heap_mb reads what the engine keeps alive
                     # inside it.  No perf-data file: the JVM would put it
                     # in /tmp.
                     "spark.driver.extraJavaOptions":
                         f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} "
                         "-XX:+AlwaysPreTouch -XX:-UsePerfData"}}
    code, sampler = _run_worker(cfg, run_dir)
    if code != 0:
        print(f"worker exited with {code}; log: {run_dir}/worker.log",
              file=sys.stderr)
        return 1
    with open(cfg["record_path"]) as fh:
        rec = json.load(fh)

    e2e, job_medians = _end_to_end(rec, sampler)
    attempted = rec["attempts"] + len(rec["check"])
    failed = len(rec["errors"]) + sum(not c["ok"] for c in rec["check"])
    fail_frac = failed / attempted
    result = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "git": _git_state(), "env": rec["env"], "inputs": inputs,
              "load_model": "closed loop, one client, one job in flight",
              "jobs": workload["jobs"], "end_to_end": e2e,
              "fail_frac": fail_frac, "job_median_s": job_medians,
              "host": {"probe_before_s": rec["probe_before_s"],
                       "probe_after_s": rec["probe_after_s"],
                       "steal_frac": rec["steal_frac"]},
              "memory_peak_parts": sampler.peak_parts,
              "memory_mb": {"tree_peak": sampler.peak_total_mb,
                            "jvm_hwm": sampler.peak_jvm_hwm_mb,
                            "pyworkers_peak": sampler.peak_pyworkers_mb},
              "run_order": [{"pass": p["tag"], "wall_s": p["wall_s"],
                             "ok": p["ok"], "jvm_threads": p["jvm_threads"],
                             "steal_frac": p["steal_frac"],
                             "jobs": {j["job"]: j.get("build_s", 0) + j.get("mat_s", 0)
                                      for j in p["jobs"]}}
                            for p in rec["passes"]],
              "setup": {k: rec["setup"][k] for k in ("get_spark_s", "total_s")},
              "import_s": rec["import_s"], "prep_s": prep_s,
              "check_s": rec["check_s"], "shutdown_s": rec["shutdown_s"],
              "check": rec["check"],
              "errors": rec["errors"]}
    if args.trace:
        layer, detail = _per_layer(rec, sampler, run_dir, event_log_dir)
        result["per_layer"] = layer
        result["trace"] = detail
        result["traced_run_order"] = [
            {"pass": p["tag"], "wall_s": p["wall_s"], "ok": p["ok"],
             "jvm_threads": p["jvm_threads"]} for p in rec["traced_passes"]]
        metrics = {k: {"value": layer[k], "unit": PER_LAYER[k][0]}
                   for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": END_TO_END[k][0]}
                   for k in END_TO_END}
    result["run_wall_s"] = time.perf_counter() - t_start
    record_path = os.path.join(run_dir, "result.json")
    with open(record_path, "w") as fh:
        json.dump(result, fh, indent=1, default=str)

    print(f"workload {args.workload} seed {args.seed}: "
          f"{len(rec['passes'])} timed passes, {failed}/{attempted} failed")
    for k, (unit, _) in END_TO_END.items():
        print(f"{k} {e2e[k]:.4f} {unit}")
    print(f"fail_frac {fail_frac:.4f} ratio")
    for c in rec["check"]:
        if not c["ok"]:
            print(f"FAILED check {c['job']}: {c['problem']}")
    for e in rec["errors"]:
        print(f"FAILED job {e['job']} in {e['pass']}: {e['error'][:200]}")
    if args.trace:
        for k, (unit, _) in PER_LAYER.items():
            print(f"{k} {result['per_layer'][k]:.6g} {unit}")
        print(f"timers_share_of_pass {detail['timers_share_of_pass']:.4f} ratio")
        print(f"spans {detail['spans']}")
    for job, s in job_medians.items():
        print(f"job.{job}.s {s:.4f} s")
    print(f"record {record_path}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
