"""Spark-side half of the benchmark: one workload in one Spark session.

``run.py`` starts this file as its own process with a JSON config and
reads back the JSON record it writes.  The process:

1. imports the engine from the checkout that holds this file;
2. sets up once: ``session.get_spark``, which launches the JVM, then
   one untimed, JVM-cold pass over the workload that collects each
   job's rows for the output check;
3. after ``WARMUP_PASSES`` untimed passes, runs timed passes for the
   configured seconds (at least ``MIN_PASSES``); a traced run splits
   that window in two: untraced, then a rebuilt session with Spark's
   event log and a streaming-progress listener on, so that the tracing
   overhead is read against the untraced passes;
4. compares the collected rows of every job with the entry's DuckDB
   ``oracle_sql()`` on the same input files.

Usage: python3 worker.py CONFIG_JSON
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

#: untimed passes between the set-up and the timed passes: after the
#: cold pass the JIT is still compiling, and the first warm pass of
#: ``bank_etl`` often runs 10-40% slower than the ones after it (more
#: so on a busy host, where the compiler threads get less CPU)
WARMUP_PASSES = 2
#: fewest timed passes a run makes, however short ``seconds`` is
MIN_PASSES = 3


def _load_verify(root: str):
    """``scripts/verify_entry.py`` for its result normalisation.  It puts
    a fixed repo path on ``sys.path`` when imported; restore the path so
    that only this checkout's engine is ever imported."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "_perfbench_verify_entry",
        os.path.join(root, "scripts", "verify_entry.py"))
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


class ProgressListener(StreamingQueryListener):
    """Keeps every streaming query event, for the layer split."""

    def __init__(self):
        super().__init__()
        self._lock = threading.Lock()
        self._events: list[dict] = []
        self._last = time.monotonic()

    def _add(self, rec: dict) -> None:
        with self._lock:
            self._events.append(rec)
            self._last = time.monotonic()

    def onQueryStarted(self, event) -> None:
        self._add({"kind": "started", "run_id": str(event.runId),
                   "name": event.name, "timestamp": event.timestamp})

    def onQueryProgress(self, event) -> None:
        self._add({"kind": "progress", **json.loads(event.progress.json)})

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self._add({"kind": "terminated", "run_id": str(event.runId),
                   "exception": event.exception})

    def wait_quiet(self, quiet_s: float = 1.0, limit_s: float = 15.0) -> None:
        """Events arrive asynchronously: wait until none came for a while."""
        deadline = time.monotonic() + limit_s
        while time.monotonic() < deadline:
            with self._lock:
                idle = time.monotonic() - self._last
            if idle >= quiet_s:
                return
            time.sleep(0.1)

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self._events)


def _threads(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("Threads:"):
                return int(line.split()[1])
    raise ValueError(f"no thread count for pid {pid}")


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: time the hypervisor gave away."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of all CPUs' time the hypervisor took between two readings."""
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop; flags a contended host."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i % 7
    return time.perf_counter() - t


def live_heap_mb(spark) -> float:
    """JVM heap in use after full collections: the memory the engine
    keeps alive.  The benchmark's heap is committed up front, so this,
    not resident memory, is where retained JVM objects show."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    for _ in range(3):
        jvm.java.lang.System.gc()
        # Spark's ContextCleaner drops broadcast and shuffle blocks only
        # after a collection has freed their owners; give it time, and let
        # the next collection reclaim them
        time.sleep(0.5)
    return bean.getHeapMemoryUsage().getUsed() / 2**20


class Runner:
    """The workload's jobs, run in order against one session at a time."""

    def __init__(self, cfg: dict, queries: dict, get_spark):
        self.cfg = cfg
        self.jobs = cfg["jobs"]
        self.fns = {name: queries[name] for name in self.jobs}
        self.input_dir = cfg["input_dir"]
        self.get_spark_fn = get_spark
        self.spark = None
        self.jvm_pid = None
        self.attempts = 0
        self.errors: list[dict] = []

    def start_session(self, extra: dict | None = None) -> float:
        if self.spark is not None:
            self.spark.stop()
        confs = dict(self.cfg["confs"])
        confs.update(extra or {})
        t = time.perf_counter()
        self.spark = self.get_spark_fn(f"perfbench-{self.cfg['workload']}",
                                       extra_confs=confs)
        took = time.perf_counter() - t
        if self.jvm_pid is None:
            self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle
                               .current().pid())
        return took

    def run_pass(self, tag: str, collected: dict | None = None) -> list[dict]:
        """One pass over the job list; each job's group names pass and
        entry so the event log can be split by job.  Given ``collected``,
        jobs are materialised by collecting their rows into it instead of
        writing them to the ``noop`` sink."""
        sc = self.spark.sparkContext
        out = []
        for name in self.jobs:
            sc.setJobGroup(f"pb:{tag}:{name}", f"perfbench {tag} {name}")
            rec = {"job": name, "t0": time.time()}
            self.attempts += 1
            a = time.perf_counter()
            try:
                df = self.fns[name](self.spark, self.input_dir)
                b = time.perf_counter()
                if collected is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    rows = [tuple(r) for r in df.collect()]
                c = time.perf_counter()
                rec.update(build_s=b - a, mat_s=c - b)
                if collected is not None:
                    collected[name] = (df.columns, df.dtypes, rows)
            except Exception as e:  # recorded and counted in fail_frac
                rec["error"] = f"{type(e).__name__}: {str(e)[:400]}"
                self.errors.append({"pass": tag, "job": name,
                                    "error": rec["error"]})
            rec["t1"] = time.time()
            out.append(rec)
        sc.setLocalProperty("spark.jobGroup.id", None)
        return out

    def timed_passes(self, prefix: str, seconds: float) -> list[dict]:
        """Passes until ``seconds`` have gone by, and at least
        ``MIN_PASSES`` of them."""
        passes = []
        deadline = time.perf_counter() + seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            tag = f"{prefix}{len(passes)}"
            t0 = time.time()
            steal0 = cpu_steal()
            a = time.perf_counter()
            jobs = self.run_pass(tag)
            wall = time.perf_counter() - a
            passes.append({"tag": tag, "t0": t0, "t1": time.time(),
                           "wall_s": wall, "jobs": jobs,
                           "steal_frac": steal_frac(steal0, cpu_steal()),
                           "ok": all("error" not in j for j in jobs),
                           "jvm_threads": _threads(self.jvm_pid)})
        return passes

    def check(self, verify, oracles: dict, collected: dict) -> list[dict]:
        """Each job's collected rows against its oracle in DuckDB."""
        import duckdb

        con = duckdb.connect()
        for t in verify.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.input_dir}/{t}.parquet'")
        out = []
        for name in self.jobs:
            if name in collected:
                problem = _compare(verify, con, oracles.get(name),
                                   *collected[name])
            else:
                problem = "raised, so there are no rows to check"
            out.append({"job": name, "ok": problem is None,
                        "problem": problem})
        con.close()
        return out

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=30)


def _compare(verify, con, sql, cols, dtypes, rows) -> str | None:
    """None when the rows match the oracle, else what differs."""
    if not sql:
        return "entry has no oracle"
    rel = con.sql(sql)
    ocols = list(rel.columns)
    otypes = [str(t) for t in rel.types]
    orows = rel.fetchall()
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} vs oracle {sorted(ocols)}"
    stypes = {c: verify._norm_spark_type(t) for c, t in dtypes}
    dtypes_o = {c: verify._norm_duck_type(t) for c, t in zip(ocols, otypes)}
    bad = {c: (stypes[c], dtypes_o[c]) for c in stypes
           if stypes[c] != dtypes_o[c]}
    if bad:
        return f"types (spark, oracle) {bad}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows vs oracle {len(orows)}"
    a = verify.rows_to_multiset(cols, rows)
    b = verify.rows_to_multiset(ocols, orows)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"values differ, e.g. {diff!r:.400}"
    return None


def main(cfg_path: str) -> None:
    t_launch = float(os.environ["PERFBENCH_T0"])
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    root = cfg["root"]
    sys.path.insert(0, root)
    import __spark_entry__ as entry
    from aws_etl_bank_spark.session import get_spark

    verify = _load_verify(root)

    import_s = time.time() - t_launch
    runner = Runner(cfg, entry.queries(), get_spark)
    collected: dict = {}
    a = time.perf_counter()
    get_s = runner.start_session()
    threads_start = _threads(runner.jvm_pid)
    # the cold pass pays JIT, codegen and Python-worker start; it collects
    # the rows the output check compares
    jobs = runner.run_pass("setup", collected)
    setup = {"get_spark_s": get_s, "total_s": time.perf_counter() - a,
             "jobs": jobs}
    rec = {"import_s": import_s, "setup": setup,
           "jvm_threads_start": threads_start}
    spark = runner.spark
    rec["env"] = {
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "engine": os.path.dirname(os.path.abspath(entry.__file__)),
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    # a traced run splits its window in two: untraced, then traced
    window = cfg["seconds"] / 2 if cfg["trace"] else cfg["seconds"]
    for i in range(WARMUP_PASSES):
        runner.run_pass(f"warm{i}")
    rec["probe_before_s"] = cpu_probe()
    steal0 = cpu_steal()
    rec["passes"] = runner.timed_passes("p", window)
    rec["steal_frac"] = steal_frac(steal0, cpu_steal())
    rec["probe_after_s"] = cpu_probe()
    rec["live_heap_mb"] = live_heap_mb(runner.spark)
    if cfg["trace"]:
        listener = ProgressListener()
        runner.start_session({"spark.eventLog.enabled": "true",
                              "spark.eventLog.dir": f"file://{cfg['event_log_dir']}",
                              "spark.eventLog.compress": "false",
                              "spark.eventLog.rolling.enabled": "false"})
        runner.spark.streams.addListener(listener)
        runner.run_pass("twarm")
        rec["traced_passes"] = runner.timed_passes("t", window)
        listener.wait_quiet()
        rec["progress"] = listener.snapshot()
    rec["jvm_threads_end"] = _threads(runner.jvm_pid)
    t = time.perf_counter()
    rec["check"] = runner.check(verify, entry.oracle_sql(), collected)
    rec["check_s"] = time.perf_counter() - t
    rec["attempts"] = runner.attempts
    rec["errors"] = runner.errors
    t = time.perf_counter()
    runner.shutdown()
    rec["shutdown_s"] = time.perf_counter() - t
    with open(cfg["record_path"], "w") as fh:
        json.dump(rec, fh)


if __name__ == "__main__":
    main(sys.argv[1])
