"""Isolated per-query measurement + plan capture for the optimization
rounds.

Usage: python scripts/qtime.py <query> [<query> ...] [--runs N]
         [--sf DIR] [--explain OUT_PATH_PREFIX]

For each named registry query: one warmup at sf0.001, then N timed
noop-sink runs at the target sf (median reported), and optionally the
`.explain("formatted")` text written to <prefix><query>.txt.  One JVM
for the whole invocation; queries are timed in the order given.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    runs, sf_dir, explain_prefix = 5, "/root/testdata/sf0.1", None
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--runs":
            runs = int(args[i + 1]); i += 2
        elif a == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif a == "--explain":
            explain_prefix = args[i + 1]; i += 2
        else:
            names.append(a); i += 1

    from aws_etl_bank_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    from bench import calibration_probe
    probe0 = calibration_probe(spark)
    print(f"probe_pre: {probe0}", flush=True)
    out: dict[str, dict] = {"__probes": {"pre": probe0}}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        try:
            fn(spark, "/root/testdata/sf0.001").write.format("noop") \
                .mode("overwrite").save()
        except Exception as e:
            print(f"warmup {name} failed: {type(e).__name__}: {e}",
                  file=sys.stderr, flush=True)
        if explain_prefix:
            df = fn(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(f"{explain_prefix}{name}.txt", "w") as f:
                f.write(txt)
        ts = []
        for r in range(runs):
            spark.sparkContext.setJobDescription(f"{name}:run{r}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
        ts_sorted = sorted(ts)
        out[name] = {"median": ts_sorted[len(ts) // 2], "samples": ts}
        print(f"{name}: median {out[name]['median']} samples {ts}",
              flush=True)
    out["__probes"]["post"] = calibration_probe(spark)
    print(f"probe_post: {out['__probes']['post']}", flush=True)
    print("QTIME " + json.dumps(out, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
