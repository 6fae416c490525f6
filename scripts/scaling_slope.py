"""Per-query scaling-slope audit: times every frozen-bench query at
sf0.1 AND at .scratch/sf1 (10x the data, scripts/make_sf.py) in one
Spark session and reports the ratio t(sf1)/t(sf0.1) per query.

Why: the r5 slope audit (PERF.md) covered the 20-query bench of its
day; the frozen sets have since grown to 64 entries and most of the
heavy post-r5 shapes (star-contraction CC, recursive CTE, fuzzy entity
resolution, CDC/TWS streams, substring removal, triangle counting)
have NEVER had their scaling exponent measured.  A query that is
correct at both scales can still hide a super-linear term (a candidate
join whose blocking degrades, a window whose hot key grows) — at 100 TB
that term IS the runtime.  Linear-or-better (ratio <= ~10 for 10x data,
usually well under because fixed overheads amortize) passes; anything
materially above 10 is flagged for plan investigation.

Per query: warmup once at sf0.001, then interleaved passes
(sf0.1 pass, sf1 pass) x SLOPE_RUNS, median per (query, sf).
Calibration probes (bench.py's frozen probe) bracket the run so box
drift is visible in the artifact.

Usage: python scripts/scaling_slope.py [out.json] [name ...]
Env: SPARK_GRAFT_SLOPE_RUNS (default 2), SPARK_GRAFT_SF_SMALL,
SPARK_GRAFT_SF_BIG.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402  (reuses HEADLINE/HEADLINE2 + calibration_probe)
import __spark_entry__ as entrymod  # noqa: E402
from aws_etl_bank_spark.session import get_spark  # noqa: E402

SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.1")
BIG = os.environ.get("SPARK_GRAFT_SF_BIG",
                     os.path.join(REPO, ".scratch", "sf1"))
RUNS = int(os.environ.get("SPARK_GRAFT_SLOPE_RUNS", "2"))


def _time_once(qs, name, spark, sf_dir):
    t0 = time.time()
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main():
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    names = sys.argv[2:] or (bench.HEADLINE + bench.HEADLINE2)

    spark = get_spark("scaling-slope")
    spark.sparkContext.setLogLevel("OFF")
    qs = entrymod.queries()

    for name in names:
        try:
            qs[name](spark, "/root/testdata/sf0.001") \
                .write.format("noop").mode("overwrite").save()
        except Exception as e:
            print(f"warmup {name} failed: {type(e).__name__}: {e}",
                  file=sys.stderr, flush=True)

    probes = [bench.calibration_probe(spark)]
    small: dict[str, list[float]] = {n: [] for n in names}
    big: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(RUNS):
        for name in names:
            small[name].append(_time_once(qs, name, spark, SMALL))
        probes.append(bench.calibration_probe(spark))
        for name in names:
            big[name].append(_time_once(qs, name, spark, BIG))
        probes.append(bench.calibration_probe(spark))

    def med(xs):
        return round(sorted(xs)[len(xs) // 2], 3)

    rows = {}
    for name in names:
        s, b = med(small[name]), med(big[name])
        rows[name] = {"sf0.1_s": s, "sf1_s": b,
                      "ratio": round(b / s, 2) if s > 0 else None}
    flagged = sorted((n for n, r in rows.items()
                      if r["ratio"] is not None and r["ratio"] > 10.0),
                     key=lambda n: -rows[n]["ratio"])
    result = {"metric": "scaling_slope_sf0.1_to_sf1", "runs": RUNS,
              "probes": probes,
              "total_sf0.1_s": round(sum(r["sf0.1_s"] for r in rows.values()), 3),
              "total_sf1_s": round(sum(r["sf1_s"] for r in rows.values()), 3),
              "flagged_over_10x": flagged, "queries": rows}
    line = json.dumps(result)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
