#!/usr/bin/env python3
"""Scale-out curve for the range join on LONG intervals (nanopore /
WGS-L shape, BASELINE.md benchmarking.rst:626-632): the sf1 long-read
join at several local[N] core counts, fresh JVM per leg, min-of-RUNS per
leg — evidence that the binned plan parallelizes rather than
serializing on wide intervals (the r9 skew probe covered position skew;
this covers interval WIDTH).

The measured relation densifies the oracle-verified TD.longreads shape
(same 10-100 kb interval arithmetic, modulo 97 instead of 997 -> ~8.7k
reads at sf1) so the join emits ~128M pairs and the curve is not
startup-dominated.  Correctness of the wide-row join is pinned separately
by SWEEP_r10_sf1_long.json (exact sliced-oracle hash at sf1).

Usage: python tools/longread_scale.py [--sf-dir testdata_big/sf1]
       [--cores 4,8,16,32] [--runs 2] [--out fixtures/scaleout/longread.json]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DENSE_LONGREADS_SQL = """
SELECT
  'LR' || CAST(l_orderkey AS STRING) || '_' || CAST(l_linenumber AS STRING) AS qname,
  CAST(1 + (l_orderkey % 5) AS STRING)                       AS contig,
  CAST(1 + ((l_orderkey * 37 + l_linenumber) % 99000) AS INT) AS pos_start,
  CAST(1 + ((l_orderkey * 37 + l_linenumber) % 99000)
       + 10000 + ((l_orderkey * 7919 + l_linenumber) % 90000) AS INT) AS pos_end
FROM lineitem
WHERE l_orderkey % 97 = 0 AND l_linenumber = 1
"""


def run_leg(cores: int, sf_dir: str, runs: int) -> dict:
    import time

    from pyspark.sql import SparkSession

    from sequila_spark import testdata as TD
    from sequila_spark.operators.range_join import range_join

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "24g")
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseParallelGC -XX:-DontCompileHugeMethods "
            "-XX:ReservedCodeCacheSize=512m",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for t in TD.TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    lr = spark.sql(DENSE_LONGREADS_SQL)
    targets = TD.targets(spark, sf_dir)

    def pipeline():
        return range_join(lr, targets, how="inner").select(
            "qname", "target_id"
        )

    n_pairs = pipeline().count()  # warms codegen too
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        pipeline().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    spark.stop()
    return {"cores": cores, "wall_sec": round(best, 2), "pairs": n_pairs}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(REPO, "testdata_big/sf1"))
    ap.add_argument("--cores", default="4,8,16,32")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default=None)
    ap.add_argument("--leg", type=int, default=None, help="(internal) one leg")
    args = ap.parse_args()

    if args.leg:
        print(json.dumps(run_leg(args.leg, args.sf_dir, args.runs)))
        return

    from bench import _cpu_calibration

    legs = []
    for c in (int(x) for x in args.cores.split(",")):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--leg", str(c),
             "--sf-dir", args.sf_dir, "--runs", str(args.runs)],
            capture_output=True,
            text=True,
        )
        line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        if not line:
            print(f"leg {c} failed:\n{proc.stderr[-1500:]}", file=sys.stderr)
            continue
        legs.append(json.loads(line[-1]))
        print(f"# cores={c}: {legs[-1]}", file=sys.stderr)

    out = {"legs": legs, "cpu_calib_sec": _cpu_calibration()}
    if len(legs) >= 2:
        lo, hi = legs[0], legs[-1]
        ideal = hi["cores"] / lo["cores"]
        speedup = lo["wall_sec"] / hi["wall_sec"]
        out["speedup"] = round(speedup, 2)
        out["parallel_efficiency"] = round(speedup / ideal, 2)
    print(json.dumps(out))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
