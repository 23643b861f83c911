#!/usr/bin/env python3
"""Contig-level skew robustness artifact for the binned range join
(VERDICT r13 task 4) — SKEW_r14.json.

The r9 skew probe measured a window-level pathology with
task-TIME stats and count()-only verification.  This artifact covers what
that one did not:

* **Contig-level skew**, the shape real genomes have: one contig carries
  60% of all reads (chr1 is ~8% of a human genome, exaggerated here to
  make the failure mode unmissable), with a 20 kb hot-bin window inside
  it holding 30% of ALL reads — the peak-coverage pileup region.
* **Oracle parity on the skewed fixture**: the fixture is WRITTEN to
  parquet and both engines read the same files — the binned join's full
  output and the per-base coverage profile are verified against external
  DuckDB via the order-independent (count, bit_xor, sum mod p) digest,
  not just row counts.  Skew mitigation that changed results would fail
  here first.
* **Per-task shuffle-READ spread** (max/median bytes from the UI REST
  taskSummary), before and after AQE skew-join, per the verdict's ask —
  task time conflates compute skew with read skew; read bytes isolate
  the partitioning itself.

Legs:
  bcast   — production default: AQE broadcasts the 20k-target side; the
            read side never shuffles for the join at all.
  noskew  — broadcast disabled (the 100 TB both-sides-big regime), AQE
            skew-join OFF: the hot (contig, bin) keys pin tasks.
  skew    — broadcast disabled, AQE skew-join ON (thresholds scaled to
            probe shuffle sizes; at production scale the 256 MB defaults
            play the same role).
  coverage — the hot-bin pileup shape: fused coverage events aggregated
            on (contig, chunk) keys; positions SPREAD a hot contig by
            construction, which is the design claim to demonstrate.

Reference anchor: the reference sidesteps contig skew by broadcasting a
driver-built interval forest (rangejoins/IntervalTree/
IntervalTreeJoinOptimChromosomeImpl.scala:78-126) — a driver-memory
bottleneck this engine replaces with bin granularity + AQE.

Deterministic fixture (no RNG beyond xxhash64 on ids); run on a quiet
machine.  Usage:
    python tools/skew_r14.py [--out SKEW_r14.json] [--dir /tmp/skewdata]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.sweep import _SUM_P, _spark_hash_agg  # noqa: E402

N_READS = 1_000_000
N_TARGETS = 20_000
HOT_LO, HOT_HI = 100_001, 120_000  # hot-bin pileup window on contig '1'
COLD_SPACE = 10_000_000
READ_LEN = 100
TARGET_LEN = 300


def build_fixture(spark, out_dir: str) -> None:
    """60% of rows on contig '1'; half of those (30% of ALL rows) inside
    the 20 kb hot window; everything else uniform over 10 Mb.  Written to
    parquet so DuckDB verifies the very same bytes."""
    from pyspark.sql import functions as F

    def side(n: int, ident: str, ilen: int, key: str):
        on_chr1 = F.col("id") % 10 < 6
        in_hot = F.col("id") % 10 < 3
        pos = (
            F.when(
                in_hot,
                F.pmod(F.xxhash64("id", F.lit(ident + "h")),
                       F.lit(HOT_HI - HOT_LO)) + HOT_LO,
            )
            .otherwise(
                F.pmod(F.xxhash64("id", F.lit(ident + "c")),
                       F.lit(COLD_SPACE)) + 1
            )
            .cast("int")
        )
        return spark.range(n).select(
            F.concat(F.lit(ident), "id").alias(key),
            F.when(on_chr1, F.lit("1"))
            .otherwise((F.col("id") % 4 + 2).cast("string"))
            .alias("contig"),
            pos.alias("pos_start"),
        ).withColumn("pos_end", F.col("pos_start") + ilen - 1)

    side(N_READS, "r", READ_LEN, "qname").write.mode("overwrite").parquet(
        os.path.join(out_dir, "reads.parquet")
    )
    side(N_TARGETS, "t", TARGET_LEN, "target_id").write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "targets.parquet"))


def duck_digest(sql: str, cols: list[str]) -> tuple:
    """(count, bit_xor, sum mod p) of the oracle result — same
    canonicalization as tools/sweep.distributed_hash_check."""
    import duckdb

    canon = "concat_ws(chr(31), {parts})".format(
        parts=", ".join(
            f"coalesce(CAST(\"{c}\" AS VARCHAR), chr(2) || 'NULL')"
            for c in sorted(cols)
        )
    )
    h = f"CAST('0x' || substr(md5({canon}), 1, 15) AS BIGINT)"
    con = duckdb.connect()
    try:
        row = con.execute(
            f"SELECT count(*), bit_xor(h), sum(h % {_SUM_P}) "
            f"FROM (SELECT {h} AS h FROM ({sql}) q) hashed"
        ).fetchone()
    finally:
        con.close()
    return (int(row[0]), int(row[1]), int(row[2]))


def rest(app_url: str, path: str):
    with urllib.request.urlopen(app_url + path, timeout=10) as r:
        return json.load(r)


def stage_spread(app_url: str, group: str) -> list[dict]:
    """Per-stage task counts + shuffle-read byte spread (median / max)."""
    jobs = [j for j in rest(app_url, "/jobs") if j.get("jobGroup") == group]
    sids = sorted({s for j in jobs for s in j["stageIds"]})
    out = []
    for sid in sids:
        try:
            stages = rest(app_url, f"/stages/{sid}")
        except Exception:
            continue
        for st in stages:
            if st["status"] != "COMPLETE" or st["numCompleteTasks"] == 0:
                continue
            q = rest(
                app_url,
                f"/stages/{sid}/{st['attemptId']}/taskSummary"
                "?quantiles=0.0,0.5,1.0",
            )
            sr = q.get("shuffleReadMetrics")
            if not sr or sr["readBytes"][2] == 0:
                continue  # only shuffle-READ stages are the subject here
            med, mx = sr["readBytes"][1], sr["readBytes"][2]
            out.append(
                {
                    "stage": sid,
                    "tasks": st["numCompleteTasks"],
                    "shuffle_read_med": round(med),
                    "shuffle_read_max": round(mx),
                    "read_spread": round(mx / max(med, 1.0), 2),
                    "task_ms_med": round(q["executorRunTime"][1]),
                    "task_ms_max": round(q["executorRunTime"][2]),
                }
            )
    out.sort(key=lambda s: -s["shuffle_read_max"])
    return out[:4]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="SKEW_r14.json")
    ap.add_argument("--dir", default="/tmp/skewdata")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from sequila_spark.operators.coverage import coverage
    from sequila_spark.operators.range_join import range_join

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.retainedJobs", "3000")
        .config("spark.ui.retainedStages", "3000")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    app_url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    os.makedirs(args.dir, exist_ok=True)
    build_fixture(spark, args.dir)
    rp = os.path.join(args.dir, "reads.parquet")
    tp = os.path.join(args.dir, "targets.parquet")
    reads = spark.read.parquet(rp)
    targets = spark.read.parquet(tp)

    # fixture shape assertions: contig-1 share and hot-window share
    n = reads.count()
    chr1 = reads.where(F.col("contig") == "1").count()
    hot = reads.where(
        (F.col("contig") == "1") & F.col("pos_start").between(HOT_LO, HOT_HI)
    ).count()
    assert 0.55 <= chr1 / n <= 0.65, chr1 / n
    assert 0.25 <= hot / n <= 0.35, hot / n
    fixture = {
        "n_reads": n,
        "n_targets": targets.count(),
        "chr1_frac": round(chr1 / n, 4),
        "hot_window_frac": round(hot / n, 4),
        "hot_window": [HOT_LO, HOT_HI],
    }
    print(f"# fixture: {fixture}", file=sys.stderr)

    # ---- oracle parity on the skewed fixture (values, not counts) ------
    pair_cols = ["qname", "target_id"]
    sdf = range_join(reads, targets, how="inner").select(*pair_cols)
    s_dig = _spark_hash_agg(sdf)
    d_dig = duck_digest(
        f"""
        SELECT r.qname AS qname, t.target_id AS target_id
        FROM read_parquet('{rp}/*.parquet') r
        JOIN read_parquet('{tp}/*.parquet') t
          ON r.contig = t.contig
         AND r.pos_start <= t.pos_end AND r.pos_end >= t.pos_start
        """,
        pair_cols,
    )
    join_parity = {
        "spark_digest": list(s_dig),
        "oracle_digest": list(d_dig),
        "hash_match": tuple(s_dig) == tuple(d_dig),
        "pairs": s_dig[0],
    }
    print(f"# join_parity: {join_parity}", file=sys.stderr)

    # per-base coverage profile over the hot-bin pileup region ± 10 kb —
    # exact per-position values through the skewed peak
    cov_cols = ["contig", "pos_start", "pos_end", "coverage"]
    cdf = coverage(reads, mode="bases", use_cigar=False).where(
        (F.col("contig") == "1")
        & F.col("pos_start").between(HOT_LO - 10_000, HOT_HI + 10_000)
    )
    sc_dig = _spark_hash_agg(cdf.select(*cov_cols))
    dc_dig = duck_digest(
        f"""
        SELECT contig, pos AS pos_start, pos AS pos_end,
               count(*)::INT AS coverage
        FROM (
          SELECT contig,
                 unnest(generate_series(pos_start, pos_end)) AS pos
          FROM read_parquet('{rp}/*.parquet') WHERE contig = '1'
        )
        WHERE pos BETWEEN {HOT_LO - 10_000} AND {HOT_HI + 10_000}
        GROUP BY contig, pos
        """,
        cov_cols,
    )
    cov_parity = {
        "spark_digest": list(sc_dig),
        "oracle_digest": list(dc_dig),
        "hash_match": tuple(sc_dig) == tuple(dc_dig),
        "positions": sc_dig[0],
    }
    print(f"# coverage_parity: {cov_parity}", file=sys.stderr)

    # ---- shuffle-read spread, before/after mitigation ------------------
    legs = {
        "bcast": {"spark.sql.autoBroadcastJoinThreshold": "10m",
                  "spark.sql.adaptive.skewJoin.enabled": "true"},
        "noskew": {"spark.sql.autoBroadcastJoinThreshold": "-1",
                   "spark.sql.adaptive.skewJoin.enabled": "false"},
        "skew": {"spark.sql.autoBroadcastJoinThreshold": "-1",
                 "spark.sql.adaptive.skewJoin.enabled": "true"},
    }
    # probe-scale skew thresholds (defaults are tuned for 256 MB shuffles)
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512k")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k"
    )

    results: dict[str, dict] = {}
    for name, conf in legs.items():
        for k, v in conf.items():
            spark.conf.set(k, v)
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        pairs = range_join(reads, targets, how="inner").count()
        wall = time.perf_counter() - t0
        sc.setJobGroup("idle", "idle")
        results[name] = {
            "wall_sec": round(wall, 2),
            "pairs": pairs,
            "stages": stage_spread(app_url, name),
        }
        print(f"# {name}: {results[name]}", file=sys.stderr)
    assert len({r["pairs"] for r in results.values()}) == 1, results

    # the hot-bin pileup shape: coverage blocks on the skewed reads —
    # (contig, chunk) keys spread chr1 across tasks by construction
    sc.setJobGroup("coverage", "coverage")
    t0 = time.perf_counter()
    n_blocks = coverage(reads, mode="blocks", use_cigar=False).count()
    wall = time.perf_counter() - t0
    sc.setJobGroup("idle", "idle")
    results["coverage"] = {
        "wall_sec": round(wall, 2),
        "blocks": n_blocks,
        "stages": stage_spread(app_url, "coverage"),
    }
    print(f"# coverage: {results['coverage']}", file=sys.stderr)

    artifact = {
        "fixture": fixture,
        "join_parity": join_parity,
        "coverage_parity": cov_parity,
        "legs": results,
    }
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=1)
    ok = join_parity["hash_match"] and cov_parity["hash_match"]
    print(json.dumps({"out": args.out, "parity_ok": ok}))


if __name__ == "__main__":
    main()
