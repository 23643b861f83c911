#!/usr/bin/env python3
"""Skew-survival probe for the flagship binned range join (VERDICT r8 #5).

Fixture: a WES/panel-shaped pathology — 80% of reads AND 80% of targets
concentrated in one 20 kb hot window of contig '1' (4 hot (contig, bin)
keys at the default bin_size=5000, i.e. FEWER hot keys than shuffle
partitions, so hashing cannot spread them), the rest uniform over 5
contigs x 10 Mb.  The hot keys are output-quadratic: ~n_reads*n_targets/
n_bins candidate evaluations each.

Reference anchor: the per-chromosome forest of
IntervalTreeJoinOptimChromosome.scala:34-123 exists precisely because of
this load shape; here the claim under test is that bin granularity + AQE
skew-join replace it.

Legs (all count() the full join output):
  bcast        — production default: AQE broadcasts the small side; the
                 probe side never shuffles, so key skew cannot pin a task.
  noskew       — broadcast disabled (the 100 TB both-sides-big regime),
                 AQE skew-join OFF: the 4 hot keys land on <=4 tasks.
  skew         — broadcast disabled, AQE skew-join ON with thresholds
                 scaled to probe size (skewedPartitionThresholdInBytes /
                 advisoryPartitionSizeInBytes lowered; at production
                 scale the 256 MB defaults play the same role).
  skew_bin_50k / skew_bin_1k — bin_size sweep under the skew leg: 50 kb
                 bins collapse the hot window into ONE key (the size at
                 which bin granularity stops helping and AQE is the only
                 mitigation); 1 kb bins give 20 hot keys (granularity
                 does the spreading itself).

Per leg, the Spark UI REST API yields the task-time histogram
(max/median) and task counts of every stage the leg ran — AQE splitting
shows up as more tasks than shuffle.partitions and a collapsing
max/median ratio.

Prints one JSON line; paste the table into SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

N_READS = 1_000_000
N_TARGETS = 10_000
HOT_FRAC_MOD = 5  # id % 5 != 0 -> hot (80%)
HOT_LO, HOT_HI = 100_001, 120_000  # 20 kb hot window on contig '1'
COLD_SPACE = 10_000_000
READ_LEN = 100
TARGET_LEN = 300


def synth(spark):
    from pyspark.sql import functions as F

    hot = F.col("id") % HOT_FRAC_MOD != 0
    reads = spark.range(N_READS).select(
        F.concat(F.lit("r"), "id").alias("qname"),
        F.when(hot, F.lit("1"))
        .otherwise((F.col("id") % 5 + 1).cast("string"))
        .alias("contig"),
        F.when(hot, F.pmod(F.xxhash64("id"), F.lit(HOT_HI - HOT_LO)) + HOT_LO)
        .otherwise(F.abs(F.xxhash64("id", F.lit("c"))) % COLD_SPACE + 1)
        .cast("int")
        .alias("pos_start"),
    ).withColumn("pos_end", F.col("pos_start") + READ_LEN - 1)
    targets = spark.range(N_TARGETS).select(
        F.concat(F.lit("t"), "id").alias("target_id"),
        F.when(hot, F.lit("1"))
        .otherwise((F.col("id") % 5 + 1).cast("string"))
        .alias("contig"),
        F.when(
            hot, F.pmod(F.xxhash64("id", F.lit("t")), F.lit(HOT_HI - HOT_LO)) + HOT_LO
        )
        .otherwise(F.abs(F.xxhash64("id", F.lit("tc"))) % COLD_SPACE + 1)
        .cast("int")
        .alias("pos_start"),
    ).withColumn("pos_end", F.col("pos_start") + TARGET_LEN - 1)
    return reads, targets


def rest(app_url: str, path: str):
    with urllib.request.urlopen(app_url + path, timeout=10) as r:
        return json.load(r)


def stage_stats(app_url: str, group: str) -> list[dict]:
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
            out.append(
                {
                    "stage": sid,
                    "tasks": st["numCompleteTasks"],
                    "task_ms_med": round(q["executorRunTime"][1]),
                    "task_ms_max": round(q["executorRunTime"][2]),
                    "shuffle_read_max": round(q["shuffleReadMetrics"]["readBytes"][2])
                    if "shuffleReadMetrics" in q
                    else 0,
                }
            )
    # heaviest stages first; drop trivia
    out.sort(key=lambda s: -s["task_ms_max"])
    return [s for s in out if s["task_ms_max"] >= 200][:4]


def main() -> None:
    from pyspark.sql import SparkSession

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

    reads, targets = synth(spark)
    reads = reads.persist()
    targets = targets.persist()
    # fail fast if the fixture drifts: a signed-modulo bug here once made
    # the hot window twice as wide as designed, silently halving the key
    # skew the whole experiment exists to measure
    from pyspark.sql import functions as F

    for df, label in ((reads, "reads"), (targets, "targets")):
        hot_rows = df.where(
            (F.col("contig") == "1")
            & F.col("pos_start").between(HOT_LO, HOT_HI)
        ).count()
        frac = hot_rows / df.count()
        assert 0.75 <= frac <= 0.85, (label, frac)
    print(
        f"# fixture: {reads.count()} reads / {targets.count()} targets, "
        f"hot window {HOT_LO}-{HOT_HI} on contig 1",
        file=sys.stderr,
    )

    legs = {
        "bcast": {"conf": {"spark.sql.autoBroadcastJoinThreshold": "10m",
                           "spark.sql.adaptive.skewJoin.enabled": "true"},
                  "bin_size": 5000},
        "noskew": {"conf": {"spark.sql.autoBroadcastJoinThreshold": "-1",
                            "spark.sql.adaptive.skewJoin.enabled": "false"},
                   "bin_size": 5000},
        "skew": {"conf": {"spark.sql.autoBroadcastJoinThreshold": "-1",
                          "spark.sql.adaptive.skewJoin.enabled": "true"},
                 "bin_size": 5000},
        "skew_bin_50k": {"conf": {"spark.sql.autoBroadcastJoinThreshold": "-1",
                                  "spark.sql.adaptive.skewJoin.enabled": "true"},
                         "bin_size": 50_000},
        "skew_bin_1k": {"conf": {"spark.sql.autoBroadcastJoinThreshold": "-1",
                                 "spark.sql.adaptive.skewJoin.enabled": "true"},
                        "bin_size": 1000},
    }
    # probe-scale skew thresholds (the 256 MB/64 MB defaults are tuned for
    # production shuffles; the probe's hot partitions are single-digit MB)
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512k")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")

    results = {}
    for name, leg in legs.items():
        for k, v in leg["conf"].items():
            spark.conf.set(k, v)
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        n = range_join(
            reads, targets, how="inner", bin_size=leg["bin_size"]
        ).count()
        wall = time.perf_counter() - t0
        sc.setJobGroup("idle", "idle")
        results[name] = {
            "wall_sec": round(wall, 2),
            "pairs": n,
            "bin_size": leg["bin_size"],
            "stages": stage_stats(app_url, name),
        }
        print(f"# {name}: {results[name]}", file=sys.stderr)

    print(json.dumps({"fixture": {"n_reads": N_READS, "n_targets": N_TARGETS,
                                  "hot_window": [HOT_LO, HOT_HI]},
                      "legs": results}))


if __name__ == "__main__":
    main()
