"""Range-join semantics: boundary cases, option semantics, strategy
equivalence (binned must equal nested-loop on every input), and join-type
extensions."""

import pytest
from pyspark.sql import functions as F

from sequila_spark.operators.range_join import range_join


def _df(spark, rows, prefix):
    return spark.createDataFrame(
        rows, f"{prefix}_id string, contig string, pos_start int, pos_end int"
    ).withColumnsRenamed({f"{prefix}_id": f"{prefix}_id"})


def mk(spark, rows):
    return spark.createDataFrame(rows, "id string, contig string, pos_start int, pos_end int")


def pairs(df):
    return sorted((r["id"], r["id_r"]) for r in df.select("id", "id_r").collect())


def test_basic_overlap_and_boundaries(spark):
    left = mk(spark, [("a", "1", 100, 200)])
    right = mk(
        spark,
        [
            ("touch_left", "1", 50, 100),    # end == left start -> overlap (inclusive)
            ("touch_right", "1", 200, 250),  # start == left end -> overlap
            ("inside", "1", 150, 160),
            ("covering", "1", 50, 300),
            ("adjacent_left", "1", 50, 99),  # gap of 0 bases -> NO overlap
            ("adjacent_right", "1", 201, 250),
            ("other_contig", "2", 100, 200),
        ],
    )
    got = pairs(range_join(left, right))
    assert got == [
        ("a", "covering"),
        ("a", "inside"),
        ("a", "touch_left"),
        ("a", "touch_right"),
    ]


def test_min_overlap(spark):
    left = mk(spark, [("a", "1", 100, 200)])
    right = mk(
        spark,
        [
            ("ov10", "1", 191, 300),  # overlap 10
            ("ov9", "1", 192, 300),   # overlap 9
        ],
    )
    got = pairs(range_join(left, right, min_overlap=10))
    assert got == [("a", "ov10")]


def test_max_gap(spark):
    left = mk(spark, [("a", "1", 100, 200)])
    right = mk(
        spark,
        [
            # widening by g matches when r.start - l.end <= g
            ("sep100", "1", 300, 400),  # 300 - 200 = 100 -> matches
            ("sep101", "1", 301, 400),  # 101 -> no match
            ("far", "1", 500, 520),
        ],
    )
    got = pairs(range_join(left, right, max_gap=100))
    assert got == [("a", "sep100")]


def test_bin_spanning_dedup(spark):
    # overlap spans many bins: must produce exactly ONE output pair
    left = mk(spark, [("a", "1", 1, 50_000)])
    right = mk(spark, [("b", "1", 2, 49_999)])
    out = range_join(left, right, bin_size=1000)
    assert out.count() == 1


def test_no_contig_join(spark):
    left = mk(spark, [("a", "1", 100, 200)])
    right = mk(spark, [("b", "9", 150, 250)])
    got = range_join(left, right, on_contig=None)
    assert got.count() == 1  # contig ignored


@pytest.mark.parametrize("how,expected", [("left_semi", ["a"]), ("left_anti", ["c"])])
def test_semi_anti(spark, how, expected):
    left = mk(spark, [("a", "1", 100, 200), ("c", "1", 900, 950)])
    right = mk(spark, [("b", "1", 150, 250)])
    got = sorted(r["id"] for r in range_join(left, right, how=how).collect())
    assert got == expected


def test_semi_rowid_broadcast_hint(spark, monkeypatch, tmp_path):
    """The composed variants broadcast-hint the matched-rowid relation when
    the LEFT side's planner stats bound it small.  matched_ids' own size
    estimate inherits the inner join's multiplied row estimate, so only the
    hint (or an AQE runtime rescue) can pick the broadcast — assert the
    STATIC plan choice with auto-broadcast disabled, and that withholding
    the hint (budget 0) changes the plan but not the rows.  The left side
    must be scan-backed: a createDataFrame LogicalRDD reports unknown
    (max) size, for which the gate correctly declines the hint."""
    import sequila_spark.operators.range_join as rj

    mk(spark, [("a", "1", 100, 200), ("c", "1", 900, 950)]).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "left.parquet"))
    left = spark.read.parquet(str(tmp_path / "left.parquet"))
    right = mk(spark, [("b", "1", 150, 250)])

    def static_plan(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        hinted = range_join(left, right, how="left_semi")
        plan = static_plan(hinted)
        assert "BroadcastHashJoin LeftSemi" in plan, plan
        rows_hinted = sorted(r["id"] for r in hinted.collect())

        monkeypatch.setattr(rj, "_ROWID_BCAST_MAX_LEFT_BYTES", 0)
        plain = range_join(left, right, how="left_semi")
        plan0 = static_plan(plain)
        assert "BroadcastHashJoin LeftSemi" not in plan0, plan0
        rows_plain = sorted(r["id"] for r in plain.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)

    assert rows_hinted == rows_plain == ["a"]


def test_left_outer(spark):
    left = mk(spark, [("a", "1", 100, 200), ("c", "1", 900, 950)])
    right = mk(spark, [("b", "1", 150, 250)])
    out = range_join(left, right, how="left_outer").collect()
    by_id = {r["id"]: r for r in out}
    assert len(out) == 2
    assert by_id["a"]["id_r"] == "b"
    assert by_id["c"]["id_r"] is None


def test_strategy_equivalence_random(spark):
    # deterministic pseudo-random intervals; binned == nested_loop
    left = spark.range(300).select(
        F.concat(F.lit("L"), "id").alias("id"),
        (F.col("id") % 3).cast("string").alias("contig"),
        (1 + (F.col("id") * 7919) % 10_000).cast("int").alias("pos_start"),
    ).withColumn("pos_end", (F.col("pos_start") + (F.col("pos_start") * 31 % 900)).cast("int"))
    right = spark.range(200).select(
        F.concat(F.lit("R"), "id").alias("id"),
        (F.col("id") % 3).cast("string").alias("contig"),
        (1 + (F.col("id") * 6271) % 10_000).cast("int").alias("pos_start"),
    ).withColumn("pos_end", (F.col("pos_start") + (F.col("pos_start") * 17 % 1500)).cast("int"))

    for kwargs in ({}, {"min_overlap": 50}, {"max_gap": 200}, {"bin_size": 123}):
        b = pairs(range_join(left, right, **kwargs))
        n = pairs(range_join(left, right, strategy="nested_loop", **kwargs))
        assert b == n, f"strategy divergence for {kwargs}"


def test_wide_intervals_match_nested_loop(spark):
    """Multi-megabase intervals (nanopore alignment / whole-gene
    annotation) on both sides go through the same binned plan as short
    ones, and the pairs equal the nested-loop join's."""
    left = mk(
        spark,
        [
            ("nano", "1", 1_000, 1_201_000),   # 1.2 Mb: 1,601 bins at 750 bp
            ("s1", "1", 5_000, 5_400),
            ("s2", "1", 900_000, 900_300),
            ("s3", "2", 5_000, 5_400),
        ],
    )
    right = mk(
        spark,
        [
            ("gene", "1", 800_000, 2_100_000),  # wide on the right side too
            ("t1", "1", 5_100, 5_600),
            ("t2", "1", 1_150_000, 1_160_000),
            ("t3", "2", 1_000_000, 1_000_500),
        ],
    )
    binned = range_join(left, right)
    assert pairs(binned) == pairs(range_join(left, right, strategy="nested_loop"))
    # composed join types go through the same core
    semi = range_join(left, right, how="left_semi")
    assert sorted(r["id"] for r in semi.collect()) == ["nano", "s1", "s2"]


def test_one_wide_side_with_gap_matches_nested_loop(spark):
    """Only the left side holds a wide row; with and without a gap that
    widens the right side, the pairs equal the nested-loop join's."""
    left = mk(
        spark,
        [("nano", "1", 1_000, 2_000_000), ("s1", "1", 5_000, 5_400)],
    )
    right = mk(spark, [(f"R{i}", "1", 1 + i * 9_000, 500 + i * 9_000) for i in range(100)])
    for kwargs in ({}, {"max_gap": 30_000}):
        assert pairs(range_join(left, right, **kwargs)) == pairs(
            range_join(left, right, strategy="nested_loop", **kwargs)
        ), kwargs


def test_plan_runs_no_job_and_has_one_branch(spark, tmp_path):
    """Building the join runs no Spark job, whatever the interval widths,
    and the executed plan is one binned join: no Union, and exactly one
    Generate (the bin explode) per side."""
    lp, rp = str(tmp_path / "left"), str(tmp_path / "right")
    mk(spark, [(f"L{i}", "1", 1 + i * 101, 150 + i * 101) for i in range(50)]
       + [("wide", "1", 1, 2_000_000)]).write.parquet(lp)
    mk(spark, [(f"R{i}", "1", 1 + i * 97, 300 + i * 97) for i in range(50)]).write.parquet(rp)
    left, right = spark.read.parquet(lp), spark.read.parquet(rp)
    sc = spark.sparkContext

    def job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are posted async
        group = sc.getLocalProperty("spark.jobGroup.id")  # None: jobs with no group
        return set(sc.statusTracker().getJobIdsForGroup(group))

    before = job_ids()
    out = range_join(left, right)
    assert job_ids() == before

    out.collect()
    plan = out._jdf.queryExecution().executedPlan().executedPlan().toString()  # AQE final plan
    assert "Union" not in plan
    assert plan.count("Generate") == 2, plan
    assert pairs(out) == pairs(range_join(left, right, strategy="nested_loop"))


def test_partitioning_invariance(spark):
    """Reference test pattern §5.2: identical results regardless of input
    partitioning."""
    left = mk(spark, [(f"L{i}", str(i % 2), 1 + i * 7 % 400, 60 + i * 7 % 400) for i in range(120)])
    right = mk(spark, [(f"R{i}", str(i % 2), 1 + i * 13 % 400, 90 + i * 13 % 400) for i in range(60)])
    one = pairs(range_join(left.coalesce(1), right.coalesce(1)))
    many = pairs(range_join(left.repartition(16), right.repartition(16)))
    assert one == many
