"""Storage-layout optimizations (§2.2/§4 parity): writing alignments with
write_alignments must give partition pruning on sample_id and row-group
predicate pushdown on (contig, pos_start) — the built-in equivalents of the
reference's glob rewriting and BAI interval pushdown."""

from pyspark.sql import functions as F


def _write(spark, tmp_path):
    from sequila_spark.sources import write_alignments

    df = spark.createDataFrame(
        [
            (s, f"r{s}{i}", str(1 + i % 3), 100 * i + 1, 100 * i + 50)
            for s in ("A", "B", "C")
            for i in range(100)
        ],
        "sample_id string, qname string, contig string, pos_start int, pos_end int",
    )
    path = str(tmp_path / "aligned")
    write_alignments(df, path)
    return path


def test_partition_pruning_by_sample(spark, tmp_path):
    from sequila_spark.sources import read_alignments

    path = _write(spark, tmp_path)
    df = read_alignments(spark, path).where(F.col("sample_id") == "A")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert df.count() == 100
    # pruning visible: only one of three partition dirs scanned
    scanned = df.select(F.input_file_name()).distinct().collect()
    assert all("sample_id=A" in r[0] for r in scanned)


def test_predicate_pushdown_on_position(spark, tmp_path):
    from sequila_spark.sources import read_alignments

    path = _write(spark, tmp_path)
    df = read_alignments(spark, path).where(
        (F.col("contig") == "1") & (F.col("pos_start") > 5000)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "pos_start" in plan
    assert df.count() > 0


def test_distinct_samples_from_partitions(spark, tmp_path):
    from sequila_spark.sources import read_alignments

    path = _write(spark, tmp_path)
    got = sorted(
        r["sample_id"]
        for r in read_alignments(spark, path).select("sample_id").distinct().collect()
    )
    assert got == ["A", "B", "C"]


def test_limit_pushdown_plan(spark, tmp_path):
    """LIMIT over a scan plans as CollectLimit (no full materialization) —
    the built-in equivalent of the reference's LIMIT fast path
    (SequilaDataSourceStrategy.scala:56-75)."""
    from sequila_spark.sources import read_alignments

    path = _write(spark, tmp_path)
    df = read_alignments(spark, path).limit(7)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CollectLimit" in plan or "GlobalLimit" in plan
    assert df.count() == 7


def test_write_alignments_assume_sorted_roundtrip(spark, tmp_path, gen_cohort):
    """assume_sorted=True (decode output is already per-task coordinate-
    ordered) must round-trip the same multiset with the same partition
    layout and keep per-file (contig, pos) order for row-group skipping.
    The generated cohort has two samples over six contigs, so a decode task
    holds spans of several contigs and, at a file boundary, two samples."""
    import os

    from sequila_spark.sources import read_alignments, read_bam_native, write_alignments

    bam, _ = gen_cohort
    reads = read_bam_native(spark, bam, with_tags=False).drop("tags")
    p1 = str(tmp_path / "sorted_skip")
    p2 = str(tmp_path / "shuffled")
    write_alignments(reads, p1, assume_sorted=True)
    write_alignments(reads, p2)
    a = sorted(map(tuple, read_alignments(spark, p1).collect()))
    b = sorted(map(tuple, read_alignments(spark, p2).collect()))
    assert a == b and len(a) > 0
    # same sample_id= partition directories either way
    assert sorted(d for d in os.listdir(p1) if d.startswith("sample_id=")) == sorted(
        d for d in os.listdir(p2) if d.startswith("sample_id=")
    )
    # per-file order: read one parquet file raw and check monotone pos
    import glob

    f = glob.glob(f"{p1}/sample_id=*/*.parquet")[0]
    rows = spark.read.parquet(f).select("contig", "pos_start").collect()
    keys = [(r["contig"], r["pos_start"]) for r in rows]
    assert keys == sorted(keys)
