"""Coverage semantics: CIGAR-aware block expansion (M/=/X emit, D/N advance,
I/S/H/P consume nothing — pileup/model/Read.scala:27-54), block merging,
chunk-boundary stitching, windows weighting, partitioning invariance."""

from pyspark.sql import functions as F

from sequila_spark.operators.coverage import aligned_blocks, coverage


def reads_df(spark, rows):
    return spark.createDataFrame(
        rows, "qname string, contig string, pos_start int, pos_end int, cigar string"
    )


def blocks_of(df):
    return sorted(
        (r["contig"], r["pos_start"], r["pos_end"], r["coverage"])
        for r in df.collect()
    )


def test_cigar_block_expansion(spark):
    # 10M 5D 10M: two blocks, deletion advances reference
    df = reads_df(spark, [("r1", "1", 100, 124, "10M5D10M")])
    blks = sorted(
        (r["__sq_bs"], r["__sq_be"]) for r in aligned_blocks(df).collect()
    )
    assert blks == [(100, 109), (115, 124)]


def test_cigar_insertion_softclip(spark):
    # 5S 10M 3I 10M: soft-clip and insertion consume no reference
    df = reads_df(spark, [("r1", "1", 100, 119, "5S10M3I10M")])
    blks = sorted((r["__sq_bs"], r["__sq_be"]) for r in aligned_blocks(df).collect())
    assert blks == [(100, 109), (110, 119)]


def test_cigar_skip_region(spark):
    # 10M 100N 10M (spliced read)
    df = reads_df(spark, [("r1", "1", 1, 120, "10M100N10M")])
    blks = sorted((r["__sq_bs"], r["__sq_be"]) for r in aligned_blocks(df).collect())
    assert blks == [(1, 10), (111, 120)]


def test_coverage_blocks_merging(spark):
    df = reads_df(
        spark,
        [
            ("r1", "1", 1, 10, None),
            ("r2", "1", 5, 14, None),
            ("r3", "1", 11, 20, None),
        ],
    )
    got = blocks_of(coverage(df, mode="blocks", use_cigar=False))
    # depth: 1-4 ->1, 5-10 ->2, 11-14 ->2, 15-20 ->1; runs 5-14 merge (equal cov)
    assert got == [("1", 1, 4, 1), ("1", 5, 14, 2), ("1", 15, 20, 1)]


def test_coverage_gap_produces_separate_blocks(spark):
    df = reads_df(spark, [("r1", "1", 1, 5, None), ("r2", "1", 100, 105, None)])
    got = blocks_of(coverage(df, mode="blocks", use_cigar=False))
    assert got == [("1", 1, 5, 1), ("1", 100, 105, 1)]


def test_chunk_boundary_stitching(spark):
    # one read spanning a chunk boundary with tiny chunk_size
    df = reads_df(spark, [("r1", "1", 95, 110, None), ("r2", "1", 98, 120, None)])
    got = blocks_of(coverage(df, mode="blocks", use_cigar=False, chunk_size=100))
    expect = blocks_of(coverage(df, mode="blocks", use_cigar=False, chunk_size=10**6))
    assert got == expect
    assert got == [("1", 95, 97, 1), ("1", 98, 110, 2), ("1", 111, 120, 1)]


def test_coverage_with_cigar_deletion(spark):
    df = reads_df(spark, [("r1", "1", 100, 124, "10M5D10M")])
    got = blocks_of(coverage(df, mode="blocks"))
    assert got == [("1", 100, 109, 1), ("1", 115, 124, 1)]


def test_bases_mode(spark):
    df = reads_df(spark, [("r1", "1", 3, 5, None)])
    rows = sorted((r["pos_start"], r["coverage"]) for r in coverage(df, mode="bases", use_cigar=False).collect())
    assert rows == [(3, 1), (4, 1), (5, 1)]


def test_windows_weighted_mean(spark):
    # coverage 1 over 1..150 with window 100: win1 avg=1.0 (100/100), win2 avg=0.5
    df = reads_df(spark, [("r1", "1", 1, 150, None)])
    rows = sorted(
        (r["pos_start"], r["pos_end"], r["coverage"])
        for r in coverage(df, mode="windows", window_size=100, use_cigar=False).collect()
    )
    assert rows == [(1, 100, 1.0), (101, 200, 0.5)]


def test_partitioning_invariance(spark):
    # same data in 1 partition vs 16 partitions -> identical blocks
    rows = [
        ("r%d" % i, str(1 + i % 2), 1 + (i * 131) % 500, 1 + (i * 131) % 500 + 49, None)
        for i in range(200)
    ]
    df1 = reads_df(spark, rows).coalesce(1)
    df16 = reads_df(spark, rows).repartition(16)
    assert blocks_of(coverage(df1, mode="blocks", use_cigar=False)) == blocks_of(
        coverage(df16, mode="blocks", use_cigar=False)
    )


def test_coverage_bases_with_ref(spark):
    import os

    from sequila_spark.operators.coverage import coverage
    from sequila_spark.sources import read_fasta_bases

    fix = os.path.join(os.path.dirname(__file__), "fixtures", "test.fasta")
    reads = reads_df(spark, [("r1", "1", 2, 5, None)])
    out = coverage(
        reads, mode="bases", use_cigar=False, ref_bases=read_fasta_bases(spark, fix)
    ).collect()
    got = sorted((r["pos_start"], r["ref"], r["coverage"]) for r in out)
    # contig 1 of the fixture is ACGTACGT... -> positions 2..5 = C,G,T,A
    assert got == [(2, "C", 1), (3, "G", 1), (4, "T", 1), (5, "A", 1)]


def test_multi_chunk_run_merges_to_one_row(spark):
    """A constant-coverage run spanning MANY chunks must come back as one
    block — the boundary-merge pass chains across every artificial split
    the clip design introduces (chunk_size 10 -> a 95-long run crosses 9
    boundaries)."""
    df = reads_df(spark, [("r1", "1", 6, 100, None), ("r2", "1", 6, 100, None)])
    got = blocks_of(coverage(df, mode="blocks", use_cigar=False, chunk_size=10))
    assert got == [("1", 6, 100, 2)]


def test_boundary_real_change_point_not_merged(spark):
    """A REAL coverage change exactly at a chunk boundary must stay two
    rows (the merge only collapses equal-coverage splits)."""
    df = reads_df(
        spark,
        [("r1", "1", 1, 10, None), ("r2", "1", 1, 20, None)],
    )
    got = blocks_of(coverage(df, mode="blocks", use_cigar=False, chunk_size=10))
    assert got == [("1", 1, 10, 2), ("1", 11, 20, 1)]


def test_coverage_blocks_walks_matches_union(spark):
    """The fused multi-walk pipeline (one tagged explode, one events
    aggregation, one window — r16) must be row-identical to the union of
    per-walk coverage() calls, on reads where the walks genuinely differ
    (mixed CIGARs: deletions split blocks) and across chunk boundaries."""
    from sequila_spark.operators.coverage import coverage_blocks_walks

    df = reads_df(
        spark,
        [
            ("r1", "1", 1, 30, "10M5D15M"),   # cigar walk splits; span does not
            ("r2", "1", 8, 27, "20M"),         # crosses chunk boundary at 10/20
            ("r3", "2", 5, 24, "5S10M3I10M"),  # soft-clip + insertion
            ("r4", "2", 15, 34, None),         # no cigar: span walk only; cigar walk drops the read
        ],
    )
    # read_bam_native(with_blocks=True) shape: the decoder's aligned blocks
    # and no cigar column, so the cigar walk can only come from __blocks
    with_blocks = df.withColumn(
        "__blocks",
        F.expr(
            "CASE qname WHEN 'r1' THEN array(named_struct('s', 1, 'e', 10), named_struct('s', 16, 'e', 30)) "
            "WHEN 'r2' THEN array(named_struct('s', 8, 'e', 27)) "
            "WHEN 'r3' THEN array(named_struct('s', 5, 'e', 14), named_struct('s', 15, 'e', 24)) "
            "END"
        ),
    ).drop("cigar")
    key = lambda r: (r["walk"], r["contig"], r["pos_start"], r["pos_end"], r["coverage"])  # noqa: E731
    results = []
    for reads in (df, with_blocks):
        union = (
            coverage(reads, mode="blocks", use_cigar=False, chunk_size=10)
            .select(F.lit("span").alias("walk"), "*")
            .unionByName(
                coverage(reads, mode="blocks", use_cigar=True, chunk_size=10).select(
                    F.lit("cigar").alias("walk"), "*"
                )
            )
        )
        fused = sorted(map(key, coverage_blocks_walks(reads, chunk_size=10).collect()))
        assert fused == sorted(map(key, union.collect()))
        results.append(fused)
    # the decoder's blocks give the same rows as the CIGAR walk
    assert results[0] == results[1]
    # both walks present and differ where the deletion splits the block
    assert {k[0] for k in results[0]} == {"span", "cigar"}


def test_fused_coverage_events_matches_batch_operator(spark):
    """read_bam_coverage_events + coverage_from_events must produce exactly
    the rows coverage(read_bam_native(..., with_blocks=True)) produces —
    unfiltered AND with the reference's 1796/mapq filter, on both real
    fixtures (incl. the dense-bincount and sorted event paths)."""
    import os

    import pytest as _pytest

    from sequila_spark.sources import read_bam_native
    from sequila_spark.sources.bam import read_bam_coverage_events
    from sequila_spark.operators.coverage import coverage_from_events

    bams = [
        "/root/reference/src/test/resources/NA12878.slice.bam",
        "/root/reference/src/test/resources/multichrom/mdbam/"
        "NA12878.multichrom.md.bam",
    ]
    bams = [b for b in bams if os.path.exists(b)]
    if not bams:
        _pytest.skip("no reference BAMs")
    for bam in bams:
        a = coverage(
            read_bam_native(
                spark, bam, with_tags=False,
                columns=["sample_id", "contig", "pos_start", "pos_end"],
                with_blocks=True,
            ),
            fuse=False,
        )
        b = coverage_from_events(read_bam_coverage_events(spark, bam))
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
        c = coverage(
            read_bam_native(
                spark, bam, with_tags=False,
                columns=["sample_id", "contig", "pos_start", "pos_end",
                         "flag", "mapq"],
                with_blocks=True,
            ),
            flag_mask=1796, min_mapq=10, fuse=False,
        )
        d = coverage_from_events(
            read_bam_coverage_events(spark, bam, flag_mask=1796, min_mapq=10)
        )
        assert sorted(map(tuple, c.collect())) == sorted(map(tuple, d.collect()))


def test_fused_coverage_events_chunk_sizes(spark):
    """The fused path must be chunk_size-invariant (clip + merge round
    trip) including TINY chunks that force the boundary-end bincount and
    multi-chunk spans."""
    import os

    import pytest as _pytest

    from sequila_spark.sources.bam import read_bam_coverage_events
    from sequila_spark.operators.coverage import coverage_from_events

    bam = "/root/reference/src/test/resources/NA12878.slice.bam"
    if not os.path.exists(bam):
        _pytest.skip("no reference BAM")
    ref = sorted(
        map(tuple, coverage_from_events(
            read_bam_coverage_events(spark, bam)).collect())
    )
    for cs in (64, 1009, 1_000_000):
        got = sorted(
            map(tuple, coverage_from_events(
                read_bam_coverage_events(spark, bam, chunk_size=cs),
                chunk_size=cs,
            ).collect())
        )
        assert got == ref, f"chunk_size={cs}"


def test_fused_events_chunk_size_mismatch_is_loud(spark):
    """Events clipped at one chunk_size consumed with another must raise
    (a silent mismatch would leave boundary splits unmerged)."""
    import os

    import pytest as _pytest

    from sequila_spark.sources.bam import read_bam_coverage_events
    from sequila_spark.operators.coverage import coverage_from_events

    bam = "/root/reference/src/test/resources/NA12878.slice.bam"
    if not os.path.exists(bam):
        _pytest.skip("no reference BAM")
    ev = read_bam_coverage_events(spark, bam, chunk_size=16_384)
    with _pytest.raises(Exception, match="different chunk_size"):
        coverage_from_events(ev, chunk_size=1_000_000).count()


def test_coverage_auto_fuses_native_reader(spark):
    """coverage(read_bam_native(...)) must auto-plan the fused
    decode->events path (the per-read columns never enter the plan), stay
    row-exact vs fuse=False, and NOT fuse once the relation is
    transformed or the needed columns are pruned."""
    import os

    import pytest as _pytest

    from sequila_spark.sources import read_bam_native

    bam = "/root/reference/src/test/resources/NA12878.slice.bam"
    if not os.path.exists(bam):
        _pytest.skip("no reference BAM")

    import re

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def is_fused(df):
        # the fused scan node: MapInArrow ... [contig#, chunk#, pos#, delta#]
        return bool(
            re.search(r"MapInArrow [^\[]*\[contig#\d+, chunk#", plan(df))
        )

    auto = coverage(read_bam_native(spark, bam), flag_mask=1796, min_mapq=10)
    unfused = coverage(
        read_bam_native(spark, bam), flag_mask=1796, min_mapq=10, fuse=False
    )
    # the fused scan emits (contig, chunk, pos, delta)
    assert is_fused(auto)
    assert not is_fused(unfused)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, unfused.collect())
    )

    # windows mode fuses too
    w = coverage(read_bam_native(spark, bam), mode="windows", window_size=500)
    assert is_fused(w)
    assert w.count() > 0

    # a TRANSFORMED relation must not fuse (provenance does not propagate)
    filtered = read_bam_native(spark, bam).where("mapq > 0")
    assert not is_fused(coverage(filtered))
    with _pytest.raises(ValueError, match="fuse=True"):
        coverage(filtered, fuse=True)

    # pruning flag away + flag_mask: declarative filter would be a no-op,
    # so the fused reader must not filter either -> no fusion
    pruned = read_bam_native(
        spark, bam, with_tags=False,
        columns=["sample_id", "contig", "pos_start", "pos_end", "cigar"],
    )
    assert not is_fused(coverage(pruned, flag_mask=1796))
    # ...but without the filter it fuses (cigar is available)
    assert is_fused(coverage(pruned))

    # span coverage (use_cigar=False) is a different operator: never fuse
    assert not is_fused(
        coverage(read_bam_native(spark, bam), use_cigar=False)
    )
