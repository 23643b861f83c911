"""Coverage semantics: CIGAR-aware block expansion (M/=/X emit, D/N advance,
I/S/H/P consume nothing — pileup/model/Read.scala:27-54), block merging,
chunk-boundary stitching, windows weighting, partitioning invariance."""

from pyspark.sql import functions as F

from sequila_spark.operators.coverage import aligned_blocks, coverage
from tests.test_bam_vec import MDBAM, SLICE


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


def _walk_blocks(row, use_cigar):
    """A read's aligned blocks, walked here op by op: M/=/X emit, D/N
    advance the reference, I/S/H/P consume none of it; no CIGAR, no
    blocks."""
    import re

    _, _, start, end, cigar = row
    if not use_cigar:
        return [(start, end)]
    out, r = [], start
    for n, op in re.findall(r"(\d+)([MIDNSHP=X])", cigar or ""):
        if op in "M=X":
            out.append((r, r + int(n) - 1))
        if op in "MDN=X":
            r += int(n)
    return out


def _runs_of_depth(rows, use_cigar):
    """Maximal runs of equal non-zero depth from a per-base count."""
    depth = {}
    for row in rows:
        for s, e in _walk_blocks(row, use_cigar):
            for pos in range(s, e + 1):
                depth[(row[1], pos)] = depth.get((row[1], pos), 0) + 1
    runs = []
    for (contig, pos), cov in sorted(depth.items()):
        last = runs[-1] if runs else None
        if last and last[0] == contig and last[2] == pos - 1 and last[3] == cov:
            runs[-1] = (contig, last[1], pos, cov)
        else:
            runs.append((contig, pos, pos, cov))
    return runs


def test_coverage_walks_match_per_base_count(spark):
    """Both block walks (span and CIGAR) against a per-base count: reads
    whose walks differ (a deletion splits one block, a soft clip and an
    insertion shift none), one read across the chunk boundaries at 10 and
    20, and one read without a CIGAR, which only the span walk covers."""
    rows = [
        ("r1", "1", 1, 30, "10M5D15M"),
        ("r2", "1", 8, 27, "20M"),
        ("r3", "2", 5, 24, "5S10M3I10M"),
        ("r4", "2", 15, 34, None),
    ]
    df = reads_df(spark, rows)
    got = {
        use_cigar: blocks_of(coverage(df, mode="blocks", use_cigar=use_cigar, chunk_size=10))
        for use_cigar in (False, True)
    }
    for use_cigar, blocks in got.items():
        assert blocks == _runs_of_depth(rows, use_cigar), f"use_cigar={use_cigar}"
    assert got[True] != got[False]


def _digest(df, keys):
    """contig -> tuple of integer sums over ``keys`` (name -> Column)."""
    out = df.groupBy("contig").agg(*[v.alias(k) for k, v in keys.items()])
    return {r["contig"]: tuple(int(r[k]) for k in keys) for r in out.collect()}


def test_declarative_paths_match_numpy_truth(spark, gen_cohort, bench):
    """The declarative coverage and pileup plans over the generated cohort
    (70% gapless, 10% soft-clipped, 10% one deletion, 10% one insertion)
    against perfbench's NumPy truth, which shares no code with the
    product: blocks over the pooled cohort, windows over one sample, and
    the sparse and dense pileup of one sample."""
    import os

    from sequila_spark.operators.pileup import pileup
    from sequila_spark.sources.bam import read_bam_native

    gen, truth = bench
    cohort, samples = gen_cohort
    s0 = os.path.join(cohort, "S0.bam")

    s, e, c = (F.col(k).cast("long") for k in ("pos_start", "pos_end", "coverage"))
    blocks = coverage(read_bam_native(spark, cohort), mode="blocks", fuse=False)
    got = _digest(blocks, {
        "n": F.count("*"),
        "bases": F.sum((e - s + 1) * c),
        "h": F.sum(truth.block_hash(s, e, c)),
    })
    assert got == truth.coverage_blocks(samples)

    win = coverage(read_bam_native(spark, s0), mode="windows", window_size=1000, fuse=False)
    # each window's mean times its length is the integer depth sum
    got = {k: v[0] for k, v in _digest(
        win, {"s": F.sum(F.round(F.col("coverage") * 1000))}
    ).items()}
    assert got == truth.window_sums(samples[0])

    expected = truth.pileup(samples[0])
    for strategy in ("sparse", "dense"):
        p = pileup(read_bam_native(spark, s0), ref=gen.ref_base_col, strategy=strategy)
        got = _digest(p, {
            "positions": F.count("*"),
            "coverage": F.sum("coverage"),
            "ref": F.sum("countRef"),
            "nonref": F.sum("countNonRef"),
            "pos_nonref": F.sum(F.col("pos_start").cast("long") * F.col("countNonRef")),
            **{b: F.sum(F.coalesce(F.col("alts")[b], F.lit(0))) for b in "ACGT"},
        })
        assert got == expected, strategy


def _fused_inputs(gen_cohort, *paths):
    """The generated cohort's two indexed BAMs, then each reference BAM
    that exists."""
    import os

    cohort, samples = gen_cohort
    return [os.path.join(cohort, f"{r.sample}.bam") for r in samples] + [
        p for p in paths if os.path.exists(p)
    ]


def test_fused_coverage_events_matches_batch_operator(spark, gen_cohort):
    """read_bam_coverage_events + coverage_from_events must produce exactly
    the rows the declarative coverage(read_bam_native(...), fuse=False)
    produces from the cigar column — unfiltered AND with the reference's
    1796/mapq filter, on the generated cohort and the real fixtures
    (incl. the dense-bincount and sorted event paths)."""
    from sequila_spark.sources import read_bam_native
    from sequila_spark.sources.bam import read_bam_coverage_events
    from sequila_spark.operators.coverage import coverage_from_events

    for bam in _fused_inputs(gen_cohort, SLICE, MDBAM):
        a = coverage(
            read_bam_native(
                spark, bam, with_tags=False,
                columns=["sample_id", "contig", "pos_start", "pos_end", "cigar"],
            ),
            fuse=False,
        )
        b = coverage_from_events(read_bam_coverage_events(spark, bam))
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
        c = coverage(
            read_bam_native(
                spark, bam, with_tags=False,
                columns=["sample_id", "contig", "pos_start", "pos_end",
                         "flag", "mapq", "cigar"],
            ),
            flag_mask=1796, min_mapq=10, fuse=False,
        )
        d = coverage_from_events(
            read_bam_coverage_events(spark, bam, flag_mask=1796, min_mapq=10)
        )
        assert sorted(map(tuple, c.collect())) == sorted(map(tuple, d.collect()))


def test_fused_coverage_events_chunk_sizes(spark, gen_cohort):
    """The fused path must be chunk_size-invariant (clip + merge round
    trip) including TINY chunks that force the boundary-end bincount and
    multi-chunk spans."""
    from sequila_spark.sources.bam import read_bam_coverage_events
    from sequila_spark.operators.coverage import coverage_from_events

    for bam in _fused_inputs(gen_cohort, SLICE):
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


def test_fused_events_chunk_size_mismatch_is_loud(spark, gen_cohort):
    """Events clipped at one chunk_size consumed with another must raise
    (a silent mismatch would leave boundary splits unmerged)."""
    import pytest as _pytest

    from sequila_spark.sources.bam import read_bam_coverage_events
    from sequila_spark.operators.coverage import coverage_from_events

    for bam in _fused_inputs(gen_cohort, SLICE):
        ev = read_bam_coverage_events(spark, bam, chunk_size=16_384)
        with _pytest.raises(Exception, match="different chunk_size"):
            coverage_from_events(ev, chunk_size=1_000_000).count()


def test_coverage_auto_fuses_native_reader(spark, gen_cohort):
    """coverage(read_bam_native(...)) must auto-plan the fused
    decode->events path (the per-read columns never enter the plan), stay
    row-exact vs fuse=False, and NOT fuse once the relation is
    transformed or the needed columns are pruned."""
    import re

    import pytest as _pytest

    from sequila_spark.sources import read_bam_native

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def is_fused(df):
        # the fused scan node: MapInArrow ... [contig#, chunk#, pos#, delta#]
        return bool(
            re.search(r"MapInArrow [^\[]*\[contig#\d+, chunk#", plan(df))
        )

    for bam in _fused_inputs(gen_cohort, SLICE):
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
