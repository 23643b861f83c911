"""Long-read (nanopore) real-data invariants: the reference ships
nanopore_guppy_slice.bam (150 reads, spans up to ~40 kb, dense I/D/S/H
CIGARs) — exactly the workload the binned join's cap and the CIGAR-aware
operators exist for.  No external truth needed: the assertions are
cross-derivations (python re walk vs Catalyst fold vs event-based
coverage) that must agree bit-for-bit.
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from sequila_spark.sources import bamcodec as B

NANO = "/root/reference/src/test/resources/nanopore_guppy_slice.bam"

pytestmark = pytest.mark.skipif(not os.path.exists(NANO), reason="no nanopore BAM")


@pytest.fixture(scope="module")
def nano_df(spark):
    from sequila_spark.sources import read_bam_native

    return read_bam_native(spark, NANO, with_tags=False).cache()


def _ref_consumed(cigar):
    return sum(int(n) for n, op in re.findall(r"(\d+)([MIDNSHP=X])", cigar) if op in "MDN=X")


def _m_bases(cigar):
    return sum(int(n) for n, op in re.findall(r"(\d+)([MIDNSHP=X])", cigar) if op in "M=X")


def test_decode_invariants(nano_df):
    rows = nano_df.where("pos_start > 0").collect()
    assert len(rows) == 150
    for r in rows:
        # parser's pos_end must equal an independent python CIGAR walk
        assert r["pos_end"] == r["pos_start"] + _ref_consumed(r["cigar"]) - 1, r["qname"]
        # query length from CIGAR == seq length (secondary/supplementary
        # records may omit seq entirely — '*' in SAM, None here)
        if r["seq"] is not None:
            qlen = sum(
                int(n)
                for n, op in re.findall(r"(\d+)([MIDNSHP=X])", r["cigar"])
                if op in "MIS=X"
            )
            assert qlen == len(r["seq"]), r["qname"]


def test_coverage_matches_cigar_mass(spark, nano_df):
    """Event-based coverage total == M-base mass of the filtered reads —
    two completely different derivations (aligned_blocks fold + prefix sum
    vs python re)."""
    from sequila_spark.operators.coverage import coverage, filter_reads

    kept = filter_reads(nano_df, flag_mask=1796).collect()
    expected_mass = sum(_m_bases(r["cigar"]) for r in kept)
    cov = coverage(nano_df, mode="blocks", use_cigar=True, flag_mask=1796)
    got_mass = cov.select(
        F.sum(F.col("coverage").cast("long") * (F.col("pos_end") - F.col("pos_start") + 1))
    ).first()[0]
    assert got_mass == expected_mass


def test_pileup_matches_coverage_on_indels(spark, nano_df):
    """Pileup per-position depth must equal event-based per-base coverage
    at every position (expansion fold vs block fold)."""
    from sequila_spark.operators.coverage import coverage
    from sequila_spark.operators.pileup import pileup

    p = pileup(nano_df, ref=None, alts=False, flag_mask=1796)
    c = coverage(nano_df, mode="bases", use_cigar=True, flag_mask=1796)
    pd_ = {(r["contig"], r["pos_start"]): r["coverage"] for r in p.collect()}
    cd = {(r["contig"], r["pos_start"]): r["coverage"] for r in c.collect()}
    assert pd_ == cd


def test_binned_join_on_real_long_reads(spark, nano_df):
    """40 kb alignments at bin_size=500 explode to ~80 bin rows each;
    results must equal the nested-loop join exactly."""
    from sequila_spark.operators.range_join import range_join

    reads = nano_df.where("pos_start > 0").select(
        F.col("qname").alias("id"), "contig", "pos_start", "pos_end"
    )
    targets = reads.select(
        F.col("id").alias("target_id"),
        "contig",
        F.col("pos_start").alias("pos_start"),
        F.col("pos_end").alias("pos_end"),
    )
    binned = range_join(reads, targets, bin_size=500)
    nested = range_join(reads, targets, strategy="nested_loop")
    kp = sorted((r["id"], r["target_id"]) for r in binned.collect())
    np_ = sorted((r["id"], r["target_id"]) for r in nested.collect())
    assert kp == np_ and len(kp) > 150
