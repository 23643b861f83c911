"""MD-tag pileup mode: alts derived purely from the MD tag + CIGAR, no
reference genome anywhere (pileup/MDTagParser.scala:24-53 semantics).

Unit tests pin the MD walk against hand-computed offsets across CIGAR
shapes; the fixture test asserts pileup_md == the seq-vs-ref pileup on the
reference project's real MD BAM (two fully independent mismatch
derivations: MD string vs FASTA comparison)."""

import os

import pytest
from pyspark.sql import functions as F

from sequila_spark.operators.pileup import mismatches_from_md, pileup, pileup_md

MDBAM_DIR = "/root/reference/src/test/resources/multichrom/mdbam"
BAM = f"{MDBAM_DIR}/NA12878.multichrom.md.bam"
FASTA = (
    "/root/reference/src/test/resources/reference/"
    "Homo_sapiens_assembly18_chr1_chrM.small.fasta"
)


def _df(spark, rows):
    return spark.createDataFrame(
        rows,
        "qname string, flag int, contig string, pos_start int, cigar string, "
        "seq string, tags map<string,string>",
    )


def _mm(spark, rows):
    return {
        (r["pos"]): (r["base"], r["ref_base"])
        for r in mismatches_from_md(_df(spark, rows)).collect()
    }


def test_md_walk_gapless(spark):
    # 10M, mismatches at MD offsets 2 and 7: ref A->seq[2], ref G->seq[7]
    got = _mm(spark, [("q", 0, "1", 100, "10M", "TTCTTTTGTT", {"MD": "2A4G2"})])
    assert got == {102: ("C", "A"), 107: ("G", "G")}


def test_md_walk_all_match_fast_path(spark):
    assert _mm(spark, [("q", 0, "1", 100, "10M", "T" * 10, {"MD": "10"})]) == {}


def test_md_walk_insertion_and_softclip(spark):
    # 2S3M2I3M: query offsets 0-1 clipped, 2I consumes query only; MD spans
    # the 6 M bases.  Mismatch at MD offset 3 (first base of the second M
    # block) -> genomic pos 100+3=103, query offset = 2(S)+3(M)+2(I) = 7.
    got = _mm(spark, [("q", 0, "1", 100, "2S3M2I3M", "NNACGTTXGT", {"MD": "3C2"})])
    assert got == {103: ("X", "C")}


def test_md_walk_deletion(spark):
    # 3M2D4M, MD '3^CA2T1': deletion consumes MD and reference but no query;
    # mismatch at MD offset 3+2+2=7 -> genomic pos 100+7=107, query offset 5.
    got = _mm(spark, [("q", 0, "1", 100, "3M2D4M", "ACGTTXT", {"MD": "3^CA2T1"})])
    assert got == {107: ("X", "T")}


def test_md_walk_splice_jump(spark):
    # 2M100N3M: N consumes reference but NOT MD space; mismatch at MD
    # offset 3 -> genomic pos = 100 + 2 + 100 + 1 = 203, query offset 3.
    got = _mm(spark, [("q", 0, "1", 100, "2M100N3M", "ACGXT", {"MD": "3G1"})])
    assert got == {203: ("X", "G")}


def test_md_adjacent_mismatches(spark):
    got = _mm(spark, [("q", 0, "1", 10, "5M", "AXYGT", {"MD": "1A0C2"})])
    assert got == {11: ("X", "A"), 12: ("Y", "C")}


def test_rows_without_md_are_skipped(spark):
    rows = [
        ("q1", 0, "1", 100, "5M", "ACGTA", {"MD": "2A2"}),
        ("q2", 0, "1", 200, "5M", "ACGTA", {}),
        ("q3", 0, "1", 300, "5M", "ACGTA", None),
    ]
    assert set(_mm(spark, rows)) == {102}


def test_pileup_md_counts(spark):
    rows = [
        ("q1", 0, "1", 100, "5M", "ACGTA", {"MD": "2G2"}),  # mismatch at 102
        ("q2", 0, "1", 100, "5M", "ACGTA", {"MD": "5"}),
        ("q3", 0, "1", 102, "3M", "GTA", {"MD": "3"}),
    ]
    out = {
        r["pos_start"]: (r["coverage"], r["countRef"], r["countNonRef"],
                         dict(r["alts"]), r["ref"])
        for r in pileup_md(_df(spark, rows)).collect()
    }
    assert out[102] == (3, 2, 1, {"G": 1}, "G")
    assert out[100] == (2, 2, 0, {}, None)  # no MD info at all-ref positions
    assert out[104] == (3, 3, 0, {}, None)


FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures", "mdbam"
)


def _real_inputs():
    """The MD BAM's reads and reference as the repo's parquet fixture
    (decoded from the BAM by the native codec), then as the reference
    project's BAM and FASTA where they exist."""
    return ["fixture"] + (["reference"] if os.path.exists(BAM) else [])


@pytest.mark.parametrize("source", _real_inputs())
def test_pileup_md_equals_seq_vs_ref_on_real_bam(spark, source):
    """Two independent mismatch derivations must agree on the real MD BAM:
    pileup_md (MD walk, no genome) vs pileup (seq compared against the
    FASTA the aligner's calmd used)."""
    if source == "fixture":
        reads = spark.read.parquet(f"{FIXTURE_DIR}/reads.parquet")
        ref = spark.read.parquet(f"{FIXTURE_DIR}/ref_bases.parquet")
    else:
        from sequila_spark.sources import read_bam_native
        from sequila_spark.sources.fasta import read_fasta_bases

        reads = read_bam_native(spark, BAM, chunk=2_000_000)
        ref = read_fasta_bases(spark, FASTA)

    a = {
        (r["contig"], r["pos_start"]): (
            r["coverage"], r["countRef"], r["countNonRef"], dict(r["alts"])
        )
        for r in pileup(reads, ref=ref, alts=True, flag_mask=1796).collect()
    }
    md_rows = pileup_md(reads, alts=True, flag_mask=1796).collect()
    b = {
        (r["contig"], r["pos_start"]): (
            r["coverage"], r["countRef"], r["countNonRef"], dict(r["alts"])
        )
        for r in md_rows
    }
    assert a == b
    # MD-declared ref base equals the FASTA base at every mismatch position
    fasta = {
        (r["contig"], r["pos"]): r["ref"].upper() for r in ref.collect()
    }
    checked = 0
    for r in md_rows:
        if r["ref"] is not None:
            assert fasta[(r["contig"], r["pos_start"])] == r["ref"]
            checked += 1
    assert checked > 100
