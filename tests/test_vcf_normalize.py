"""Native VCF multi-allelic split + normalization (the reference's
``normalization_mode`` option, VCFRelation.scala:25-45, which delegates to
Glow's split_multiallelics / normalize_variants — here implemented natively
with vt-normalize semantics, Tan et al. 2015)."""

import os

import pytest

from sequila_spark.sources import read_vcf
from sequila_spark.sources.vcf import normalize_variants, split_multiallelics

FIX = os.path.join(os.path.dirname(__file__), "fixtures")
REF_VCF = os.path.join(
    os.path.dirname(__file__), "..", "fixtures", "vcf", "test.vcf"
)


def test_split_multiallelics_reference_vcf(spark):
    """The VCF 4.1 spec example (the reference's own test.vcf): 5 records,
    2 multi-allelic sites -> 7 split rows; per-alt (Number=A style) INFO
    values renumber by position, scalar INFO values replicate."""
    df = read_vcf(spark, REF_VCF, normalization_mode="split")
    rows = sorted(df.collect(), key=lambda r: (r["pos_start"], r["alt"][0]))
    assert len(rows) == 7
    assert [len(r["alt"]) for r in rows] == [1] * 7

    multi = [r for r in rows if r["id"] == "rs6040355"]
    assert [r["alt"] for r in multi] == [["G"], ["T"]]
    # AF=0.333,0.667 splits by alt position; DP=10 replicates
    assert [r["info"]["AF"] for r in multi] == ["0.333", "0.667"]
    assert all(r["info"]["DP"] == "10" for r in multi)
    assert all(r["split_from_multiallelic"] for r in multi)

    micro = [r for r in rows if r["id"] == "microsat1"]
    assert sorted(r["alt"][0] for r in micro) == ["G", "GTCT"]

    bi = [r for r in rows if r["id"] == "rs6054257"]
    assert len(bi) == 1 and not bi[0]["split_from_multiallelic"]
    assert bi[0]["info"]["DP"] == "14"


def test_split_and_normalize_reference_vcf(spark, tmp_path):
    """split_and_normalize on the reference's microsat1 site
    (GTC -> G,GTCT at 1234567).  Hand-computed vt-normalize goldens:

    - GTC>G: right-trim blocked (C vs G), left-trim blocked (G is length
      1) -> unchanged (already minimal).
    - GTC>GTCT: right C vs T differ; left-trim twice (G==G, T==T) ->
      pos 1234569, C>CT.
    Trim-only — no genome needed, so ref_genome_path stays None."""
    df = read_vcf(spark, REF_VCF, normalization_mode="split_and_normalize")
    rows = {
        (r["pos_start"], r["alt"][0]): r
        for r in df.collect()
        if r["id"] == "microsat1"
    }
    assert set(rows) == {(1234567, "G"), (1234569, "CT")}
    a = rows[(1234567, "G")]
    assert (a["ref"], a["pos_end"]) == ("GTC", 1234569)
    b = rows[(1234569, "CT")]
    assert (b["ref"], b["pos_end"]) == ("C", 1234569)


def test_normalize_left_alignment_with_genome(spark, tmp_path):
    """Left extension + left alignment against a genome.  Sequence
    T = AACACACAC (an AC repeat); the deletion 'ACA>A at pos 4' (removes
    one CA unit) must left-align to 'AAC>A at pos 1' — every intermediate
    step needs the reference base, exercising the left-extension path."""
    fasta = tmp_path / "t.fa"
    fasta.write_text(">T\nAACACACAC\n")
    vcf = tmp_path / "t.vcf"
    vcf.write_text(
        "##fileformat=VCFv4.2\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "chrT\t4\t.\tACA\tA\t50\tPASS\tDP=7\n"
    )
    df = read_vcf(
        spark, str(vcf), normalization_mode="normalize",
        ref_genome_path=str(fasta),
    )
    r = df.collect()[0]
    assert (r["contig"], r["pos_start"], r["pos_end"]) == ("T", 1, 3)
    assert r["ref"] == "AAC" and r["alt"] == ["A"]
    assert r["info"]["DP"] == "7"  # non-allele columns pass through


def test_normalize_requires_genome_only_for_left_extension(spark, tmp_path):
    """A trim-only record normalizes without a genome; a record needing
    left extension raises a precise error (reference parity: VCFRelation
    throws when normalize is requested without ref_genome_path)."""
    vcf = tmp_path / "t.vcf"
    vcf.write_text(
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "T\t10\t.\tGTC\tGTCT\t1\tPASS\t.\n"
    )
    r = read_vcf(spark, str(vcf), normalization_mode="normalize").collect()[0]
    assert (r["pos_start"], r["ref"], r["alt"]) == (12, "C", ["CT"])

    vcf2 = tmp_path / "t2.vcf"
    vcf2.write_text(
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "T\t4\t.\tACA\tA\t1\tPASS\t.\n"
    )
    with pytest.raises(Exception, match="ref_genome_path"):
        read_vcf(spark, str(vcf2), normalization_mode="normalize").collect()


def test_normalize_passes_symbolic_and_missing_alleles(spark, tmp_path):
    """'.', '*', '<DEL>' and breakend alleles are not sequence alleles —
    the record passes through byte-identical (vt/Glow behavior)."""
    vcf = tmp_path / "t.vcf"
    vcf.write_text(
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "T\t100\t.\tACC\t.\t1\tPASS\t.\n"
        "T\t200\t.\tACC\t<DEL>\t1\tPASS\t.\n"
        "T\t300\t.\tACC\tA,*\t1\tPASS\t.\n"
    )
    rows = sorted(
        read_vcf(spark, str(vcf), normalization_mode="normalize").collect(),
        key=lambda r: r["pos_start"],
    )
    assert [(r["pos_start"], r["ref"], r["alt"]) for r in rows] == [
        (100, "ACC", ["."]),
        (200, "ACC", ["<DEL>"]),
        (300, "ACC", ["A", "*"]),
    ]


def test_split_then_normalize_composition(spark):
    """Public helpers compose on any canonical frame: split emits one
    single-alt array per row and normalize is idempotent on minimal
    records."""
    from pyspark.sql import functions as F

    df = read_vcf(spark, f"{FIX}/test.vcf")
    s = split_multiallelics(df)
    assert s.where(F.size("alt") != 1).count() == 0
    # map columns don't support set comparison — project them away
    n1 = normalize_variants(s).drop("info")
    n2 = normalize_variants(normalize_variants(s)).drop("info")
    assert n1.exceptAll(n2).count() == 0 and n2.exceptAll(n1).count() == 0


def test_invalid_mode_raises(spark):
    with pytest.raises(ValueError, match="normalization_mode"):
        read_vcf(spark, f"{FIX}/test.vcf", normalization_mode="bogus")


def test_contig_cache_lru_bounded(tmp_path):
    """fetch_contig_seq must never hold more than _CONTIG_CACHE_MAX contig
    sequences per worker process (a human contig is ~250 MB — unbounded
    growth would accumulate a whole genome in a long-lived worker)."""
    from sequila_spark.sources import vcf as V

    fa = tmp_path / "many.fa"
    seqs = {f"C{i}": ("ACGT" * (i + 1) + "NNAC")[: 8 + i] for i in range(6)}
    fa.write_text("".join(f">{n}\n{s}\n" for n, s in seqs.items()))

    idx = V.load_fasta_region_index(str(fa))
    V._CONTIG_CACHE.clear()
    for name, seq in seqs.items():
        assert V.fetch_contig_seq(str(fa), idx[name]) == seq
        assert len(V._CONTIG_CACHE) <= V._CONTIG_CACHE_MAX
    # results stay correct for evicted entries on re-fetch
    for name, seq in seqs.items():
        assert V.fetch_contig_seq(str(fa), idx[name]) == seq
    assert len(V._CONTIG_CACHE) <= V._CONTIG_CACHE_MAX
    # LRU order: most-recently-used is last
    assert list(V._CONTIG_CACHE)[-1][1] == idx["C5"][0]
