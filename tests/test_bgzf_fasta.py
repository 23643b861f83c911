"""BGZF-compressed reference FASTA — the standard distribution format for
human references (``Homo_sapiens.fa.gz``).  The reference stack (htslib
faidx, used by Glow via ``datasources/VCF/VCFRelation.scala:25-45``) random-
accesses ``.fa.gz`` through the BGZF block structure; this pins the same
capability here: uncompressed-space ``.fai`` offsets resolved through a
``.gzi`` (or reconstructed) block index."""

import gzip
import os
import random
import shutil
import struct

import pytest

from sequila_spark.sources.bamcodec import (
    BgzfWriter,
    bgzf_fetch_range,
    is_bgzf,
    read_gzi,
    scan_bgzf_block_index,
)

SLICE_FASTA = "/root/reference/src/test/resources/NA12878.slice.fasta"
SLICE_CRAM = "/root/reference/src/test/resources/NA12878.slice.cram"


def bgzip_file(src: str, dst: str, piece: int = 4096) -> None:
    """bgzip-equivalent compression using the repo's own BGZF writer
    (standard BGZF: any bgzip/htslib reader accepts it)."""
    data = open(src, "rb").read()
    with open(dst, "wb") as f:
        w = BgzfWriter(f)
        for i in range(0, len(data), piece):
            w.write(data[i : i + piece])
            w.flush_blocks()  # force many blocks so range fetch crosses them
        w.close()


def write_gzi(bgzf_path: str, gzi_path: str) -> None:
    """Emit the ``.gzi`` bgzip would have written, from the block scan."""
    idx = scan_bgzf_block_index(bgzf_path)
    with open(gzi_path, "wb") as f:
        f.write(struct.pack("<Q", len(idx) - 1))
        for u, c in idx[1:]:
            f.write(struct.pack("<QQ", c, u))


@pytest.fixture(scope="module")
def fasta_gz(tmp_path_factory, two_contig_fasta):
    d = tmp_path_factory.mktemp("bgzf")
    gz = str(d / "two_contig.fa.gz")
    bgzip_file(two_contig_fasta, gz)
    return gz


def test_is_bgzf_detection(tmp_path, fasta_gz, two_contig_fasta):
    assert is_bgzf(fasta_gz)
    plain_gz = str(tmp_path / "plain.fa.gz")
    with gzip.open(plain_gz, "wb") as f:
        f.write(open(two_contig_fasta, "rb").read())
    assert not is_bgzf(plain_gz)
    assert not is_bgzf(two_contig_fasta)


def test_block_scan_matches_gzi_and_gzip_stream(tmp_path, fasta_gz, two_contig_fasta):
    raw = open(two_contig_fasta, "rb").read()
    # BGZF is valid multi-member gzip end-to-end
    assert gzip.open(fasta_gz, "rb").read() == raw
    idx = scan_bgzf_block_index(fasta_gz)
    assert len(idx) > 3, "fixture must span multiple blocks"
    gzi = str(tmp_path / "x.gzi")
    write_gzi(fasta_gz, gzi)
    assert read_gzi(gzi) == idx


def test_bgzf_fetch_range_random(fasta_gz, two_contig_fasta):
    raw = open(two_contig_fasta, "rb").read()
    idx = scan_bgzf_block_index(fasta_gz)
    rng = random.Random(7)
    for _ in range(25):
        a = rng.randrange(0, len(raw))
        b = min(len(raw), a + rng.randrange(1, 9000))
        assert bgzf_fetch_range(fasta_gz, idx, a, b) == raw[a:b]
    # cross-everything range and tail clamp
    assert bgzf_fetch_range(fasta_gz, idx, 0, len(raw)) == raw
    assert bgzf_fetch_range(fasta_gz, idx, len(raw) - 5, len(raw) + 99) == raw[-5:]


def test_region_index_bgzf_equals_plain(tmp_path, fasta_gz, two_contig_fasta):
    from sequila_spark.sources.vcf import (
        fetch_contig_seq,
        load_fasta_region_index,
    )

    plain = load_fasta_region_index(two_contig_fasta)  # uses the fixture's .fai
    # (a) no .fai, no .gzi: streamed scan + reconstructed block index
    got = load_fasta_region_index(fasta_gz)
    assert set(got) == set(plain)
    for k in plain:
        assert fetch_contig_seq(fasta_gz, got[k]) == fetch_contig_seq(two_contig_fasta, plain[k])
    # (b) with .fai (uncompressed offsets, samtools-faidx layout) + .gzi
    fai_dir = tmp_path / "faidx"
    fai_dir.mkdir()
    gz2 = str(fai_dir / "two_contig.fa.gz")
    shutil.copy(fasta_gz, gz2)
    shutil.copy(two_contig_fasta + ".fai", gz2 + ".fai")
    write_gzi(gz2, gz2 + ".gzi")
    got2 = load_fasta_region_index(gz2)
    assert set(got2) == set(plain)
    for k in plain:
        assert fetch_contig_seq(gz2, got2[k]) == fetch_contig_seq(two_contig_fasta, plain[k])


def _write_repeat_vcf(tmp_path):
    vcf = tmp_path / "t.vcf"
    vcf.write_text(
        "##fileformat=VCFv4.2\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "chrT\t4\t.\tACA\tA\t50\tPASS\tDP=7\n"
    )
    return str(vcf)


def test_normalize_variants_with_bgzf_reference(spark, tmp_path):
    """read_vcf(normalize) end-to-end against a bgzipped reference must
    left-align exactly as against the plain-text file (the AC-repeat
    deletion needs left extension, i.e. real reference fetches)."""
    from sequila_spark.sources import read_vcf

    fa = tmp_path / "t.fa"
    fa.write_text(">T\nAACACACAC\n")
    gz = str(tmp_path / "t.fa.gz")
    bgzip_file(str(fa), gz, piece=4)
    vcf = _write_repeat_vcf(tmp_path)

    for ref in (str(fa), gz):
        r = read_vcf(
            spark, vcf, normalization_mode="normalize", ref_genome_path=ref
        ).collect()[0]
        assert (r["contig"], r["pos_start"], r["pos_end"]) == ("T", 1, 3)
        assert r["ref"] == "AAC" and r["alt"] == ["A"]


def test_plain_gzip_reference_rejected(spark, tmp_path):
    from sequila_spark.sources import read_vcf

    fa = tmp_path / "t.fa"
    fa.write_text(">T\nAACACACAC\n")
    gz = str(tmp_path / "plain.fa.gz")
    with gzip.open(gz, "wb") as f:
        f.write(fa.read_bytes())
    vcf = _write_repeat_vcf(tmp_path)
    with pytest.raises(ValueError, match="bgzip"):
        read_vcf(
            spark, vcf, normalization_mode="normalize", ref_genome_path=gz
        ).collect()


@pytest.mark.skipif(
    not (os.path.exists(SLICE_FASTA) and os.path.exists(SLICE_CRAM)),
    reason=f"reference CRAM fixture not present: needs {SLICE_FASTA} "
    f"and {SLICE_CRAM}",
)
def test_cram_decode_with_bgzf_reference(tmp_path):
    """CRAM record reconstruction with a bgzipped reference FASTA must be
    record-identical to the plain-text reference path."""
    from sequila_spark.sources import cramcodec as C

    gz = str(tmp_path / "slice.fa.gz")
    bgzip_file(SLICE_FASTA, gz)
    plain = list(C.read_cram_records(SLICE_CRAM, SLICE_FASTA))
    gzrecs = list(C.read_cram_records(SLICE_CRAM, gz))
    assert len(plain) > 1000
    assert gzrecs == plain


def test_read_fasta_relation_over_bgzf(spark, tmp_path, two_contig_fasta):
    """The Spark FASTA relation reads .fa.gz directly: BGZF is valid
    multi-member gzip, which Hadoop's codec decompresses in
    wholeTextFiles — pinned so a codec regression is loud."""
    from sequila_spark.sources import read_fasta

    gz = str(tmp_path / "two_contig.fa.gz")
    bgzip_file(two_contig_fasta, gz)
    plain = {
        (r["contig"], r["pos_end"], r["seq"])
        for r in read_fasta(spark, two_contig_fasta).collect()
    }
    got = {(r["contig"], r["pos_end"], r["seq"]) for r in read_fasta(spark, gz).collect()}
    assert got == plain and len(plain) == 2
