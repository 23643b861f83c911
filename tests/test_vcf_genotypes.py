"""Per-sample genotype columns + header-driven split renumbering.

The reference surfaces Glow's full VCF schema — including the per-sample
``genotypes`` array — and only renames site-level columns
(datasources/VCF/VCFRelation.scala:25-45).  Goldens below are hand-computed
from ``fixtures/vcf/test.vcf``, the VCF 4.1 spec's §1.1 example (3 samples,
GT:GQ:DP:HQ) — the same file as the reference's own ``vcf/test.vcf``.
"""

import os

from sequila_spark.sources import read_vcf
from sequila_spark.sources.vcf import read_vcf_header, split_multiallelics

REF_VCF = os.path.join(
    os.path.dirname(__file__), "..", "fixtures", "vcf", "test.vcf"
)


def test_header_metadata():
    h = read_vcf_header(REF_VCF)
    assert h.samples == ["NA00001", "NA00002", "NA00003"]
    assert h.info_numbers["AF"] == "A"
    assert h.info_numbers["DP"] == "1"
    assert h.info_numbers["DB"] == "0"
    assert h.format_numbers["GT"] == "1"
    assert h.format_numbers["HQ"] == "2"


def test_genotypes_reference_vcf(spark):
    """Row 14370 (G>A): NA00001 0|0 phased, NA00002 1|0 phased, NA00003
    1/1 unphased; row 17330 NA00003 drops the trailing HQ field; row
    14370 NA00003 has HQ '.,.' (present but missing)."""
    df = read_vcf(spark, REF_VCF)
    rows = {r["pos_start"]: r for r in df.collect()}
    g = rows[14370]["genotypes"]
    assert [x["sample_id"] for x in g] == ["NA00001", "NA00002", "NA00003"]
    assert [list(x["calls"]) for x in g] == [[0, 0], [1, 0], [1, 1]]
    assert [x["phased"] for x in g] == [True, True, False]
    assert g[0]["fields"] == {"GQ": "48", "DP": "1", "HQ": "51,51"}
    assert g[2]["fields"]["HQ"] == ".,."

    # trailing FORMAT field dropped for one sample (spec §1.6.2)
    g2 = rows[17330]["genotypes"]
    assert g2[2]["fields"] == {"GQ": "41", "DP": "3"}
    assert "HQ" not in g2[2]["fields"]

    # multi-allelic site: GT 1|2 parses verbatim pre-split
    g3 = rows[1110696]["genotypes"]
    assert [list(x["calls"]) for x in g3] == [[1, 2], [2, 1], [2, 2]]


def test_split_renumbers_gt(spark):
    """vt-decompose -s semantics on rs6040355 (A>G,T; GTs 1|2, 2|1, 2/2):
    the G record keeps allele-1 calls as 1 and masks allele-2 as missing;
    the T record mirrors."""
    df = read_vcf(spark, REF_VCF, normalization_mode="split")
    multi = {
        r["alt"][0]: r for r in df.collect() if r["id"] == "rs6040355"
    }
    g_calls = [list(x["calls"]) for x in multi["G"]["genotypes"]]
    t_calls = [list(x["calls"]) for x in multi["T"]["genotypes"]]
    assert g_calls == [[1, -1], [-1, 1], [-1, -1]]
    assert t_calls == [[-1, 1], [1, -1], [1, 1]]
    # phasing and untouched FORMAT fields survive the split
    assert [x["phased"] for x in multi["G"]["genotypes"]] == [True, True, False]
    assert multi["G"]["genotypes"][0]["fields"]["GQ"] == "21"
    # biallelic rows keep their calls verbatim
    bi = [r for r in df.collect() if r["pos_start"] == 14370][0]
    assert [list(x["calls"]) for x in bi["genotypes"]] == [[0, 0], [1, 0], [1, 1]]


def _write(tmp_path, body: str, header_extra: str = ""):
    p = tmp_path / "t.vcf"
    p.write_text(
        "##fileformat=VCFv4.2\n"
        + header_extra
        + "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n"
        + body
    )
    return str(p)


def test_header_driven_number_r_and_freetext(spark, tmp_path):
    """Number=R renumbers to (ref, alt) pairs; a declared Number=1
    free-text value with commas replicates unchanged — the pure arity
    heuristic would wrongly reindex both."""
    path = _write(
        tmp_path,
        "1\t100\t.\tA\tG,T\t50\tPASS\tAD=10,3,7;NOTE=x,y\tGT:AD\t1/2:10,3,7\n",
        header_extra=(
            '##INFO=<ID=AD,Number=R,Type=Integer,Description="d">\n'
            '##INFO=<ID=NOTE,Number=1,Type=String,Description="free text">\n'
            '##FORMAT=<ID=GT,Number=1,Type=String,Description="g">\n'
            '##FORMAT=<ID=AD,Number=R,Type=Integer,Description="d">\n'
        ),
    )
    rows = {
        r["alt"][0]: r
        for r in read_vcf(spark, path, normalization_mode="split").collect()
    }
    assert rows["G"]["info"]["AD"] == "10,3"
    assert rows["T"]["info"]["AD"] == "10,7"
    # NOTE has 2 comma-items == n_alts: heuristic would split; header wins
    assert rows["G"]["info"]["NOTE"] == "x,y"
    assert rows["T"]["info"]["NOTE"] == "x,y"
    # FORMAT AD renumbers per sample too
    assert rows["G"]["genotypes"][0]["fields"]["AD"] == "10,3"
    assert rows["T"]["genotypes"][0]["fields"]["AD"] == "10,7"


def test_header_driven_number_g_pl(spark, tmp_path):
    """Number=G (diploid PL over 2 alts = 6 values) keeps the genotypes
    over {ref, split alt}: indices (0,0), (0,a), (a,a)."""
    path = _write(
        tmp_path,
        "1\t100\t.\tA\tG,T\t50\tPASS\t.\tGT:PL\t1/2:0,10,20,30,40,50\n",
        header_extra=(
            '##FORMAT=<ID=GT,Number=1,Type=String,Description="g">\n'
            '##FORMAT=<ID=PL,Number=G,Type=Integer,Description="l">\n'
        ),
    )
    rows = {
        r["alt"][0]: r
        for r in read_vcf(spark, path, normalization_mode="split").collect()
    }
    # PL layout for alleles (0,1,2): [00, 01, 11, 02, 12, 22]
    assert rows["G"]["genotypes"][0]["fields"]["PL"] == "0,10,20"
    assert rows["T"]["genotypes"][0]["fields"]["PL"] == "0,30,50"


def test_undeclared_field_uses_arity_heuristic(spark, tmp_path):
    """A field absent from the header still renumbers when its arity
    matches the alt count (bcftools' fallback)."""
    path = _write(
        tmp_path,
        "1\t100\t.\tA\tG,T\t50\tPASS\tXF=0.1,0.9\tGT\t0/1\n",
    )
    rows = {
        r["alt"][0]: r
        for r in read_vcf(spark, path, normalization_mode="split").collect()
    }
    assert rows["G"]["info"]["XF"] == "0.1"
    assert rows["T"]["info"]["XF"] == "0.9"


def test_haploid_and_missing_gt(spark, tmp_path):
    path = _write(
        tmp_path,
        "1\t100\t.\tA\tG\t50\tPASS\t.\tGT:DP\t1:7\n"
        "1\t200\t.\tA\tG\t50\tPASS\t.\tGT:DP\t./.:3\n",
    )
    rows = {r["pos_start"]: r for r in read_vcf(spark, path).collect()}
    assert list(rows[100]["genotypes"][0]["calls"]) == [1]
    assert rows[100]["genotypes"][0]["phased"] is False
    assert list(rows[200]["genotypes"][0]["calls"]) == [-1, -1]
    assert rows[200]["genotypes"][0]["fields"]["DP"] == "3"


def test_no_format_columns_no_genotypes(spark, tmp_path):
    p = tmp_path / "t.vcf"
    p.write_text(
        "##fileformat=VCFv4.2\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "1\t100\t.\tA\tG\t50\tPASS\t.\n"
    )
    df = read_vcf(spark, str(p))
    assert "genotypes" not in df.columns


def test_normalize_with_chr_prefixed_fasta(spark, tmp_path):
    """The FASTA names contigs 'chrT' while the parsed VCF contigs are
    cleaned to 'T' — lookup must resolve via clean_contig on both sides
    (a chr-prefixed GRCh38 reference is the standard case)."""
    fasta = tmp_path / "t.fa"
    fasta.write_text(">chrT\nAACACACAC\n")
    vcf = tmp_path / "t.vcf"
    vcf.write_text(
        "##fileformat=VCFv4.2\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "T\t4\t.\tACA\tA\t50\tPASS\t.\n"
    )
    r = read_vcf(
        spark, str(vcf), normalization_mode="normalize",
        ref_genome_path=str(fasta),
    ).collect()[0]
    assert (r["contig"], r["pos_start"], r["ref"], list(r["alt"])) == (
        "T", 1, "AAC", ["A"],
    )


def test_fasta_region_index_multi_contig(tmp_path):
    """The sliced path: index carries byte spans only; fetch returns exact
    sequences for every contig, ragged line lengths included."""
    from sequila_spark.sources.vcf import (
        fetch_contig_seq,
        load_fasta_region_index,
    )

    fa = tmp_path / "m.fa"
    fa.write_text(">chr1 desc\nAACC\nGGTT\nA\n>chrM\nTTGG\n>X\nCCC\nTT\n")
    idx = load_fasta_region_index(str(fa))
    assert set(idx) == {"1", "MT", "X"}
    assert fetch_contig_seq(str(fa), idx["1"]) == "AACCGGTTA"
    assert fetch_contig_seq(str(fa), idx["MT"]) == "TTGG"
    assert fetch_contig_seq(str(fa), idx["X"]) == "CCCTT"


def test_fasta_region_index_uses_fai(tmp_path):
    """A samtools-style .fai takes precedence: offsets come from the index
    file, not a scan."""
    from sequila_spark.sources.vcf import (
        fetch_contig_seq,
        load_fasta_region_index,
    )

    fa = tmp_path / "m.fa"
    fa.write_text(">c1\nAACC\nGG\n>c2\nTTTT\n")
    # name, seq_length, byte_offset_of_seq, bases_per_line, bytes_per_line
    (tmp_path / "m.fa.fai").write_text("c1\t6\t4\t4\t5\nc2\t4\t16\t4\t5\n")
    idx = load_fasta_region_index(str(fa))
    assert fetch_contig_seq(str(fa), idx["c1"]) == "AACCGG"
    assert fetch_contig_seq(str(fa), idx["c2"]) == "TTTT"


def _write_vcf(path, samples, records):
    """Minimal VCF with a given sample list; records are (chrom, pos, ref,
    alt, format, *sample_values)."""
    hdr = [
        "##fileformat=VCFv4.2",
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">',
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"
        + ("\tFORMAT\t" + "\t".join(samples) if samples else ""),
    ]
    body = []
    for chrom, pos, ref, alt, fmt, *vals in records:
        row = [chrom, str(pos), ".", ref, alt, "50", "PASS", "."]
        if samples:
            row.append(fmt)
            row.extend(vals)
        body.append("\t".join(row))
    path.write_text("\n".join(hdr + body) + "\n")


def test_per_file_headers_heterogeneous_samples(spark, tmp_path):
    """A directory of VCFs with DIFFERENT sample columns must parse each
    file against its own header (Glow resolves headers per file): every
    genotype lands under the sample_id its source file declares, at the
    right column index."""
    d = tmp_path / "cohort"
    d.mkdir()
    _write_vcf(
        d / "a.vcf",
        ["ALICE", "BOB"],
        [("1", 100, "A", "G", "GT:DP", "0/1:11", "1|1:22")],
    )
    _write_vcf(
        d / "b.vcf",
        ["CAROL"],
        [("2", 200, "C", "T", "GT:DP", "0/0:33")],
    )
    df = read_vcf(spark, str(d))
    rows = {r["contig"]: r for r in df.collect()}
    assert set(rows) == {"1", "2"}

    g1 = {g["sample_id"]: g for g in rows["1"]["genotypes"]}
    assert set(g1) == {"ALICE", "BOB"}
    assert g1["ALICE"]["calls"] == [0, 1] and not g1["ALICE"]["phased"]
    assert g1["ALICE"]["fields"]["DP"] == "11"
    assert g1["BOB"]["calls"] == [1, 1] and g1["BOB"]["phased"]
    assert g1["BOB"]["fields"]["DP"] == "22"

    g2 = {g["sample_id"]: g for g in rows["2"]["genotypes"]}
    assert set(g2) == {"CAROL"}
    assert g2["CAROL"]["calls"] == [0, 0]
    assert g2["CAROL"]["fields"]["DP"] == "33"


def test_per_file_headers_mixed_sampleless(spark, tmp_path):
    """Heterogeneous dir where one file has no sample columns: its rows get
    null genotypes; the other file's samples still parse correctly."""
    d = tmp_path / "mixed"
    d.mkdir()
    _write_vcf(d / "sites.vcf", [], [("3", 300, "G", "C", None)])
    _write_vcf(
        d / "calls.vcf", ["DAVE"], [("4", 400, "T", "A", "GT", "0|1")]
    )
    df = read_vcf(spark, str(d))
    rows = {r["contig"]: r for r in df.collect()}
    assert rows["3"]["genotypes"] is None
    g = {g["sample_id"]: g for g in rows["4"]["genotypes"]}
    assert g["DAVE"]["calls"] == [0, 1] and g["DAVE"]["phased"]


def test_homogeneous_dir_still_static_path(spark, tmp_path):
    """Identical sample lists across files keep the literal-driven parse
    (no broadcast join in the plan)."""
    d = tmp_path / "homog"
    d.mkdir()
    _write_vcf(d / "a.vcf", ["S1"], [("1", 10, "A", "T", "GT", "0/1")])
    _write_vcf(d / "b.vcf", ["S1"], [("2", 20, "C", "G", "GT", "1/1")])
    df = read_vcf(spark, str(d))
    assert "BroadcastHashJoin" not in df._jdf.queryExecution().executedPlan().toString()
    rows = {r["contig"]: r["genotypes"][0]["calls"] for r in df.collect()}
    assert rows == {"1": [0, 1], "2": [1, 1]}


def test_number_g_haploid_and_triploid_renumber(spark, tmp_path):
    """Number=G FORMAT fields renumber per SAMPLE PLOIDY (GT call count),
    not an assumed diploid: haploid GL keeps (ref, alt) likelihoods;
    triploid keeps the 4 genotypes ref^(3-j) alt^j via the spec's
    combinadic ordering.

    Oracle indices, 2 alts (n=2), combinadic Index(a1<=..<=ap) =
    sum_i C(a_i+i-1, i):
      haploid  p=1, arity C(3,1)=3:  alt a -> [0, a]
      diploid  p=2, arity C(4,2)=6:  alt 1 -> [0,1,2]; alt 2 -> [0,3,5]
      triploid p=3, arity C(5,3)=10: alt 1 -> [0,1,2,3]; alt 2 -> [0,4,7,9]
    """
    vcf = tmp_path / "ploidy.vcf"
    vcf.write_text(
        "\n".join(
            [
                "##fileformat=VCFv4.2",
                '##FORMAT=<ID=GT,Number=1,Type=String,Description="g">',
                '##FORMAT=<ID=GL,Number=G,Type=Float,Description="gl">',
                "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT"
                "\tHAP\tDIP\tTRI",
                # GL values encode their own index so picks are legible
                "1\t100\t.\tA\tG,T\t50\tPASS\t.\tGT:GL"
                "\t1:g0,g1,g2"
                "\t1/2:g0,g1,g2,g3,g4,g5"
                "\t0/1/2:g0,g1,g2,g3,g4,g5,g6,g7,g8,g9",
            ]
        )
        + "\n"
    )
    df = read_vcf(spark, str(vcf), normalization_mode="split")
    out = {}
    for r in df.collect():
        for g in r["genotypes"]:
            out[(r["alt"][0], g["sample_id"])] = g["fields"]["GL"]
    assert out[("G", "HAP")] == "g0,g1"
    assert out[("T", "HAP")] == "g0,g2"
    assert out[("G", "DIP")] == "g0,g1,g2"
    assert out[("T", "DIP")] == "g0,g3,g5"
    assert out[("G", "TRI")] == "g0,g1,g2,g3"
    assert out[("T", "TRI")] == "g0,g4,g7,g9"


def test_number_g_arity_mismatch_replicates(spark, tmp_path):
    """A Number=G value whose arity doesn't match the sample's ploidy
    replicates unchanged (defensive: malformed input must never silently
    reindex)."""
    vcf = tmp_path / "bad.vcf"
    vcf.write_text(
        "\n".join(
            [
                "##fileformat=VCFv4.2",
                '##FORMAT=<ID=GT,Number=1,Type=String,Description="g">',
                '##FORMAT=<ID=GL,Number=G,Type=Float,Description="gl">',
                "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS",
                # haploid GT but 6 GL values (diploid arity): mismatched
                "1\t100\t.\tA\tG,T\t50\tPASS\t.\tGT:GL\t1:a,b,c,d,e,f",
            ]
        )
        + "\n"
    )
    df = read_vcf(spark, str(vcf), normalization_mode="split")
    for r in df.collect():
        assert r["genotypes"][0]["fields"]["GL"] == "a,b,c,d,e,f"
