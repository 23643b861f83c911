"""Unit tests for the BAQ HMM (functions/baq.py) and the htslib mate-overlap
walk (functions/overlap.py) — the fast, Spark-free pins.  End-to-end
byte-exactness against samtools' own default-mode output is pinned
separately by tests/test_samtools_golden.py (reference fixture family:
tests/pileup/SamtoolsTestSuite.scala:27-72)."""

import pytest

from sequila_spark.functions.baq import baq_quals, probaln_glocal
from sequila_spark.functions.overlap import (
    cigar_ops,
    overlap_stream_tweak,
    tweak_overlap_quality,
)

REF = "ACGTACGTACGTACGTACGTACGTACGTACGTACGT"


def test_probaln_perfect_match_diagonal():
    codes = [0, 1, 2, 3] * 10
    state, q = probaln_glocal(codes, codes, [30] * 40, bw=7)
    assert all((s >> 2) == i and (s & 3) == 0 for i, s in enumerate(state))
    # posterior confidence ramps up from the (glocal-uncertain) edges
    assert q[:6] == [36, 52, 65, 68, 68, 68]
    assert q[0] < q[1] < q[2]


def test_baq_caps_only_reduce_and_edge_profile():
    seq = list(REF[3:33])
    seq[10] = "A" if seq[10] != "A" else "C"
    seq = "".join(seq)
    iq = [35] * 30
    bq = baq_quals(seq, iq, "30M", 4, REF)
    assert all(b <= o for b, o in zip(bq, iq))
    # regression pin (any HMM change shows up here before the golden runs)
    assert bq == [32] + [34] * 28 + [32]


def test_baq_refskip_and_unaligned_passthrough():
    seq = REF[3:33]
    iq = [35] * 30
    assert baq_quals(seq, iq, "10M2N20M", 4, REF) == iq
    assert baq_quals(seq, iq, "30S", 4, REF) == iq


def test_baq_misaligned_read_zeroed():
    # claimed position is 13 bases off any in-band alignment: every aligned
    # base's MAP state disagrees with the claimed diagonal
    seq = "TTTTTTTTTTTTTTTTTTTT"
    iq = [35] * 20
    bq = baq_quals(seq, iq, "20M", 4, REF)
    assert all(b <= o for b, o in zip(bq, iq))
    assert min(bq) == 0


def test_tweak_agree_sums_first_mate():
    aq, bq = [30] * 11, [20] * 11
    tweak_overlap_quality(
        0, cigar_ops("11M"), "ACGTACGTACG", aq, 0, cigar_ops("11M"), "ACGTACGTACG", bq
    )
    assert aq == [50] * 11
    assert bq == [0] * 11


def test_tweak_disagree_higher_keeps_080():
    aq, bq = [30] * 8, [20] * 8
    tweak_overlap_quality(
        0, cigar_ops("8M"), "AAAAAAAA", aq, 0, cigar_ops("8M"), "AAAATAAA", bq
    )
    assert aq == [50] * 4 + [24] + [50] * 3  # int(0.8 * 30) at the mismatch
    assert bq == [0] * 8


def test_tweak_sum_caps_at_200():
    aq, bq = [150] * 4, [120] * 4
    tweak_overlap_quality(
        0, cigar_ops("4M"), "ACGT", aq, 0, cigar_ops("4M"), "ACGT", bq
    )
    assert aq == [200] * 4
    assert bq == [0] * 4


def test_walk_quirks_deletion_pair():
    """The htslib walk's observable quirks, pinned: (1) the first-arrived
    read's final base goes untweaked when its cigar transitioned ops inside
    the overlap; (2) the second read's base paired with the deleted position
    is consumed untweaked during catch-up; (3) the second read's tail beyond
    the first read's walk keeps its quals."""
    aq, bq = [30] * 10, [20] * 11
    tweak_overlap_quality(
        0, cigar_ops("5M1D5M"), "ACGTAGTACG", aq,
        0, cigar_ops("11M"), "ACGTACGTACG", bq,
    )
    assert aq == [50] * 9 + [30]  # (1): a's last base untweaked
    assert bq == [0] * 5 + [20] + [0] * 4 + [20]  # (2) at idx 5, (3) at idx 10


def test_stream_protocol_register_and_wide_insert_skip():
    def mk(qname, flag, pos, cigar, pnext, tlen, seq, quals):
        return dict(
            qname=qname, flag=flag, contig="1", rnext="1", pos=pos,
            end=pos + len(seq) - 1, pnext=pnext, tlen=tlen, cigar=cigar,
            seq=seq, qual=list(quals),
        )

    # overlapping proper pair: tweak applies
    r1 = mk("p1", 99, 100, "8M", 104, 12, "ACGTACGT", [30] * 8)
    r2 = mk("p1", 147, 104, "8M", 100, -12, "ACGTACGT", [20] * 8)
    # wide-insert pair (|tlen| >= 2*l_qseq, mate at/after end): skipped
    r3 = mk("w1", 99, 200, "8M", 300, 108, "ACGTACGT", [30] * 8)
    r4 = mk("w1", 147, 300, "8M", 200, -108, "ACGTACGT", [20] * 8)
    # unpaired read: ignored
    r5 = mk("u1", 0, 400, "8M", 0, 0, "ACGTACGT", [25] * 8)
    overlap_stream_tweak([r1, r2, r3, r4, r5])
    assert r1["qual"][4:] == [50] * 4 and r2["qual"][:4] == [0] * 4
    assert r1["qual"][:4] == [30] * 4 and r2["qual"][4:] == [20] * 4
    assert r3["qual"] == [30] * 8 and r4["qual"] == [20] * 8
    assert r5["qual"] == [25] * 8


@pytest.fixture(scope="module")
def tiny_fasta(tmp_path_factory):
    p = tmp_path_factory.mktemp("baq") / "ref.fasta"
    p.write_text(">chr1\n" + REF + "\n")
    return str(p)


def test_baq_realn_reads_schema_and_values(spark, tiny_fasta):
    from pyspark.sql import Row

    from sequila_spark.functions.baq import baq_realn_reads

    seq = list(REF[3:33])
    seq[10] = "A" if seq[10] != "A" else "C"
    seq = "".join(seq)
    qstr = "".join(chr(35 + 33) for _ in range(30))
    rows = [
        Row(qname="a", flag=0, contig="1", pos_start=4, cigar="30M",
            seq=seq, qual=qstr),
        Row(qname="b", flag=4, contig="1", pos_start=0, cigar="*",
            seq=seq, qual=qstr),  # unmapped: untouched
    ]
    df = spark.createDataFrame(rows)
    out = baq_realn_reads(df, tiny_fasta)
    assert out.schema == df.schema
    got = {r["qname"]: r["qual"] for r in out.collect()}
    expected = [32] + [34] * 28 + [32]
    assert [ord(c) - 33 for c in got["a"]] == expected
    assert got["b"] == qstr


def test_mate_overlap_tweak_reads_matches_stream(spark):
    """The Spark qname-grouped transform must agree with the stream-protocol
    reference implementation on a synthetic multi-pair batch."""
    from pyspark.sql import Row

    from sequila_spark.functions.overlap import mate_overlap_tweak_reads

    base = "ACGTACGTACGT"
    cases = []
    for i, (p1, p2) in enumerate([(100, 106), (300, 303), (500, 520)]):
        tlen = p2 - p1 + 12
        cases.append(("q%d" % i, 99, p1, p2, tlen))
        cases.append(("q%d" % i, 147, p2, p1, -tlen))
    rows = []
    stream = []
    for ordn, (qn, flag, pos, pnext, tlen) in enumerate(cases):
        qs = [30 if flag == 99 else 20] * 12
        rows.append(
            Row(qname=qn, flag=flag, contig="1", pos_start=pos,
                pos_end=pos + 11, cigar="12M", rnext="1", pnext=pnext,
                tlen=tlen, seq=base, qual="".join(chr(q + 33) for q in qs))
        )
        stream.append(
            dict(qname=qn, flag=flag, contig="1", rnext="1", pos=pos,
                 end=pos + 11, pnext=pnext, tlen=tlen, cigar="12M",
                 seq=base, qual=list(qs))
        )
    overlap_stream_tweak(stream)
    expected = {
        (d["qname"], d["flag"]): "".join(chr(q + 33) for q in d["qual"])
        for d in stream
    }
    out = mate_overlap_tweak_reads(spark.createDataFrame(rows))
    got = {(r["qname"], r["flag"]): r["qual"] for r in out.collect()}
    assert got == expected


def test_fasta_contig_fai_seek_equals_full_parse(two_contig_fasta):
    """The lazy contig loader (shared vcf.py .fai/byte-span machinery)
    must return byte-identical sequences to the full-file parse."""
    from sequila_spark.functions.baq import (
        _FASTA_CACHE,
        _FASTA_INDEX,
        _fasta_contig,
        _fasta_contigs,
    )

    path = two_contig_fasta
    full = dict(_fasta_contigs(path))
    assert full
    # force the lazy path: clear the full-map cache so _fasta_contig seeks
    _FASTA_CACHE.pop(path, None)
    _FASTA_INDEX.pop(path, None)
    for name, seq in full.items():
        assert _fasta_contig(path, name) == seq, name
    assert _fasta_contig(path, "no_such_contig") is None


def test_overlap_hardening_star_quals_and_wild_cigars():
    """'*' / short quals are skipped, not crashed on; a wild cigar whose
    walk runs past the sequence end hits htslib's fell-off-end guard; the
    wide-insert skip uses pos + l_qseq (query length), not the cigar ref
    end, so a deletion read with the mate inside [pos+l_qseq, ref_end)
    IS skipped exactly as htslib does."""
    from sequila_spark.functions.overlap import (
        cigar_ops,
        overlap_stream_tweak,
        tweak_overlap_quality,
    )

    def mk(qname, flag, pos, cigar, pnext, tlen, seq, quals):
        end = pos - 1
        for n, op in cigar_ops(cigar):
            if op in "MDN=X":
                end += n
        return dict(
            qname=qname, flag=flag, contig="1", rnext="1", pos=pos,
            end=end, pnext=pnext, tlen=tlen, cigar=cigar,
            seq=seq, qual=list(quals),
        )

    # '*' qual placeholder (decoded as one char): skipped, mate untouched
    r1 = mk("s1", 99, 100, "8M", 104, 12, "ACGTACGT", [9])
    r2 = mk("s1", 147, 104, "8M", 100, -12, "ACGTACGT", [20] * 8)
    overlap_stream_tweak([r1, r2])
    assert r1["qual"] == [9] and r2["qual"] == [20] * 8

    # wide-insert boundary: read 50M20D30M (l_qseq=80, ref span=100),
    # mate at pos+90 (inside [pos+80, pos+100)): htslib SKIPS (mpos >=
    # pos + l_qseq); the old ref-end form would have tweaked
    seq80 = "ACGTACGT" * 10
    r3 = mk("d1", 99, 100, "50M20D30M", 190, 170, seq80, [30] * 80)
    r4 = mk("d1", 147, 190, "80M", 100, -170, seq80, [20] * 80)
    overlap_stream_tweak([r3, r4])
    assert r3["qual"] == [30] * 80 and r4["qual"] == [20] * 80

    # wild cigar claiming more M than the seq has: guard breaks cleanly
    a_q, b_q = [30] * 4, [20] * 4
    tweak_overlap_quality(99, cigar_ops("50M"), "ACGT", a_q,
                          99, cigar_ops("50M"), "ACGT", b_q)
    # no exception; any tweaks applied stayed within bounds
    assert len(a_q) == 4 and len(b_q) == 4


def test_baq_mate_overlap_persist_hygiene(spark, tiny_fasta):
    """Repeated pileup(baq=..., mate_overlap=True) calls hold at most ONE
    persisted BAQ'd relation — the registry unpersists the previous one."""
    from pyspark.sql import Row

    import sequila_spark.operators.pileup as P

    qstr = "".join(chr(30 + 33) for _ in range(12))
    rows = [
        Row(qname="p1", flag=99, contig="1", pos_start=4, pos_end=15,
            cigar="12M", seq=REF[3:15], qual=qstr, rnext="1", pnext=8,
            tlen=16, mapq=60),
        Row(qname="p1", flag=147, contig="1", pos_start=8, pos_end=19,
            cigar="12M", seq=REF[7:19], qual=qstr, rnext="1", pnext=4,
            tlen=-16, mapq=60),
    ]
    reads = spark.createDataFrame(rows)
    P._BAQ_CACHE.clear()
    P.pileup(reads, ref=None, quals=True, baq=tiny_fasta,
             mate_overlap=True).collect()
    first = P._BAQ_CACHE[0]
    P.pileup(reads, ref=None, quals=True, baq=tiny_fasta,
             mate_overlap=True).collect()
    assert len(P._BAQ_CACHE) == 1
    assert P._BAQ_CACHE[0] is not first
    P._BAQ_CACHE.pop().unpersist(False)
