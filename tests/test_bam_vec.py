"""Vectorized BAM decode (sources/bamvec) parity with the scalar codec.

The scalar ``bamcodec.parse_records`` is the tests' reference decoder
(itself pinned to the reference project's fixtures in test_bam_native);
the NumPy->Arrow batch decoder must reproduce it record-for-record —
including tags rendering, null seq/qual, '*' cigars, region ownership and
the trailing no-coordinate span.  The parity tests run on the generated
cohort's indexed ``S0.bam`` everywhere, and on the reference project's
BAMs where they exist.  Damaged input (a cut file, corrupt record fields)
must raise through both span decoders and the Spark readers.
"""

import os
import shutil

import pytest

from sequila_spark.sources import bamcodec as B
from sequila_spark.sources import bamvec as BV

SLICE = "/root/reference/src/test/resources/NA12878.slice.bam"
MDBAM = (
    "/root/reference/src/test/resources/multichrom/mdbam/"
    "NA12878.multichrom.md.bam"
)
GEN_S0 = "gen_cohort/S0.bam"  # resolved by _bam_path to the fixture's file


def _inputs(*paths):
    """The generated S0.bam, then each reference BAM that exists."""
    return [GEN_S0] + [p for p in paths if os.path.exists(p)]


def _bam_path(request, path):
    if path == GEN_S0:
        return os.path.join(request.getfixturevalue("gen_cohort")[0], "S0.bam")
    return path


def _scalar(path, **kw):
    with open(path, "rb") as f:
        st = B.BgzfReader(f)
        refs, _ = B.read_bam_header(st)
        return refs, list(B.parse_records(st, refs, **kw))


def _vec(path, refs, span=None, **kw):
    rows = []
    for b in BV.iter_span_batches(path, refs, "S", span, **kw):
        cols = [c.to_pylist() for c in b.columns]
        cols[13] = [dict(m) for m in cols[13]]  # MapArray renders as pairs
        rows.extend(zip(*cols))
    return rows


@pytest.mark.parametrize("path", _inputs(SLICE, MDBAM))
def test_whole_file_exact(request, path):
    """Every field of every record identical, in order — tags included."""
    path = _bam_path(request, path)
    refs, recs = _scalar(path)
    assert recs, "fixture decoded empty"
    assert _vec(path, refs) == [("S",) + r for r in recs]


@pytest.mark.parametrize("path", _inputs(SLICE))
def test_region_spans_ownership(request, path):
    """Chunked region decode reproduces the whole-file mapped multiset
    (owner-by-start), exactly like the scalar span scan."""
    from collections import Counter

    path = _bam_path(request, path)
    refs, recs = _scalar(path)
    whole = Counter((r[0], r[1], r[3]) for r in recs if r[2] is not None)
    linear = B.read_bai_linear(path + ".bai")
    got = Counter()
    for span in B.plan_spans(refs, linear, 7_000):
        for r in _vec(path, refs, span=span):
            got[(r[1], r[2], r[4])] += 1
    assert got == whole


@pytest.mark.skipif(not os.path.exists(SLICE), reason="no reference BAM")
def test_no_tags_and_ordinal():
    refs, recs = _scalar(SLICE, with_tags=False)
    got = _vec(SLICE, refs, with_tags=False, with_ordinal=True, span_idx=3)
    assert [g[:-1] for g in got] == [("S",) + r for r in recs]
    assert [g[-1] for g in got] == [(3 << 32) | i for i in range(len(recs))]


def test_synthetic_edge_records(tmp_path):
    """Codec corner cases the real fixtures may not cover: empty seq ('*'),
    absent qual (0xFF fill), empty cigar, odd-length seq, unmapped rid=-1,
    B-array and float tags."""
    refs = [("c1", 1000), ("c2", 1000)]
    ref_ids = {n: i for i, (n, _) in enumerate(refs)}
    recs = [
        ("r1", 0, "c1", 10, 14, 60, "5M", "c2", 77, -5, "ACGTA", "IIIII",
         {"NM": "1", "MD": "5"}),
        ("odd", 0, "c1", 20, 22, 7, "3M", None, 0, 0, "ACG", "II#", {}),
        ("noseq", 4, None, 0, 0, 0, "*", None, 0, 0, None, None, {"ZZ": "x"}),
        ("noqual", 0, "c2", 5, 8, 1, "2M1D1M", None, 0, 0, "AAA", None, {}),
    ]
    path = str(tmp_path / "edge.bam")
    with open(path, "wb") as f:
        w = B.BgzfWriter(f)
        B.write_bam_header(w, refs, "")
        for r in recs:
            w.write(B.encode_record(r, ref_ids))
        w.close()
    srefs, scalar = _scalar(path)
    assert [r[0] for r in scalar] == ["r1", "odd", "noseq", "noqual"]
    assert scalar[2][10] is None and scalar[3][11] is None
    assert _vec(path, srefs) == [("S",) + r for r in scalar]


@pytest.mark.parametrize("path", _inputs(SLICE))
def test_batch_boundary_carry(request, path):
    """A record split across the streaming batch boundary must carry over
    intact — tiny batch_bytes forces a split inside nearly every record."""
    path = _bam_path(request, path)
    refs, recs = _scalar(path)
    got = _vec(path, refs, batch_bytes=257)
    assert got == [("S",) + r for r in recs]


def test_high_qual_bytes_render_latin1(tmp_path):
    """Qual bytes above phred 93 render +33 mod 256 as latin-1 code
    points (>= 0x80) — the vectorized path must fall back to the scalar
    renderer instead of shipping invalid UTF-8 buffers into Arrow
    (regression: the flat-buffer utf8 array crashed on byte 0xCF)."""
    refs = [("c1", 1000)]
    ref_ids = {"c1": 0}
    hi = "".join(chr(q + 33) for q in (200, 99, 10, 222, 0))
    recs = [
        ("hq", 0, "c1", 10, 14, 60, "5M", None, 0, 0, "ACGTA", hi, {}),
        ("lo", 0, "c1", 20, 24, 60, "5M", None, 0, 0, "ACGTA", "IIIII", {}),
    ]
    path = str(tmp_path / "hq.bam")
    with open(path, "wb") as f:
        w = B.BgzfWriter(f)
        B.write_bam_header(w, refs, "")
        for r in recs:
            w.write(B.encode_record(r, ref_ids))
        w.close()
    srefs, scalar = _scalar(path)
    assert any(ord(c) >= 0x80 for c in scalar[0][11])
    assert _vec(path, srefs) == [("S",) + r for r in scalar]


@pytest.mark.skipif(not os.path.exists(MDBAM), reason="no reference BAM")
def test_pruned_decode_matches_full():
    """columns= pruning changes WHAT is rendered, never the values: the
    pruned columns must equal the same columns sliced from a full decode,
    for every record (soft-clipped + deletion CIGARs included)."""
    refs, recs = _scalar(MDBAM, with_tags=False)
    cols = ["qname", "contig", "pos_start", "pos_end", "seq"]
    got = []
    for b in BV.iter_span_batches(
        MDBAM, refs, "S", None, with_tags=False, columns=cols
    ):
        got.extend(zip(*[c.to_pylist() for c in b.columns]))
    # scalar tuple layout: qname flag contig pos_start pos_end mapq cigar
    # rnext pnext tlen seq qual tags
    want = [(r[0], r[2], r[3], r[4], r[10]) for r in recs]
    assert got == want


def _span_decoders(path, refs):
    """The row and the events decoder over the whole file, each a call
    that consumes it."""
    return (
        lambda: list(BV.iter_span_batches(path, refs, "S", None)),
        lambda: list(BV.iter_span_cov_events(path, refs, None, chunk_size=16_384)),
    )


def test_corrupt_block_size_raises(tmp_path):
    """A record whose int32 block_size is negative (or below the 32-byte
    fixed section) must raise in both span decoders, not stall the offset
    scan on the same position forever (the <= -4 case made end == off)."""
    import struct

    refs = [("c1", 1000)]
    path = str(tmp_path / "bad.bam")
    for block_size in (-4, 8):
        with open(path, "wb") as f:
            w = B.BgzfWriter(f)
            B.write_bam_header(w, refs, "")
            w.write(struct.pack("<i", block_size) + b"\x00" * 64)
            w.close()
        for decode in _span_decoders(path, refs):
            with pytest.raises(ValueError, match="block_size"):
                decode()


def test_utf8_array_rejects_int32_offset_overflow():
    """Offsets past 2^31 would wrap silently in the int32 cast and ship
    corrupt Arrow string buffers; the guard must fail loudly instead."""
    import numpy as np

    cum = np.array([0, 1 << 31], dtype=np.int64)
    with pytest.raises(ValueError, match="int32 offset range"):
        BV._utf8_array(np.zeros(8, dtype=np.uint8), cum)


@pytest.mark.parametrize("path", _inputs(SLICE))
def test_ckern_and_python_scan_identical(request, path, monkeypatch):
    """The C offset-scan/gather kernel and the pure-Python/NumPy fallback
    must produce byte-identical decode output and coverage events (when
    the kernel built)."""
    from sequila_spark.sources import _ckern

    if not _ckern.available():
        pytest.skip("C kernel unavailable on this host")
    path = _bam_path(request, path)
    refs, recs = _scalar(path)

    def decode():
        events = [
            b.to_pydict()
            for b in BV.iter_span_cov_events(
                path, refs, None, chunk_size=1_000, batch_bytes=100_000
            )
        ]
        return _vec(path, refs, batch_bytes=100_000), events

    with_c = decode()
    monkeypatch.setattr(_ckern, "_LIB", False)  # force fallback paths
    assert not _ckern.available()
    without_c = decode()
    monkeypatch.setattr(_ckern, "_LIB", None)
    assert with_c == without_c
    assert with_c[0] == [("S",) + r for r in recs]
    assert with_c[1]


def test_corrupt_inner_fields_raise_before_gather(tmp_path):
    """Corrupt inner record fields (valid block_size, overstated l_seq /
    zero l_qname) must raise before any gather — the C memcpy path would
    otherwise read out of bounds where the scalar parser raises."""
    import struct

    refs = [("c1", 1000)]

    def rec(l_qname, n_cigar, l_seq, body_len):
        fixed = struct.pack(
            "<iiiBBHHHiiii", 32 + body_len, 0, 10, l_qname, 30, 0,
            n_cigar, 0, l_seq, -1, -1, 0,
        )
        return fixed + b"\x00" * body_len

    for bad in (
        rec(l_qname=0, n_cigar=0, l_seq=0, body_len=4),
        rec(l_qname=2, n_cigar=0, l_seq=1000, body_len=4),  # l_seq > record
        rec(l_qname=2, n_cigar=1, l_seq=-1, body_len=8),  # negative l_seq
    ):
        path = str(tmp_path / "inner.bam")
        with open(path, "wb") as f:
            w = B.BgzfWriter(f)
            B.write_bam_header(w, refs, "")
            w.write(bad)
            w.close()
        # the events decoder checks the same extents: an l_seq past the
        # record must not yield coverage for its cigar
        for decode in _span_decoders(path, refs):
            with pytest.raises(ValueError, match="corrupt BAM record"):
                decode()


def test_bad_tag_type_names_the_file(spark, tmp_path):
    """A tag whose type byte is 'q' (no such type) raises naming the file,
    the span and the record's offset, through the span decoder and
    read_bam_native."""
    import re
    import struct

    from sequila_spark.sources.bam import read_bam_native

    qname, tags = b"r1\x00", b"XXq\x07"
    body = qname + tags
    fixed = struct.pack(
        "<iiiBBHHHiiii", 32 + len(body), 0, 10, len(qname), 30, 0, 0, 0, 0, -1, -1, 0
    )
    path = str(tmp_path / "badtag.bam")
    with open(path, "wb") as f:
        w = B.BgzfWriter(f)
        B.write_bam_header(w, [("c1", 1000)], "")
        w.write(fixed + body)
        w.close()
    error = (
        rf"corrupt BAM tags at offset \d+ of span None in {re.escape(path)}: "
        r"BAM tag 'XX': unknown type byte 113 \('q'\)"
    )
    with pytest.raises(ValueError, match=error):
        list(BV.iter_span_batches(path, [("c1", 1000)], "S", None))
    with pytest.raises(Exception, match=error):
        read_bam_native(spark, path).collect()


def _damaged_copies(gen, tmp_path):
    """A 2,000-read generated BAM (12 BGZF blocks) and three damaged
    copies, each with the intact file's .bai: cut at the start of its last
    data block, cut 7 bytes into a middle block's header, and a middle
    block whose CRC32 has one bit flipped."""
    import shutil
    import struct

    path = str(tmp_path / "whole.bam")
    gen.write_bam(path, gen.make_reads(5, 2_000))
    raw = open(path, "rb").read()
    blocks, off = [], 0
    while off < len(raw):
        blocks.append(off)
        off += struct.unpack_from("<H", raw, off + 16)[0] + 1  # BSIZE + 1
    mid = blocks[len(blocks) // 2]
    bad_crc = bytearray(raw)
    bad_crc[blocks[len(blocks) // 2 + 1] - 8] ^= 1  # first CRC32 byte
    damaged = {
        "last_block": raw[: blocks[-2]],
        "mid_header": raw[: mid + 7],
        "bad_crc": bytes(bad_crc),
    }
    out = {}
    for name, data in damaged.items():
        out[name] = str(tmp_path / f"{name}.bam")
        with open(out[name], "wb") as f:
            f.write(data)
        shutil.copy(path + ".bai", out[name] + ".bai")
    return path, out


_DAMAGE_ERRORS = {
    "last_block": "truncated BAM .* ends inside a record",
    "mid_header": "truncated BGZF block at compressed offset",
    "bad_crc": "corrupt BGZF block at compressed offset",
}


@pytest.mark.parametrize("damage", sorted(_DAMAGE_ERRORS))
def test_damaged_bam_raises_in_both_decoders(tmp_path, bench, damage):
    """A BAM cut at a block boundary or inside a block header, or with a
    bad block CRC, raises in the row and the events decoder, whole-file
    and by BAI spans; the intact file decodes every record."""
    gen, _ = bench
    whole, paths = _damaged_copies(gen, tmp_path)
    refs, recs = gen.read_bam_records(whole)
    n_rows = sum(b.num_rows for b in BV.iter_span_batches(whole, refs, "S", None))
    assert n_rows == len(recs) == 2_000

    path, error = paths[damage], _DAMAGE_ERRORS[damage]
    for decode in _span_decoders(path, refs):
        with pytest.raises(ValueError, match=error):
            decode()
    spans = B.plan_spans(refs, B.read_bai_linear(path + ".bai"), 10_000_000)
    with pytest.raises(ValueError, match=error):
        for span in spans:
            list(BV.iter_span_batches(path, refs, "S", span))
    with pytest.raises(ValueError, match=error):
        for span in spans:
            list(BV.iter_span_cov_events(path, refs, span, chunk_size=16_384))


@pytest.mark.parametrize("damage", sorted(_DAMAGE_ERRORS))
def test_damaged_bam_raises_through_spark(spark, tmp_path, bench, damage):
    """The Spark readers surface the same error: read_bam_native's count and
    the fused coverage() plan over a damaged, indexed BAM both fail instead
    of returning fewer rows."""
    from sequila_spark.operators.coverage import coverage
    from sequila_spark.sources.bam import read_bam_native

    gen, _ = bench
    _, paths = _damaged_copies(gen, tmp_path)
    path, error = paths[damage], _DAMAGE_ERRORS[damage]
    with pytest.raises(Exception, match=error):
        read_bam_native(spark, path).count()
    with pytest.raises(Exception, match=error):
        coverage(read_bam_native(spark, path), mode="blocks").count()


def _eof_copies(gen, tmp_path):
    """The 2,000-read generated BAM written with a BGZF block that starts
    exactly at the first record of its fourth contig, and two damaged
    copies carrying the intact file's .bai: cut at that block, so the
    fourth to sixth contigs' spans start past the end of the file and no
    record is split, and with only the 28-byte EOF marker dropped."""
    import numpy as np

    reads = gen.make_reads(5, 2_000)
    body, starts = gen.encode_records(reads)
    first4 = int(np.argmax(reads.cid == 3))
    path = str(tmp_path / "whole.bam")
    voff = []
    with open(path, "wb") as f:
        w = B.BgzfWriter(f, level=1)
        B.write_bam_header(w, gen.CONTIGS)
        for k in range(len(reads)):
            if k == first4:
                w.flush_blocks()
                cut = w.tell_virtual() >> 16
            voff.append(w.tell_virtual())
            w.write(body[starts[k]:starts[k + 1]])
        w.flush_blocks()
        voff.append(w.tell_virtual())
        w.close()
    gen._write_bai(path + ".bai", reads, np.array(voff, dtype=np.int64))
    raw = open(path, "rb").read()
    assert raw.endswith(B.BGZF_EOF)
    out = {}
    for name, data in {"past_end": raw[:cut], "no_eof": raw[: -len(B.BGZF_EOF)]}.items():
        out[name] = str(tmp_path / f"{name}.bam")
        with open(out[name], "wb") as f:
            f.write(data)
        shutil.copy(path + ".bai", out[name] + ".bai")
    return path, out


# case -> (error of a whole-file read, error of a span that starts past the
# end or reads to it)
_EOF_ERRORS = {
    "past_end": ("without the 28-byte BGZF EOF marker",
                 "virtual offset \\d+ .* past the end of the file|without the 28-byte BGZF EOF marker"),
    "no_eof": ("without the 28-byte BGZF EOF marker", "without the 28-byte BGZF EOF marker"),
}


def _decoded_rows(decoder, path, refs, span):
    if decoder == "rows":
        batches = BV.iter_span_batches(path, refs, "S", span)
    else:
        batches = BV.iter_span_cov_events(path, refs, span, chunk_size=16_384)
    return sum(b.num_rows for b in batches)


@pytest.mark.parametrize("case", sorted(_EOF_ERRORS))
def test_bgzf_end_of_data_raises_in_both_decoders(tmp_path, bench, case):
    """A BAM that ends without the EOF marker, or whose BAI points past
    its end, raises in the row and the events decoder: read whole, and
    span by span, where every span either decodes exactly the rows it
    decodes from the intact file or raises naming the file."""
    import re

    gen, _ = bench
    whole, paths = _eof_copies(gen, tmp_path)
    path, (whole_error, span_error) = paths[case], _EOF_ERRORS[case]
    refs, recs = gen.read_bam_records(whole)
    spans = B.plan_spans(refs, B.read_bai_linear(whole + ".bai"), 10_000_000)
    assert _decoded_rows("rows", whole, refs, None) == len(recs) == 2_000
    for decoder in ("rows", "events"):
        with pytest.raises(ValueError, match=whole_error):
            _decoded_rows(decoder, path, refs, None)
        raised = []
        for span in spans:
            intact = _decoded_rows(decoder, whole, refs, span)
            try:
                got = _decoded_rows(decoder, path, refs, span)
            except ValueError as exc:
                assert path in str(exc)
                raised.append(str(exc))
                continue
            assert got == intact, f"{decoder} span {span}: {got} of {intact} rows, no error"
        assert raised and all(re.search(span_error, m) for m in raised), raised
    if case == "past_end":
        assert any("past the end" in m for m in raised), raised


@pytest.mark.parametrize("case", sorted(_EOF_ERRORS))
def test_bgzf_end_of_data_raises_through_spark(spark, tmp_path, bench, case):
    """read_bam_native(...).count() over the same files fails instead of
    counting fewer rows: read whole (no .bai) and by BAI span."""
    from sequila_spark.sources.bam import read_bam_native

    gen, _ = bench
    _, paths = _eof_copies(gen, tmp_path)
    indexed = paths[case]
    unindexed = str(tmp_path / f"{case}_unindexed.bam")
    shutil.copy(indexed, unindexed)
    whole_error, span_error = _EOF_ERRORS[case]
    for path, error in ((unindexed, whole_error), (indexed, span_error)):
        with pytest.raises(Exception, match=error):
            read_bam_native(spark, path).count()


def test_cigar_text_to_ops_parses_like_python():
    """cigar_text_to_ops (the fused CRAM coverage reader's vectorized
    text parse) agrees with a per-record Python regex parse on random
    cigars, including '*' records and multi-digit/op-dense strings."""
    import re

    import numpy as np

    from sequila_spark.sources import bamvec as BV

    rng = np.random.default_rng(13)
    ops = "MIDNSHP=X"
    cigs = []
    for _ in range(500):
        kind = rng.integers(0, 10)
        if kind == 0:
            cigs.append("*")
            continue
        n_ops = int(rng.integers(1, 8))
        cigs.append(
            "".join(
                f"{int(rng.integers(1, 10 ** int(rng.integers(1, 5))))}"
                f"{ops[rng.integers(0, len(ops))]}"
                for _ in range(n_ops)
            )
        )
    buf = np.frombuffer("".join(cigs).encode(), dtype=np.uint8)
    co = np.zeros(len(cigs) + 1, dtype=np.int64)
    np.cumsum([len(c) for c in cigs], out=co[1:])
    cig_u32, op_cum = BV.cigar_text_to_ops(buf, co)

    code = {c: i for i, c in enumerate(ops)}
    want = []
    for c in cigs:
        if c == "*":
            want.append([])
        else:
            want.append(
                [(int(n) << 4) | code[o] for n, o in re.findall(r"(\d+)(.)", c)]
            )
    got = [
        cig_u32[op_cum[i] : op_cum[i + 1]].tolist() for i in range(len(cigs))
    ]
    assert got == want

    with pytest.raises(ValueError, match="invalid CIGAR op"):
        BV.cigar_text_to_ops(
            np.frombuffer(b"10Z", dtype=np.uint8),
            np.array([0, 3], dtype=np.int64),
        )
    # empty buffer: n zero-op records
    u, oc = BV.cigar_text_to_ops(
        np.zeros(0, dtype=np.uint8), np.zeros(4, dtype=np.int64)
    )
    assert len(u) == 0 and oc.tolist() == [0, 0, 0, 0]
