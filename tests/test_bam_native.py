"""Native BAM codec: real-file decode, chunk-boundary ownership, and the
pysam-path owner-by-start rule (monkeypatched pysam — the library is not
installed here).

Input: the reference project's public test slice
(src/test/resources/NA12878.slice.bam) — behavior parity target for
datasources/BAM/AlignmentRelation.scala.  Tests skip if absent.
"""

import os
import shutil
import sys
import types

import pytest

from sequila_spark.sources import bamcodec as B

SLICE = "/root/reference/src/test/resources/NA12878.slice.bam"

needs_slice = pytest.mark.skipif(not os.path.exists(SLICE), reason="no reference BAM")


def _whole_file_records(path):
    with open(path, "rb") as f:
        st = B.BgzfReader(f)
        refs, _ = B.read_bam_header(st)
        return refs, list(B.parse_records(st, refs))


@needs_slice
def test_codec_decodes_slice():
    refs, recs = _whole_file_records(SLICE)
    assert len(recs) == 3172
    r = recs[0]
    qname, flag, contig, start, end, mapq, cigar, rnext, pnext, tlen, seq, qual, tags = r
    assert contig == "chr1" and start == 34 and cigar == "76M"
    assert end == start + 75  # 76M consumes 76 reference bases
    assert len(seq) == 76 and len(qual) == 76
    assert set("ACGTN") >= set(seq)
    assert "RG" in tags or "NM" in tags or tags == {}  # tags decoded


@needs_slice
def test_spans_equal_whole_file_ownership():
    """Chunked scans via the BAI linear index must reproduce the whole-file
    record multiset exactly — no duplicated or dropped reads at chunk
    boundaries (owner-by-start)."""
    from collections import Counter

    refs, recs = _whole_file_records(SLICE)
    whole = Counter((r[0], r[1], r[3]) for r in recs if r[2] is not None)
    linear = B.read_bai_linear(SLICE + ".bai")
    for chunk in (7_000, 100_000_000):  # many boundaries / single chunk
        got = Counter()
        for rid, s0, e0, voff in B.plan_spans(refs, linear, chunk):
            with open(SLICE, "rb") as fh:
                st = B.BgzfReader(fh, voff)
                for r in B.parse_records(st, refs, ref_id=rid, start0=s0, end0=e0):
                    got[(r[0], r[1], r[3])] += 1
        assert got == whole, f"chunk={chunk}"


@needs_slice
def test_read_bam_native_spark(spark, tmp_path):
    from sequila_spark.sources import read_bam_native

    df = read_bam_native(spark, SLICE, chunk=7_000)
    rows = df.collect()
    assert len(rows) == 3172
    assert df.columns[:8] == [
        "sample_id", "qname", "flag", "contig", "pos_start", "pos_end", "mapq", "cigar",
    ]
    assert rows[0]["sample_id"] == "NA12878"
    assert {r["contig"] for r in rows} == {"1"}  # chr1 -> cleaned to '1'
    # no-index fallback: single-task decode yields the same count
    unindexed = tmp_path / "noidx.bam"
    shutil.copyfile(SLICE, unindexed)
    assert read_bam_native(spark, str(unindexed)).count() == 3172


MULTISAMPLE = "/root/reference/src/test/resources/multisample"


@pytest.mark.skipif(not os.path.isdir(MULTISAMPLE), reason="no multisample dir")
def test_multisample_glob(spark):
    """OPTIONS(path '*.bam') parity: a glob yields one unioned relation
    with per-file sample_id (AlignmentRelation.scala:311-324)."""
    from sequila_spark.sources import read_bam_native

    df = read_bam_native(spark, f"{MULTISAMPLE}/*.bam")
    per_sample = {r["sample_id"]: r["count"] for r in df.groupBy("sample_id").count().collect()}
    assert set(per_sample) == {"NA12877", "NA12878", "NA12879"}
    assert all(v > 1000 for v in per_sample.values())
    # directory form and DISTINCT-sample fast path shape
    assert read_bam_native(spark, MULTISAMPLE).count() == sum(per_sample.values())


@pytest.mark.skipif(not os.path.isdir(MULTISAMPLE), reason="no multisample dir")
def test_list_samples_scan_elision(spark, tmp_path):
    """DISTINCT sample_id from metadata only: BAM file names and parquet
    partition directories, no data read."""
    from sequila_spark.sources import list_samples, read_bam_native, write_alignments

    assert list_samples(f"{MULTISAMPLE}/*.bam") == ["NA12877", "NA12878", "NA12879"]
    assert list_samples(MULTISAMPLE) == ["NA12877", "NA12878", "NA12879"]
    store = str(tmp_path / "aln_store")
    write_alignments(read_bam_native(spark, SLICE), store)
    assert list_samples(store) == ["NA12878"]


@needs_slice
def test_write_bam_roundtrip(spark, tmp_path):
    """BAM write (SURVEY §2.1 last row): decode the real slice, write it
    back coordinate-sorted with the native codec, decode again — core
    fields round-trip exactly and the output is standard BGZF (readable
    by plain gzip)."""
    import gzip

    from sequila_spark.sources import read_bam_native, write_bam

    df = read_bam_native(spark, SLICE).where("contig IS NOT NULL")
    out = str(tmp_path / "rt.bam")
    write_bam(df, out)

    # standard BGZF: stdlib gzip reads the multi-member stream
    with gzip.open(out, "rb") as g:
        assert g.read(4) == b"BAM\x01"

    back = read_bam_native(spark, out)
    key = ["qname", "flag", "contig", "pos_start", "pos_end", "mapq", "cigar", "seq", "qual"]
    a = sorted(map(tuple, df.select(*key).collect()))
    b = sorted(map(tuple, back.select(*key).collect()))
    assert a == b
    # coordinate-sorted output
    pos = [r["pos_start"] for r in back.where("contig = '1'").collect()]
    assert pos == sorted(pos)


def test_pysam_owner_by_start_rule(monkeypatch):
    """_pysam_reader must keep only reads whose reference_start falls inside
    the chunk's half-open range, so a read overlapping two chunks is owned
    by exactly one."""
    from sequila_spark.sources.bam import _pysam_reader

    class FakeRead:
        def __init__(self, name, start):
            self.query_name = name
            self.flag = 0
            self.reference_name = "1"
            self.reference_start = start          # 0-based, pysam style
            self.reference_end = start + 100
            self.mapping_quality = 60
            self.cigarstring = "100M"
            self.query_sequence = "A" * 100
            self.qual = "I" * 100

    READS = [FakeRead("a", 9_950), FakeRead("b", 10_000), FakeRead("c", 10_050)]

    class FakeAF:
        def __init__(self, path, mode, **kw):
            pass

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def fetch(self, contig, start, end):
            # pysam semantics: every read OVERLAPPING [start, end)
            return [r for r in READS if r.reference_start + 100 > start and r.reference_start < end]

    fake = types.ModuleType("pysam")
    fake.AlignmentFile = FakeAF
    monkeypatch.setitem(sys.modules, "pysam", fake)

    chunk1 = [r[0] for r in _pysam_reader("x.bam", None, "1", 0, 10_000)]
    chunk2 = [r[0] for r in _pysam_reader("x.bam", None, "1", 10_000, 20_000)]
    assert chunk1 == ["a"]          # 'b' overlaps chunk1 but starts at its end
    assert chunk2 == ["b", "c"]     # each read owned by exactly one chunk
    assert not (set(chunk1) & set(chunk2))


def _synth_bam(path, refs, recs, rec_off_out=None):
    """Write a BAM by hand with codec primitives, returning the compressed
    file offset where records begin (== the records-start virtual offset
    with uoffset 0, since the header is flushed on a block boundary)."""
    ref_ids = {name: i for i, (name, _) in enumerate(refs)}
    with open(path, "wb") as f:
        w = B.BgzfWriter(f)
        B.write_bam_header(w, refs, "")
        w.flush_blocks()
        rec_off = f.tell()
        for rec in recs:
            w.write(B.encode_record(rec, ref_ids))
        w.close()
    return rec_off


def _rec(qname, contig, pos1, flag=0):
    end = pos1 + 4 if contig else 0
    return (qname, flag, contig, pos1, end, 30, "5M" if contig else "*",
            None, 0, 0, "ACGTA", "IIIII", {})


def _write_bai(path, n_ref, rec_off, n_no_coor):
    import struct

    buf = b"BAI\x01" + struct.pack("<i", n_ref)
    for _ in range(n_ref):
        buf += struct.pack("<i", 0)  # n_bin
        buf += struct.pack("<i", 1) + struct.pack("<Q", rec_off << 16)
    buf += struct.pack("<Q", n_no_coor)
    with open(path, "wb") as f:
        f.write(buf)


def test_indexed_and_unindexed_agree_on_unmapped(spark, tmp_path):
    """An indexed BAM must yield the SAME rows as the unindexed single-task
    decode — including the trailing no-coordinate (unmapped, ref_id -1)
    region, which per-reference spans never reach."""
    refs = [("u1", 50_000), ("u2", 50_000)]
    mapped = [_rec(f"m{i}", "u1", 10 + i * 7) for i in range(20)]
    mapped += [_rec(f"n{i}", "u2", 5 + i * 11) for i in range(10)]
    unmapped = [_rec(f"x{i}", None, 0, flag=4) for i in range(7)]

    bam = str(tmp_path / "um.bam")
    rec_off = _synth_bam(bam, refs, mapped + unmapped)
    _write_bai(bam + ".bai", len(refs), rec_off, len(unmapped))

    from sequila_spark.sources import read_bam_native

    key = ["qname", "flag", "contig", "pos_start"]
    with_idx = sorted(map(tuple, read_bam_native(spark, bam, chunk=1000).select(*key).collect()))
    noidx = str(tmp_path / "um_noidx.bam")
    shutil.copyfile(bam, noidx)
    without_idx = sorted(map(tuple, read_bam_native(spark, noidx).select(*key).collect()))
    assert with_idx == without_idx
    assert sum(1 for r in with_idx if r[2] is None) == 7  # exactly once each
    # an index declaring n_no_coor=0 skips the unmapped span (and there are
    # genuinely no unmapped rows to find)
    bam0 = str(tmp_path / "um0.bam")
    off0 = _synth_bam(bam0, refs, mapped)
    _write_bai(bam0 + ".bai", len(refs), off0, 0)
    assert read_bam_native(spark, bam0, chunk=1000).count() == len(mapped)


def test_write_bam_sorts_by_header_ref_order(spark, tmp_path):
    """Coordinate order follows the header's @SQ ref_id sequence, not
    contig-string lexicographic order ('10' after '9'), and null-contig
    (unmapped) rows go last — the spec's placement."""
    from sequila_spark.sources import write_bam

    refs = [("9", 10_000), ("10", 10_000), ("MT", 10_000)]
    rows = [
        ("a", 0, "10", 100, 104, 30, "5M", None, 0, 0, "ACGTA", "IIIII", None),
        ("b", 4, None, 0, 0, 0, "*", None, 0, 0, "ACGTA", None, None),
        ("c", 0, "9", 500, 504, 30, "5M", None, 0, 0, "ACGTA", "IIIII", None),
        ("d", 0, "MT", 7, 11, 30, "5M", None, 0, 0, "ACGTA", "IIIII", None),
        ("e", 0, "9", 20, 24, 30, "5M", None, 0, 0, "ACGTA", "IIIII", None),
    ]
    df = spark.createDataFrame(
        rows,
        "qname string, flag int, contig string, pos_start int, pos_end int, "
        "mapq int, cigar string, rnext string, pnext int, tlen int, "
        "seq string, qual string, tags map<string,string>",
    )
    out = str(tmp_path / "order.bam")
    write_bam(df, out, refs=refs)
    _, recs = _whole_file_records(out)
    assert [(r[0], r[2]) for r in recs] == [
        ("e", "9"), ("c", "9"), ("a", "10"), ("d", "MT"), ("b", None)
    ]


MDBAM = "/root/reference/src/test/resources/multichrom/mdbam/NA12878.multichrom.md.bam"


@pytest.mark.skipif(not os.path.exists(MDBAM), reason="no mdbam fixture")
def test_typed_tag_projection(spark):
    """Typed tag_* columns (Alignment.avsc parity;
    AlignmentRelation.scala:228-261): tag_MD matches the raw MD strings,
    tag_NM is int-typed, absent tags are null, and the projection prunes —
    selecting one tag reads only the tags map."""
    from sequila_spark.sources import read_bam_native, with_typed_tags

    df = read_bam_native(spark, MDBAM, typed_tags=True)
    assert df.schema["tag_MD"].dataType.typeName() == "string"
    assert df.schema["tag_NM"].dataType.typeName() == "integer"
    rows = df.select("tags", "tag_MD", "tag_NM", "tag_BQ").limit(200).collect()
    assert rows and any(r["tag_MD"] is not None for r in rows)
    for r in rows:
        assert r["tag_MD"] == r["tags"].get("MD")
        nm = r["tags"].get("NM")
        assert r["tag_NM"] == (int(nm) if nm is not None else None)
        assert r["tag_BQ"] is None  # tag absent in this file -> null column
    # restricted projection
    two = with_typed_tags(read_bam_native(spark, MDBAM), tags=["MD", "NM"])
    assert [c for c in two.columns if c.startswith("tag_")] == ["tag_MD", "tag_NM"]
    # no tags column -> clear error
    with pytest.raises(ValueError, match="tags"):
        with_typed_tags(spark.range(1))


@needs_slice
def test_write_bam_sharded_roundtrip(spark, tmp_path):
    """Scale-path BAM write: per-task shard files + streamed driver
    concatenation (no collect) must produce a byte-valid BAM equal in
    content to the collect-mode output, from a genuinely multi-partition
    input."""
    from sequila_spark.sources import read_bam_native, write_bam

    df = read_bam_native(spark, SLICE).where("contig IS NOT NULL").repartition(7)
    single = str(tmp_path / "single.bam")
    shard = str(tmp_path / "shard.bam")
    write_bam(df, single)
    write_bam(df, shard, sharded=True)
    assert not os.path.exists(shard + ".shards")  # cleaned up

    _, a = _whole_file_records(single)
    _, b = _whole_file_records(shard)
    assert len(b) == len(a) == df.count()
    # both coordinate-sorted with identical record multisets
    assert sorted(a) == sorted(b)
    key = [(r[2], r[3]) for r in b]
    assert key == sorted(key, key=lambda t: (t[0] is None, t[0] or "", t[1]))


def test_cram_path_owner_by_start_and_mode(monkeypatch):
    """CRAM leg of the pysam shim (bam.py _pysam_reader via read_bam):
    .cram opens with mode 'rc' + reference_filename forwarded, and chunk
    ownership follows the same owner-by-start rule as the BAM path — a
    read overlapping two chunks is yielded by exactly one."""
    from sequila_spark.sources.bam import _pysam_reader

    opened = []

    class FakeRead:
        def __init__(self, name, start):
            self.query_name = name
            self.flag = 0
            self.reference_name = "1"
            self.reference_start = start
            self.reference_end = start + 100
            self.mapping_quality = 60
            self.cigarstring = "100M"
            self.query_sequence = "A" * 100
            self.qual = "I" * 100

    READS = [FakeRead("a", 9_950), FakeRead("b", 10_000), FakeRead("c", 10_050)]

    class FakeAF:
        def __init__(self, path, mode, **kw):
            opened.append((path, mode, kw))

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def fetch(self, contig, start, end):
            return [
                r for r in READS
                if r.reference_start + 100 > start and r.reference_start < end
            ]

    fake = types.ModuleType("pysam")
    fake.AlignmentFile = FakeAF
    monkeypatch.setitem(sys.modules, "pysam", fake)

    c1 = [r[0] for r in _pysam_reader("x.cram", "ref.fa", "1", 0, 10_000)]
    c2 = [r[0] for r in _pysam_reader("x.cram", "ref.fa", "1", 10_000, 20_000)]
    assert c1 == ["a"] and c2 == ["b", "c"]
    assert not (set(c1) & set(c2))
    # CRAM specifics: 'rc' mode and the reference path forwarded to htslib
    assert all(m == "rc" for _p, m, _k in opened)
    assert all(k == {"reference_filename": "ref.fa"} for _p, _m, k in opened)


def test_read_cram_unsupported_codec_guides(spark, tmp_path, monkeypatch):
    """CRAM 3.0 decodes natively; a file using codecs outside the native
    set falls back to pysam, and with pysam absent the error must point at
    the parquet alternative, not crash obscurely."""
    import importlib

    if importlib.util.find_spec("pysam") is not None:
        pytest.skip("pysam installed; guidance path not reachable")
    from sequila_spark.sources import bam as bam_mod

    def boom(*a, **k):
        raise NotImplementedError("CRAM encoding codec 7")

    monkeypatch.setattr(bam_mod, "read_cram_native", boom)
    with pytest.raises(ImportError, match="read_alignments"):
        bam_mod.read_bam(spark, "/nonexistent/sample.cram")


@needs_slice
def test_write_bam_sharded_refuses_stale_dir(spark, tmp_path):
    """Leftover shard files from a failed prior run must not be silently
    concatenated into the output."""
    from sequila_spark.sources import read_bam_native, write_bam

    df = read_bam_native(spark, SLICE).where("contig IS NOT NULL").limit(10)
    sdir = str(tmp_path / "shards")
    os.makedirs(sdir)
    with open(os.path.join(sdir, "part-99999.bgzf"), "wb") as f:
        f.write(b"stale")
    with pytest.raises(ValueError, match="not empty"):
        write_bam(df, str(tmp_path / "out.bam"), sharded=True, shard_dir=sdir)


@needs_slice
def test_write_bam_with_index_chunked_decode(spark, tmp_path):
    """index=True writes a spec-complete .bai built in parallel during the
    encode; the indexed file then chunk-decodes through read_bam_native
    into MULTIPLE spans with exactly the same rows as a whole-file decode,
    in both assembly modes."""
    from sequila_spark.sources import read_bam_native, write_bam
    from sequila_spark.sources.bamcodec import plan_spans, read_bai

    df = read_bam_native(spark, SLICE).where("contig IS NOT NULL").repartition(5)
    key = ["qname", "flag", "contig", "pos_start", "pos_end", "cigar", "seq", "qual"]
    expect = sorted(map(tuple, df.select(*key).collect()))

    for mode in ("collect", "sharded"):
        out = str(tmp_path / f"ix_{mode}.bam")
        write_bam(df, out, sharded=(mode == "sharded"), index=True)
        assert os.path.exists(out + ".bai")
        linear, n_no_coor = read_bai(out + ".bai")
        assert n_no_coor == 0
        assert any(any(v) for v in linear)  # non-trivial linear index
        back = read_bam_native(spark, out, chunk=8_000)
        got = sorted(map(tuple, back.select(*key).collect()))
        assert got == expect
        # the index genuinely splits the decode into multiple spans
        from sequila_spark.sources.bamcodec import BgzfReader, read_bam_header

        with open(out, "rb") as fh:
            refs, _ = read_bam_header(BgzfReader(fh))
        spans = plan_spans(refs, linear, 8_000)
        assert len(spans) > 1
        assert len({sp[3] for sp in spans}) > 1  # distinct seek voffsets


def test_write_bam_index_requires_sort(spark):
    from sequila_spark.sources import write_bam

    df = spark.createDataFrame(
        [("q", 0, "1", 10, 19, 60, "10M", None, 0, 0, "A" * 10, "I" * 10)],
        "qname string, flag int, contig string, pos_start int, pos_end int,"
        "mapq int, cigar string, rnext string, pnext int, tlen int,"
        "seq string, qual string",
    )
    with pytest.raises(ValueError, match="sort"):
        write_bam(df, "/tmp/x.bam", sort=False, index=True)


def test_reg2bin_spec_values():
    from sequila_spark.sources.bamcodec import reg2bin

    assert reg2bin(0, 1) == 4681          # first 16kb leaf
    assert reg2bin(16384, 16385) == 4682  # second leaf
    assert reg2bin(0, 16385) == 585       # spans two leaves -> 128kb level
    assert reg2bin(0, 1 << 26) == 1       # first 8Mb... spans -> level 1
    assert reg2bin(0, (1 << 29)) == 0     # whole-reference bin


def test_typed_tags_requires_tags_in_columns(spark, tmp_path):
    """typed_tags projects out of 'tags'; a pruning list that omits it
    must fail at read time with a clear error, not at plan time."""
    import pytest as _pytest

    from sequila_spark.sources import read_bam_native

    bam = str(tmp_path / "one.bam")
    _synth_bam(bam, [("1", 1000)], [_rec("a", "1", 10)])
    with _pytest.raises(ValueError, match="typed_tags"):
        read_bam_native(
            spark, bam, typed_tags=True, columns=["qname", "contig"]
        )


def _spec_reg2bin(beg, end):
    """SAM spec §5.3 reg2bin for a 0-based half-open [beg, end)."""
    end -= 1
    for shift, first in ((14, 4681), (17, 585), (20, 73), (23, 9), (26, 1)):
        if beg >> shift == end >> shift:
            return first + (beg >> shift)
    return 0


def test_write_bam_packs_spec_bin(spark, tmp_path):
    """write_bam packs reg2bin over each read's reference span into the
    record's bin field; an unplaced read (pos -1) gets bin 4680."""
    import gzip
    import struct

    from sequila_spark.sources import write_bam

    df = spark.createDataFrame(
        [
            ("m", 0, "1", 101, 110, 60, "10M", None, 0, 0, "A" * 10, "I" * 10),
            # 5M 20000D 5M from 10001: [10000, 30010) crosses 16384
            ("d", 0, "1", 10001, 30010, 60, "5M20000D5M", None, 0, 0, "A" * 10, "I" * 10),
            ("u", 4, None, None, None, 0, "*", None, 0, 0, "A" * 10, "I" * 10),
        ],
        "qname string, flag int, contig string, pos_start int, pos_end int,"
        "mapq int, cigar string, rnext string, pnext int, tlen int,"
        "seq string, qual string",
    )
    out = str(tmp_path / "bins.bam")
    write_bam(df, out, refs=[("1", 100_000)])

    data = gzip.open(out, "rb").read()
    (l_text,) = struct.unpack_from("<i", data, 4)
    off = 8 + l_text
    (n_ref,) = struct.unpack_from("<i", data, off)
    off += 4
    for _ in range(n_ref):
        (l_name,) = struct.unpack_from("<i", data, off)
        off += 4 + l_name + 4
    got = {}
    while off < len(data):
        block_size, _rid, pos0, l_name, _mapq, bin_ = struct.unpack_from("<iiiBBH", data, off)
        qname = data[off + 36 : off + 36 + l_name - 1].decode()
        got[qname] = (pos0, bin_)
        off += 4 + block_size
    assert got == {
        "m": (100, _spec_reg2bin(100, 110)),
        "d": (10000, _spec_reg2bin(10000, 30010)),
        "u": (-1, _spec_reg2bin(-1, 0)),
    }
    assert got["d"][1] == 585 and got["u"][1] == 4680


def test_unknown_tag_type_raises():
    """An unknown tag type byte names the tag, the byte and its offset
    instead of silently dropping the record's remaining tags."""
    import struct

    blob = b"RGZgrp\x00" + b"XXq\x01\x02\x03\x04" + b"NMi" + struct.pack("<i", 3)
    with pytest.raises(ValueError, match=r"'XX'.*113.*offset 9 "):
        B._decode_tags(blob)


@pytest.mark.parametrize(
    "blob, match",
    [
        (b"NMi\x03\x00", r"'NM' type 'i': 4-byte value .* offset 3 "),
        (b"RGZgrp\x00XXs\x01", r"'XX' type 's': 2-byte value .* offset 10 "),
        (b"XXf\x00\x00", r"'XX' type 'f': 4-byte value .* offset 3 "),
        (b"RGZgrp\x00XXA", r"'XX' type 'A': 1-byte value .* offset 10 "),
        (b"RGZgrp", r"'RG' type 'Z': value has no NUL .* offset 3 "),
        (b"XXHbeef", r"'XX' type 'H': value has no NUL .* offset 3 "),
        (b"XXBC\x03\x00", r"'XX' type 'B': array header .* offset 3 "),
        (b"XXBC\x03\x00\x00\x00\x01\x02", r"'XX' type 'B': 3 values .* offset 3 "),
        (b"XXBs\xff\xff\xff\xff", r"'XX' type 'B': -1 values .* offset 3 "),
        (b"RGZgrp\x00NM", r"2 byte\(s\) left over at offset 7"),
        (b"NMC\x01X", r"1 byte\(s\) left over at offset 4"),
    ],
)
def test_truncated_tag_values_raise(blob, match):
    """A tag value that runs past the tag block, or bytes left over after
    the last tag, raise instead of decoding a short value or dropping the
    bytes; the message names the tag, its type and the offset."""
    with pytest.raises(ValueError, match=match):
        B._decode_tags(blob)


def test_unknown_b_subtype_raises():
    """An unknown ``B`` array subtype is a named ValueError on both the
    tag-block decoder and the single-value renderer, not a bare KeyError."""
    with pytest.raises(ValueError, match=r"'XX' type 'B': unknown array subtype 'q' at offset 3 "):
        B._decode_tags(b"XXBq\x01\x00\x00\x00\x05")
    with pytest.raises(ValueError, match=r"unknown array subtype 'q' at offset 0"):
        B.decode_tag_bytes("B", b"q\x01\x00\x00\x00\x05")
    # the well-formed forms of the same blocks still decode
    assert B._decode_tags(b"RGZgrp\x00NMi\x03\x00\x00\x00XXBC\x02\x00\x00\x00\x01\x02") == {
        "RG": "grp", "NM": "3", "XX": "1,2"
    }


def test_inflate_libdeflate_matches_zlib(tmp_path):
    """sources/_inflate must yield byte-identical output to zlib on real
    BGZF members, use the declared out_size, and reject corrupt members."""
    import struct
    import zlib

    import pytest as _pytest

    from sequila_spark.sources import _inflate
    from sequila_spark.sources import bamcodec as B

    p = tmp_path / "t.bgzf"
    payload = b"sequila" * 4096
    with open(p, "wb") as f:
        w = B.BgzfWriter(f)
        w.write(payload)
        w.close()
    raw = p.read_bytes()
    # first member: parse BSIZE to slice it
    xlen = struct.unpack_from("<H", raw, 10)[0]
    bsize = None
    off = 12
    while off < 12 + xlen:
        si1, si2, slen = raw[off], raw[off + 1], struct.unpack_from("<H", raw, off + 2)[0]
        if si1 == 0x42 and si2 == 0x43 and slen == 2:
            bsize = struct.unpack_from("<H", raw, off + 4)[0]
            break
        off += 4 + slen
    member = raw[: bsize + 1]
    ref = zlib.decompress(member, wbits=31)
    assert _inflate.gzip_decompress(member) == ref
    assert _inflate.gzip_decompress(member, len(ref)) == ref
    # wrong declared size falls back to zlib and still yields right bytes
    assert _inflate.gzip_decompress(member, len(ref) + 7) == ref
    bad = bytearray(member)
    bad[len(member) // 2] ^= 0xFF
    with _pytest.raises(zlib.error):
        _inflate.gzip_decompress(bytes(bad))
