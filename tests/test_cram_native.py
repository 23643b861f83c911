"""Native CRAM 3.0 decoder vs the BAM decode of the SAME reads.

The reference project ships NA12878.slice in both BAM and CRAM
(src/test/resources/NA12878.slice.{bam,cram}) plus the FASTA the CRAM was
encoded against — so the pure-Python BAM codec provides an independent
golden for the pure-Python CRAM codec, record for record: every core
field (qname, flag, contig, pos, end, mapq, cigar, rnext, pnext, tlen,
seq, qual) must round-trip exactly, including the two reads extending
past the reference end (htslib stores their beyond-reference bases as
explicit base+qual 'B' features).

NM policy: htslib drops NM at encode when it assumes recomputability, so
a faithful decode yields NM only where the tag dictionary carried it
explicitly — those must equal the BAM's values.
"""

import os
import random
import struct

import pytest

from sequila_spark.sources import bamcodec as B
from sequila_spark.sources import cramcodec as C

RES = "/root/reference/src/test/resources"
CRAM = f"{RES}/NA12878.slice.cram"
BAM = f"{RES}/NA12878.slice.bam"
FASTA = f"{RES}/NA12878.slice.fasta"

# Only the tests that read the reference CRAM, BAM or FASTA need it; the
# codec, mate-resolution and tag-rendering tests build their own input.
needs_ref = pytest.mark.skipif(
    not os.path.exists(CRAM), reason="reference CRAM fixture not present"
)

# fixtures/bigcram's CRAM is 64 copies of the reference CRAM's one data
# container: its first 304,994 bytes are the file header and that
# container, its last 38 the EOF container.
BIGCRAM = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures", "bigcram", "NA12878.slice.cram",
)


@pytest.fixture(scope="module")
def slice_cram(tmp_path_factory):
    """The reference CRAM where it exists, else its one-container copy cut
    out of fixtures/bigcram (305,032 bytes, 3,172 records)."""
    if os.path.exists(CRAM):
        return CRAM
    data = open(BIGCRAM, "rb").read()
    cut = data[:304_994] + data[-38:]
    assert len(cut) == 305_032
    path = tmp_path_factory.mktemp("slice_cram") / "NA12878.slice.cram"
    path.write_bytes(cut)
    return str(path)


def _bam_records():
    with open(BAM, "rb") as f:
        st = B.BgzfReader(f)
        refs, _ = B.read_bam_header(st)
        return list(B.parse_records(st, refs))


@pytest.fixture(scope="module")
def decoded():
    cram = list(C.read_cram_records(CRAM, FASTA))
    bam = _bam_records()
    return cram, bam


@needs_ref
def test_all_core_fields_roundtrip(decoded):
    cram, bam = decoded
    assert len(cram) == len(bam) == 3172
    a = sorted(r[:12] for r in cram)
    b = sorted(r[:12] for r in bam)
    assert a == b  # qname..qual, every record, byte-exact


@needs_ref
def test_tags_roundtrip(decoded):
    cram, bam = decoded
    bkey = {(r[0], r[1]): r for r in bam}
    checked = 0
    nm_explicit = 0
    for r in cram:
        g = bkey[(r[0], r[1])]
        # RG travels in the RG data series and is materialized against the
        # header's @RG lines (htslib parity) — it must match the BAM's tag.
        # NM is dropped-as-recomputable; everything else matches exactly.
        gg = {k: v for k, v in g[12].items() if k != "NM"}
        cc = {k: v for k, v in r[12].items() if k != "NM"}
        assert cc == gg, (r[0], cc, gg)
        checked += len(gg)
        if "NM" in r[12]:  # explicitly preserved -> must equal the BAM's
            nm_explicit += 1
            assert r[12]["NM"] == g[12]["NM"]
    assert checked > 10_000 and nm_explicit == 2


@needs_ref
def test_synthesize_nm_counts_edits():
    """Opt-in NM synthesis (samtools-calmd analog) fills NM for every
    mapped read from the feature walk."""
    data = open(CRAM, "rb").read()
    names = C.read_file_header(data)[0]
    fa = C.load_fasta(FASTA)
    recs = []
    for h in C.scan_containers(data):
        recs.extend(C.decode_container(data, h, names, fa, synthesize_nm=True))
    assert all("NM" in r[12] for r in recs if not r[1] & 0x4)


@needs_ref
def test_read_cram_native_spark(spark):
    from pyspark.sql import functions as F

    from sequila_spark.sources import read_bam, read_bam_native

    df = read_bam(spark, CRAM, ref_path=FASTA)
    assert df.count() == 3172
    assert df.select("sample_id").distinct().collect()[0][0] == "NA12878"
    # contig cleaning applied the same as the BAM reader
    assert {r["contig"] for r in df.select("contig").distinct().collect()} == {"1"}
    # cross-source agreement on a downstream operator: per-contig read count
    bam_df = read_bam_native(spark, BAM)
    a = df.groupBy("contig").agg(F.count("*").alias("n")).collect()
    b = bam_df.groupBy("contig").agg(F.count("*").alias("n")).collect()
    assert {(r["contig"], r["n"]) for r in a} == {(r["contig"], r["n"]) for r in b}


def test_scan_containers_headers_only(slice_cram):
    """The planning scan sees every container with correct record counts
    and in-bounds byte ranges (it reads headers only — no data-block
    decompression happens at plan time)."""
    data = open(slice_cram, "rb").read()
    containers = C.scan_containers(data)
    assert sum(h["n_records"] for h in containers) == 3172
    for h in containers:
        assert 0 < h["data_offset"] < len(data)
        assert h["data_offset"] + h["length"] <= len(data)


def test_missing_reference_is_loud(slice_cram):
    """Reference-based slices without ref_seqs must raise with guidance,
    not silently produce N sequences."""
    with pytest.raises(ValueError, match="ref_path"):
        list(C.read_cram_records(slice_cram, None))


@needs_ref
def test_multi_container_parallel_decode(spark, tmp_path):
    """Containers are independent decode units: a crafted two-container
    file (the fixture's data container duplicated — legal, since every
    container carries its own compression header and slice start) yields
    exactly twice the record multiset, through one Spark task per
    container."""
    data = open(CRAM, "rb").read()
    _names, _text, off = C.read_file_header(data)
    h = C.scan_containers(data)[0]
    container = data[off : h["data_offset"] + h["length"]]
    eof = data[h["data_offset"] + h["length"] :]
    crafted = str(tmp_path / "two.cram")
    with open(crafted, "wb") as f:
        f.write(data[:off] + container + container + eof)

    from sequila_spark.sources import read_cram_native

    df = read_cram_native(spark, crafted, ref_path=FASTA)
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 2 * 3172
    per_key = df.groupBy("qname", "flag").count().collect()
    assert all(r["count"] == 2 for r in per_key)


def test_resolve_mates_pair_semantics():
    """Mate-downstream (CF 0x4) records get rnext/pnext/tlen/flag bits
    from the linked mate (htsjdk convention: mate index = i + NF + 1),
    matching BAM pair semantics: TLEN spans leftmost start to rightmost
    end, positive on the leftmost record; 0x20/0x8 mirror the mate's
    reverse/unmapped bits."""
    from sequila_spark.sources.cramcodec import _resolve_mates

    def rec(bf, rid, ap, end, nf=None, unmapped=False):
        return {
            "bf": bf, "rid": rid, "ap": ap, "end": end, "nf": nf,
            "unmapped": unmapped, "next_rid": -1, "next_pos": 0, "tlen": 0,
        }

    # r0 links to r2 (nf=1 skips r1); r1 is an unrelated detached record
    recs = [
        rec(0x1 | 0x40, 5, 100, 175, nf=1),        # fwd, first-in-pair
        rec(0x1 | 0x2, 5, 120, 195),                # unrelated
        rec(0x1 | 0x10 | 0x80, 5, 300, 380),        # rev, second-in-pair
    ]
    _resolve_mates(recs)
    a, other, b = recs
    assert (a["next_rid"], a["next_pos"]) == (5, 300)
    assert (b["next_rid"], b["next_pos"]) == (5, 100)
    assert a["bf"] & 0x20 and not (b["bf"] & 0x20)  # only mate-of-rev gets it
    assert a["tlen"] == 380 - 100 + 1 and b["tlen"] == -(380 - 100 + 1)
    assert (other["next_rid"], other["next_pos"], other["tlen"]) == (-1, 0, 0)
    # mate-unmapped propagation, different refs -> tlen stays 0
    recs = [
        rec(0x1, 1, 50, 120, nf=0),
        rec(0x1 | 0x4, 2, 0, 0, unmapped=True),
    ]
    _resolve_mates(recs)
    assert recs[0]["bf"] & 0x8 and recs[0]["tlen"] == 0


def test_unsupported_cram_falls_back_at_plan_time(spark, tmp_path, slice_cram):
    """A CRAM outside the supported shape (here: major version 2) must
    raise at read_bam() CALL time — not as an opaque executor failure —
    and reach the pysam-guidance error through the real fallback path
    (no monkeypatching)."""
    import importlib

    if importlib.util.find_spec("pysam") is not None:
        pytest.skip("pysam installed; guidance path not reachable")
    data = bytearray(open(slice_cram, "rb").read())
    data[4] = 2  # claim CRAM v2: different container framing, unsupported
    bad = str(tmp_path / "v2.cram")
    with open(bad, "wb") as f:
        f.write(data)
    from sequila_spark.sources import read_bam

    with pytest.raises(ImportError, match="read_alignments"):
        read_bam(spark, bad, ref_path=FASTA)


def test_resolve_mates_malformed_link_left_unmated():
    from sequila_spark.sources.cramcodec import _resolve_mates

    recs = [
        {"bf": 0x1, "rid": 0, "ap": 10, "end": 80, "nf": 99,  # points past end
         "unmapped": False, "next_rid": -1, "next_pos": 0, "tlen": 0},
    ]
    _resolve_mates(recs)
    assert (recs[0]["next_rid"], recs[0]["next_pos"], recs[0]["tlen"]) == (-1, 0, 0)


def test_core_bitstream_codecs():
    """Codec paths no htslib fixture exercises: canonical Huffman over the
    core bit stream (spec 13.7 code assignment) and BETA fixed-width
    integers decode correctly from hand-built bitstreams."""
    from sequila_spark.sources.cramcodec import BitReader, Encoding

    # Canonical Huffman, alphabet {5,6,7} with bit lengths {1,2,2}:
    # codes 5->0, 6->10, 7->11.  Stream 0 10 11 0 -> 5,6,7,5
    params = bytes([3, 5, 6, 7, 3, 1, 2, 2])
    enc = Encoding(3, params)
    bits = BitReader(bytes([0b01011010]))  # 0,10,11,0 + trailing 10 ignored
    got = [enc.decode_int(bits, {}) for _ in range(4)]
    assert got == [5, 6, 7, 5]
    # constant (0-bit) Huffman reads nothing
    const = Encoding(3, bytes([1, 42, 1, 0]))
    assert const.decode_int(BitReader(b""), {}) == 42
    # BETA: offset 10, 4 bits; stream 0b0111 0b1111 -> 7-10=-3, 15-10=5
    beta = Encoding(6, bytes([10, 4]))
    bits = BitReader(bytes([0b01111111]))
    assert [beta.decode_int(bits, {}) for _ in range(2)] == [-3, 5]


def test_block_compression_methods():
    """bzip2/lzma/raw block payloads (methods 0/2/3) round-trip through
    _decompress; unknown methods raise NotImplementedError."""
    import bz2
    import lzma

    import pytest as _pytest

    from sequila_spark.sources.cramcodec import _decompress

    payload = b"CRAM block payload" * 10
    assert _decompress(0, payload, len(payload)) == payload
    assert _decompress(2, bz2.compress(payload), len(payload)) == payload
    assert _decompress(3, lzma.compress(payload), len(payload)) == payload
    with _pytest.raises(NotImplementedError):
        _decompress(9, payload, len(payload))


def test_tag_rendering_shared_with_bam_codec():
    """The CRAM tag renderer delegates to bamcodec.decode_tag_bytes, so
    every type — 'B' arrays included (subtype + int32 count + values,
    comma-joined) — renders byte-identically on both paths."""
    import struct

    from sequila_spark.sources.bamcodec import _decode_tags, decode_tag_bytes
    from sequila_spark.sources.cramcodec import _decode_tag_value

    cases = {
        ("Xi", "i"): struct.pack("<i", -70000),
        ("Xc", "c"): struct.pack("<b", -5),
        ("Xf", "f"): struct.pack("<f", 1.5),
        ("XA", "A"): b"Q",
        ("XZ", "Z"): b"hello\x00",
        ("XB", "B"): b"S" + struct.pack("<i", 3) + struct.pack("<3H", 7, 8, 65535),
        ("Xb", "B"): b"f" + struct.pack("<i", 2) + struct.pack("<2f", 0.5, -2.0),
    }
    blob = b"".join(
        name.encode() + typ.encode() + raw
        for (name, typ), raw in cases.items()
    )
    via_bam = _decode_tags(blob)
    for (name, typ), raw in cases.items():
        assert _decode_tag_value(typ, raw) == via_bam[name]
    assert via_bam["XB"] == "7,8,65535"
    assert decode_tag_bytes("B", cases[("Xb", "B")]) == "0.5,-2.0"


def test_rans_freq_rle_run_adjacent_symbol():
    """hts-specs rANS frequency-table RLE: the next explicit symbol
    compares against the RUN-ADVANCED current symbol (htscodecs j+1 ==
    *cp), so an explicit symbol equal to run_end+1 starts a new RLE run
    instead of desyncing the table read."""
    from sequila_spark.sources.cramcodec import ByteReader, _rans_read_freqs0

    # sym 10 (f=100); explicit 11 == 10+1 -> rle=1 covering 12; then
    # explicit 13 == run-advanced 12 + 1 -> consumes an RLE byte (0);
    # terminator symbol 0.
    stream = bytes([10, 100, 11, 1, 50, 25, 13, 0, 25, 0])
    r = ByteReader(stream)
    packed = _rans_read_freqs0(r)
    # packed slot-table form ((freq << 24) | (bias << 12) | symbol):
    # symbol s occupies freq[s] consecutive slots
    syms = [v & 0xFF for v in packed]
    freq = {s: syms.count(s) for s in (10, 11, 12, 13)}
    assert (freq[10], freq[11], freq[12], freq[13]) == (100, 50, 25, 25)
    assert packed[syms.index(11)] >> 24 == 50
    assert r.i == len(stream)  # every byte consumed, no desync


def test_rans4x8_corrupt_freq_table_is_loud():
    """Corrupt 4x8 frequency tables raise ONE host-independent
    ValueError — a symbol RLE run past 255 and a total frequency over
    the 4096-slot normalization both previously failed differently per
    host (uint8-fromiter OverflowError on the C path, NumPy broadcast
    ValueError on the C-absent fallback) for the same corrupt input
    (ADVICE r12)."""
    import struct

    from sequila_spark.sources.cramcodec import (
        ByteReader,
        _rans_read_freq_pairs,
        rans_decode,
    )

    def stream(table: bytes) -> bytes:
        return bytes([0]) + struct.pack("<II", len(table), 100) + table

    # total frequency 5000 > 4096: sym 65 with a two-byte itf8 freq,
    # terminator symbol 0
    over_total = bytes([65, 0x80 | (5000 >> 8), 5000 & 0xFF, 0])
    with pytest.raises(ValueError, match="corrupt rANS frequency table"):
        rans_decode(stream(over_total))

    # symbol RLE run past 255: start at 254, explicit 255 == 254+1 opens
    # a 2-run that advances the symbol to 256 then 257 before the
    # terminator
    over_sym = bytes([254, 10, 255, 2, 10, 10, 10, 0])
    with pytest.raises(ValueError, match="corrupt rANS frequency table"):
        rans_decode(stream(over_sym))
    # the shared parser raises identically with no C kernel in the path
    with pytest.raises(ValueError, match="corrupt rANS frequency table"):
        _rans_read_freq_pairs(ByteReader(over_sym))


def test_resolve_mates_three_segment_template_tlen():
    """3+ segment templates linked in-slice get TLEN = leftmost-start to
    rightmost-end span across ALL mapped same-reference members (+ on the
    leftmost segment, - on the rest) — htslib's cram_decode convention."""
    from sequila_spark.sources.cramcodec import _resolve_mates

    def rec(ap, end, nf=None):
        return {"bf": 0x1, "rid": 3, "ap": ap, "end": end, "nf": nf,
                "unmapped": False, "next_rid": -1, "next_pos": 0, "tlen": 0}

    recs = [rec(100, 175, nf=0), rec(300, 380, nf=0), rec(50, 110)]
    _resolve_mates(recs)
    span = 380 - 50 + 1
    assert recs[2]["tlen"] == span  # leftmost (ap=50)
    assert recs[0]["tlen"] == -span and recs[1]["tlen"] == -span
    # chain wraps: last record points back to the first
    assert (recs[2]["next_rid"], recs[2]["next_pos"]) == (3, 100)


@needs_ref
def test_rg_tag_materialized_from_series(decoded):
    """Every record carries tags['RG'] resolved from the RG data series
    against the header's @RG ID list (htslib parity — previously the
    series index was decoded and discarded)."""
    cram, bam = decoded
    bkey = {(r[0], r[1]): r for r in bam}
    n_rg = 0
    for r in cram:
        g = bkey[(r[0], r[1])]
        if "RG" in g[12]:
            n_rg += 1
            assert r[12]["RG"] == g[12]["RG"]
    assert n_rg == len(cram)  # the fixture tags every read


def test_container_span_pruning(tmp_path, slice_cram):
    """plan_cram_containers prunes by (contig, start, end) from container
    HEADERS alone: the fixture's single container covers chr1:34-29954, so
    overlapping intervals keep it and disjoint ones plan ZERO tasks —
    the CRAM analog of BAI interval pushdown."""
    from sequila_spark.sources.bam import plan_cram_containers

    names, rgs, all_c = plan_cram_containers(slice_cram)
    assert len(all_c) == 1 and rgs and rgs[0] == "61CC3.5"
    # overlap (cleaned and raw contig spellings both resolve)
    for spelling in ("1", "chr1"):
        _n, _r, kept = plan_cram_containers(slice_cram, spelling, 1000, 2000)
        assert len(kept) == 1
    # disjoint interval / other contig / unmapped-only exclusion
    assert plan_cram_containers(slice_cram, "1", 40000, 50000)[2] == []
    assert plan_cram_containers(slice_cram, "2", 1, 10**9)[2] == []


@needs_ref
def test_read_cram_native_interval_slice(spark):
    """A sliced read prunes tasks at plan time and returns exactly the
    overlap-filtered rows of a full read (htslib fetch semantics)."""
    from pyspark.sql import functions as F

    from sequila_spark.sources import read_cram_native

    full = read_cram_native(spark, CRAM, ref_path=FASTA)
    sliced = read_cram_native(
        spark, CRAM, ref_path=FASTA, contig="1", start=5000, end=6000
    )
    expect = full.where(
        (F.col("contig") == "1")
        & (F.col("pos_start") <= 6000)
        & (F.col("pos_end") >= 5000)
    )
    a = sorted(map(tuple, sliced.drop("tags").collect()))
    b = sorted(map(tuple, expect.drop("tags").collect()))
    assert a == b and len(a) > 0
    # disjoint slice: zero tasks planned, zero rows — and no decode work
    empty = read_cram_native(
        spark, CRAM, ref_path=FASTA, contig="1", start=10**8, end=10**8 + 10
    )
    assert empty.count() == 0


@needs_ref
def test_read_cram_native_multisample(spark, tmp_path):
    """Glob/dir/list inputs build a multi-sample relation with sample_id
    from each file name — parity with read_bam_native's multi-sample path
    (reference: AlignmentRelation.scala:311-324)."""
    import shutil

    from pyspark.sql import functions as F

    d = tmp_path / "crams"
    d.mkdir()
    shutil.copy(CRAM, d / "sampleA.cram")
    shutil.copy(CRAM, d / "sampleB.cram")
    from sequila_spark.sources import read_cram_native

    for src in (str(d), str(d / "*.cram"), [str(d / "sampleA.cram"), str(d / "sampleB.cram")]):
        df = read_cram_native(spark, src, ref_path=FASTA)
        counts = {
            r["sample_id"]: r["n"]
            for r in df.groupBy("sample_id").agg(F.count("*").alias("n")).collect()
        }
        assert counts == {"sampleA": 3172, "sampleB": 3172}


def test_resolve_mates_negative_link_left_unmated():
    """A backward/self NF link must not silently cross-link records (the
    itf8 value space is signed)."""
    from sequila_spark.sources.cramcodec import _resolve_mates

    def rec(nf=None):
        return {"bf": 0x1, "rid": 0, "ap": 10, "end": 80, "nf": nf,
                "unmapped": False, "next_rid": -1, "next_pos": 0, "tlen": 0}

    recs = [rec(nf=-1), rec(), rec(nf=-5)]  # self-link and backward link
    _resolve_mates(recs)
    for r in recs:
        assert (r["next_rid"], r["next_pos"], r["tlen"]) == (-1, 0, 0)


# --- CRAM 3.1: version detection + rANS Nx16 order-0 ------------------------


def _uint7_enc(v: int) -> bytes:
    """Encoder mirror of cramcodec._uint7 (7 bits per byte, MSB first)."""
    out = [v & 0x7F]
    v >>= 7
    while v:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    return bytes(reversed(out))


def _nx16_alphabet_enc(syms: list[int]) -> bytes:
    """Encoder mirror of _nx16_read_alphabet: ascending symbols, explicit
    byte per symbol, an RLE count byte after any symbol that extends a
    consecutive run, 0 terminator."""
    out = [syms[0]]
    i = 0
    while i + 1 < len(syms):
        nxt = syms[i + 1]
        out.append(nxt)
        if nxt == syms[i] + 1:
            j = i + 1
            while j + 1 < len(syms) and syms[j + 1] == syms[j] + 1:
                j += 1
            out.append(j - (i + 1))  # implicit increments after nxt
            i = j
        else:
            i += 1
    out.append(0)
    return bytes(out)


def _nx16_encode0_body(data: bytes, n_way: int = 4, store_div: int = 1) -> bytes:
    """Bare rANS Nx16 order-0 stream (alphabet + freqs + states + words),
    no flags/size header — the form embedded for compressed RLE metadata
    and order-1 frequency tables.  ``store_div`` (a power of two) stores
    the table at reduced precision — frequencies divided by it, summing to
    4096/store_div — while the state math still runs at full 4096, the
    spec's legal space-saving form the decoder must renormalize."""
    from collections import Counter

    assert data
    counts = Counter(data)
    syms = sorted(counts)
    # normalize the STORED table to 4096/store_div, every symbol >= 1
    tot_store = 4096 // store_div
    total = len(data)
    fstore = {s: max(1, (c * tot_store) // total) for s, c in counts.items()}
    drift = tot_store - sum(fstore.values())
    fstore[max(counts, key=counts.get)] += drift
    assert sum(fstore.values()) == tot_store and min(fstore.values()) >= 1
    # encode-side frequencies are the upscaled ones (sum 4096)
    freq = {s: v * store_div for s, v in fstore.items()}
    cum = {}
    acc = 0
    for s in syms:
        cum[s] = acc
        acc += freq[s]

    head = bytearray(_nx16_alphabet_enc(syms))
    for s in syms:
        head += _uint7_enc(fstore[s])

    tail = bytearray()  # built backwards: appended words are PREPENDED
    states = [1 << 15] * n_way
    x_max_mult = (1 << 15 >> 12) << 16
    for pos in range(len(data) - 1, -1, -1):
        j = pos % n_way
        x = states[j]
        f = freq[data[pos]]
        while x >= x_max_mult * f:
            tail[0:0] = bytes([x & 0xFF, (x >> 8) & 0xFF])
            x >>= 16
        states[j] = ((x // f) << 12) + (x % f) + cum[data[pos]]
    flush = b"".join(struct.pack("<I", states[j]) for j in range(n_way))
    return bytes(head) + flush + bytes(tail)


def _nx16_encode0(data: bytes, n_way: int = 4) -> bytes:
    """Reference rANS Nx16 order-0 ENCODER (test-side only), written from
    the hts-specs CRAMcodecs document: 12-bit frequencies normalized to
    4096, N interleaved 32-bit states with 16-bit renormalization emitted
    into a backward-filled buffer, states flushed to the front in order."""
    head = bytearray([0x04 if n_way == 32 else 0])
    head += _uint7_enc(len(data))
    return bytes(head) + _nx16_encode0_body(data, n_way)


@pytest.mark.parametrize("n_way", [4, 32])
def test_rans_nx16_order0_roundtrip(n_way):
    from sequila_spark.sources.cramcodec import rans_nx16_decode

    rng = random.Random(1234)
    for payload in (
        b"A" * 500,  # single-symbol alphabet
        bytes(rng.choice(b"ACGTN") for _ in range(3000)),  # consecutive run
        bytes(rng.randrange(256) for _ in range(2048)),  # full alphabet
        bytes([0, 1, 2, 3] * 250 + [255] * 37),  # 0-first + sparse tail
    ):
        enc = _nx16_encode0(payload, n_way)
        assert rans_nx16_decode(enc, len(payload)) == payload


def test_rans_nx16_cat_and_nosize():
    from sequila_spark.sources.cramcodec import rans_nx16_decode

    payload = b"stored verbatim"
    cat = bytes([0x20]) + _uint7_enc(len(payload)) + payload
    assert rans_nx16_decode(cat, len(payload)) == payload
    # NoSize: length comes from the block header's raw size
    nosz = bytes([0x20 | 0x10]) + payload
    assert rans_nx16_decode(nosz, len(payload)) == payload


def _nx16_encode1_body(data: bytes, n_way: int = 4, shift: int = 12,
                       compress_freqs: bool = False,
                       store_div: int = 1) -> bytes:
    """Bare rANS Nx16 ORDER-1 stream: comp byte (shift<<4 | compressed-
    freq-table bit), per-context frequency rows RLE'd over the shared
    alphabet, N states; output split into N contiguous slices with the
    remainder riding on the last state's context chain (CRAMcodecs
    order-1 pseudocode, mirrored in cramcodec._nx16_decode1)."""
    assert data
    n = len(data)
    i2 = n // n_way
    # state sequences: slice j for j<N-1; last slice + remainder for N-1
    seqs = [data[j * i2 : (j + 1) * i2] for j in range(n_way - 1)]
    seqs.append(data[(n_way - 1) * i2 :])
    F: dict[int, dict[int, int]] = {}
    present: set[int] = set()
    for seq in seqs:
        ctx = 0
        for s in seq:
            F.setdefault(ctx, {})
            F[ctx][s] = F[ctx].get(s, 0) + 1
            present.add(ctx)
            present.add(s)
            ctx = s
    syms = sorted(present)
    tot = 1 << shift
    tot_store = tot // store_div
    freq: dict[int, dict[int, int]] = {}
    fstore: dict[int, dict[int, int]] = {}
    cum: dict[int, dict[int, int]] = {}
    for i, row in F.items():
        t = sum(row.values())
        nfs = {s: max(1, (c * tot_store) // t) for s, c in row.items()}
        nfs[max(row, key=row.get)] += tot_store - sum(nfs.values())
        assert sum(nfs.values()) == tot_store and min(nfs.values()) >= 1
        fstore[i] = nfs
        nf = {s: v * store_div for s, v in nfs.items()}
        freq[i] = nf
        acc = 0
        c = {}
        for s in syms:
            if s in nf:
                c[s] = acc
                acc += nf[s]
        cum[i] = c

    # frequency table: shared alphabet, then per-context rows with
    # zero-run RLE (explicit 0 followed by a count of further zeros)
    ftab = bytearray(_nx16_alphabet_enc(syms))
    for i in syms:
        row = fstore.get(i, {})
        k = 0
        while k < len(syms):
            f = row.get(syms[k], 0)
            ftab += _uint7_enc(f)
            if f == 0:
                run = 0
                while k + 1 + run < len(syms) and row.get(syms[k + 1 + run], 0) == 0:
                    run += 1
                ftab.append(run)
                k += 1 + run
            else:
                k += 1

    head = bytearray()
    if compress_freqs:
        head.append((shift << 4) | 1)
        comp = _nx16_encode0_body(bytes(ftab), 4)
        head += _uint7_enc(len(ftab)) + _uint7_enc(len(comp)) + comp
    else:
        head.append(shift << 4)
        head += ftab

    tail = bytearray()
    states = [1 << 15] * n_way
    x_max_mult = (1 << 15 >> shift) << 16

    def enc(j: int, ctx: int, s: int):
        x = states[j]
        f = freq[ctx][s]
        while x >= x_max_mult * f:
            tail[0:0] = bytes([x & 0xFF, (x >> 8) & 0xFF])
            x >>= 16
        states[j] = ((x // f) << shift) + (x % f) + cum[ctx][s]

    # reverse of decode order: remainder first (last state), then the
    # interleaved main loop backwards
    for pos in range(n - 1, n_way * i2 - 1, -1):
        ctx = data[pos - 1] if pos > (n_way - 1) * i2 else 0
        enc(n_way - 1, ctx, data[pos])
    for pos in range(i2 - 1, -1, -1):
        for j in range(n_way - 1, -1, -1):
            p = j * i2 + pos
            ctx = data[p - 1] if pos > 0 else 0
            enc(j, ctx, data[p])
    flush = b"".join(struct.pack("<I", states[j]) for j in range(n_way))
    return bytes(head) + flush + bytes(tail)


def _nx16_encode1(data: bytes, n_way: int = 4, shift: int = 12,
                  compress_freqs: bool = False) -> bytes:
    head = bytearray([0x01 | (0x04 if n_way == 32 else 0)])
    head += _uint7_enc(len(data))
    return bytes(head) + _nx16_encode1_body(data, n_way, shift, compress_freqs)


def _nx16_pack(data: bytes) -> tuple[bytes, bytes]:
    """PACK transform: (meta = nsym + symbol map + uint7 packed length
    marker handled by caller, packed bytes). LSB-first bit packing."""
    syms = sorted(set(data))
    nsym = len(syms)
    idx = {s: i for i, s in enumerate(syms)}
    if nsym <= 1:
        packed = b""
    elif nsym <= 2:
        packed = bytearray((len(data) + 7) // 8)
        for i, s in enumerate(data):
            packed[i >> 3] |= idx[s] << (i & 7)
    elif nsym <= 4:
        packed = bytearray((len(data) + 3) // 4)
        for i, s in enumerate(data):
            packed[i >> 2] |= idx[s] << ((i & 3) << 1)
    elif nsym <= 16:
        packed = bytearray((len(data) + 1) // 2)
        for i, s in enumerate(data):
            packed[i >> 1] |= idx[s] << ((i & 1) << 2)
    else:
        raise AssertionError("test data must have <= 16 distinct symbols")
    return bytes([nsym]) + bytes(syms), bytes(packed)


def _nx16_rle(data: bytes, rle_syms: set[int]) -> tuple[bytes, bytes]:
    """RLE transform: literals keep one copy of each run of a flagged
    symbol; the meta stream is [count][symbols...][uint7 extra-repeat
    counts in literal order]."""
    lits = bytearray()
    runs = bytearray()
    i = 0
    while i < len(data):
        s = data[i]
        lits.append(s)
        if s in rle_syms:
            run = 0
            while i + run + 1 < len(data) and data[i + run + 1] == s:
                run += 1
            runs += _uint7_enc(run)
            i += run + 1
        else:
            i += 1
    meta = bytes([len(rle_syms) & 0xFF]) + bytes(sorted(rle_syms)) + bytes(runs)
    return bytes(lits), meta


def test_rans_nx16_order1_roundtrip():
    from sequila_spark.sources.cramcodec import rans_nx16_decode

    rng = random.Random(77)
    seqish = bytes(rng.choice(b"ACGTN") for _ in range(5000))
    payloads = [
        seqish,
        bytes(rng.randrange(256) for _ in range(2048)),  # full alphabet
        b"A" * 700,  # single symbol
        bytes(rng.choice(b"\x00\x01") for _ in range(999)),  # 0 in alphabet
        seqish[:37],  # shorter than 4*16: remainder-only decode
    ]
    for n_way in (4, 32):
        for payload in payloads:
            enc = _nx16_encode1(payload, n_way)
            assert rans_nx16_decode(enc, len(payload)) == payload, (
                f"n_way={n_way} len={len(payload)}"
            )
    # 10-bit shift and compressed frequency table paths
    enc = _nx16_encode1(seqish, 4, shift=10)
    assert rans_nx16_decode(enc, len(seqish)) == seqish
    enc = _nx16_encode1(seqish, 4, compress_freqs=True)
    assert rans_nx16_decode(enc, len(seqish)) == seqish


def test_rans_nx16_order1_high_shift():
    """Shift 13-15: a single-successor context normalizes to freq == tot
    >= 8192, which overflows the C kernel's 13-bit packed freq field —
    the decoder must route these spec-valid streams to the pinned Python
    path (shift<=12 guard in _nx16_decode1) and stay exact."""
    from sequila_spark.sources.cramcodec import rans_nx16_decode

    rng = random.Random(13)
    # strict alternation: context 'A' is always followed by 'B' -> that
    # row's only frequency IS tot (8192/16384/32768)
    alternating = b"AB" * 2048
    seqish = bytes(rng.choice(b"ACGTN") for _ in range(3000))
    for shift in (13, 14, 15):
        for payload in (alternating, seqish):
            enc = _nx16_encode1(payload, 4, shift=shift)
            assert rans_nx16_decode(enc, len(payload)) == payload, (
                f"shift={shift} len={len(payload)}"
            )


def test_rans_nx16_pack_transform():
    from sequila_spark.sources.cramcodec import rans_nx16_decode

    rng = random.Random(7)
    for alpha in (b"A", b"AC", b"ACGT", b"ACGTNacgtn"):
        payload = bytes(rng.choice(alpha) for _ in range(3000))
        pmeta, packed = _nx16_pack(payload)
        body = _nx16_encode0_body(packed, 4) if packed else b""
        enc = (bytes([0x80]) + _uint7_enc(len(payload)) + pmeta
               + _uint7_enc(len(packed)) + body)
        assert rans_nx16_decode(enc, len(payload)) == payload, alpha


def test_rans_nx16_rle_transform():
    from sequila_spark.sources.cramcodec import rans_nx16_decode

    rng = random.Random(8)
    payload = bytearray()
    for _ in range(400):
        s = rng.choice(b"AB\x00q")
        payload += bytes([s]) * (rng.randrange(1, 9) if s in b"A\x00" else 1)
    payload = bytes(payload)
    lits, meta = _nx16_rle(payload, {ord("A"), 0})
    # stored (odd rle_meta_len) metadata path
    enc = (bytes([0x40]) + _uint7_enc(len(payload))
           + _uint7_enc(2 * len(meta) + 1) + _uint7_enc(len(lits)) + meta
           + _nx16_encode0_body(lits, 4))
    assert rans_nx16_decode(enc, len(payload)) == payload
    # compressed (even rle_meta_len) metadata path
    cmeta = _nx16_encode0_body(meta, 4)
    enc = (bytes([0x40]) + _uint7_enc(len(payload))
           + _uint7_enc(2 * len(meta)) + _uint7_enc(len(lits))
           + _uint7_enc(len(cmeta)) + cmeta
           + _nx16_encode0_body(lits, 4))
    assert rans_nx16_decode(enc, len(payload)) == payload


def test_rans_nx16_pack_rle_order1_combined():
    """PACK -> RLE -> order-1 entropy, the full transform pipeline in one
    stream; decode inverts in the opposite order."""
    from sequila_spark.sources.cramcodec import rans_nx16_decode

    rng = random.Random(9)
    payload = bytearray()
    for _ in range(500):
        s = rng.choice(b"ACGT")
        payload += bytes([s]) * (rng.randrange(1, 6) if s == ord("A") else 1)
    payload = bytes(payload)
    pmeta, packed = _nx16_pack(payload)
    lits, rmeta = _nx16_rle(packed, set(range(256)))
    enc = (bytes([0x80 | 0x40 | 0x01]) + _uint7_enc(len(payload))
           + pmeta + _uint7_enc(len(packed))
           + _uint7_enc(2 * len(rmeta) + 1) + _uint7_enc(len(lits)) + rmeta
           + _nx16_encode1_body(lits, 4))
    assert rans_nx16_decode(enc, len(payload)) == payload


def test_rans_nx16_stripe_transform():
    from sequila_spark.sources.cramcodec import rans_nx16_decode

    rng = random.Random(10)
    for total in (4096, 4097, 4099, 17):
        payload = bytes(rng.choice(b"ACGTN") for _ in range(total))
        n = 4
        subs = [_nx16_encode0(payload[j::n], 4) for j in range(n)]
        enc = bytearray([0x08]) + _uint7_enc(len(payload)) + bytes([n])
        for s in subs:
            enc += _uint7_enc(len(s))
        for s in subs:
            enc += s
        assert rans_nx16_decode(bytes(enc), len(payload)) == payload, total


def test_rans_nx16_reduced_precision_freqs():
    """Spec-legal reduced-precision tables (frequencies stored divided by a
    power of two; htscodecs NormaliseFrequencies) decode identically after
    the decoder's renormalization — order 0 and order-1 rows."""
    from sequila_spark.sources.cramcodec import rans_nx16_decode

    rng = random.Random(55)
    payload = bytes(rng.choice(b"ACGTN") for _ in range(5000))
    for div in (2, 4, 16):
        enc0 = (bytes([0]) + _uint7_enc(len(payload))
                + _nx16_encode0_body(payload, 4, store_div=div))
        assert rans_nx16_decode(enc0, len(payload)) == payload, f"o0 div={div}"
        enc1 = (bytes([0x01]) + _uint7_enc(len(payload))
                + _nx16_encode1_body(payload, 4, store_div=div))
        assert rans_nx16_decode(enc1, len(payload)) == payload, f"o1 div={div}"


def test_rans_nx16_corrupt_freq_sum_is_loud():
    """A frequency sum that is NOT a power-of-two fraction of the target
    cannot come from the spec encoder: ValueError, not garbage output."""
    from sequila_spark.sources.cramcodec import rans_nx16_decode

    head = bytearray([0]) + _uint7_enc(100)
    head += _nx16_alphabet_enc([65, 66])
    head += _uint7_enc(3000) + _uint7_enc(1000)  # sums to 4000
    head += b"\x00" * 16  # states (never reached)
    with pytest.raises(ValueError, match="power-of-two"):
        rans_nx16_decode(bytes(head), 100)


def test_cram_version_detection(slice_cram):
    """3.0 and 3.1 are accepted at the header; 2.x and 4.x raise with the
    version in the message.  3.1-only codec methods raise BY NAME from the
    block dispatcher."""
    from sequila_spark.sources.cramcodec import (
        _decompress,
        read_file_header,
    )

    data = open(slice_cram, "rb").read()
    names, _text, _off = read_file_header(data)  # 3.0 file parses
    assert names

    v31 = data[:5] + bytes([1]) + data[6:]
    names31, _t, _o = read_file_header(v31)
    assert names31 == names  # same layout, accepted

    for major, minor in ((2, 0), (4, 0)):
        bad = data[:4] + bytes([major, minor]) + data[6:]
        with pytest.raises(NotImplementedError, match=f"{major}\\.{minor}"):
            read_file_header(bad)

    # method 7 (fqzcomp) now decodes; a bad version byte is loud, not silent
    with pytest.raises(ValueError, match="fqzcomp: version"):
        _decompress(7, b"\x00", 1)


# --- spec 13 integer codecs (GOLOMB / GAMMA / SUBEXP / GOLOMB_RICE) ---------
# Test-side encoders written independently from the hts-specs CRAMv3 text;
# the decoder must invert them bit-exactly.


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def put(self, v: int, n: int):
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def unary1(self, q: int):
        """q one-bits terminated by a zero."""
        self.bits.extend([1] * q)
        self.bits.append(0)

    def bytes(self) -> bytes:
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            chunk = self.bits[i : i + 8]
            chunk += [0] * (8 - len(chunk))
            b = 0
            for bit in chunk:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def _enc_golomb(w, value, offset, m):
    v = value + offset
    q, r = divmod(v, m)
    w.unary1(q)
    ceil_bits = m.bit_length()
    cutoff = (1 << ceil_bits) - m
    if r < cutoff:
        if ceil_bits > 1:
            w.put(r, ceil_bits - 1)
    else:
        w.put(r + cutoff, ceil_bits)


def _enc_gamma(w, value, offset):
    v = value + offset
    assert v >= 1, "gamma cannot encode <1; offset must lift the range"
    n = v.bit_length()
    w.put(0, n - 1)  # n-1 zeros
    w.put(v, n)  # leading 1 + mantissa
    # (leading bit of v is the 1 terminating the zero run)


def _enc_subexp(w, value, offset, k):
    n = value + offset
    b = n.bit_length()
    if n < (1 << k):
        w.unary1(0)
        w.put(n, k)
    else:
        u = b - k
        w.unary1(u)
        w.put(n & ((1 << (b - 1)) - 1), b - 1)


def _enc_rice(w, value, offset, log2m):
    v = value + offset
    w.unary1(v >> log2m)
    w.put(v & ((1 << log2m) - 1), log2m)


def test_spec13_integer_codecs_roundtrip():
    """GOLOMB(2) / GAMMA(7) / SUBEXP(8) / GOLOMB_RICE(9) decode streams
    produced by independent spec-faithful encoders (htsjdk's codec classes
    are the public cross-check) for a value sweep including the truncated-
    binary boundary and both subexp branches."""
    from sequila_spark.sources.cramcodec import BitReader, Encoding

    values = list(range(0, 40)) + [63, 64, 65, 127, 128, 1000, 4095]

    for m in (1, 2, 3, 5, 7, 8, 10, 100):
        w = _BitWriter()
        for v in values:
            _enc_golomb(w, v, 0, m)
        enc = Encoding(2, bytes([0, m]))
        bits = BitReader(w.bytes())
        assert [enc.decode_int(bits, {}) for _ in values] == values, f"m={m}"

    # GAMMA with offset 1 so 0 is encodable (params itf8 offset=1)
    w = _BitWriter()
    for v in values:
        _enc_gamma(w, v, 1)
    enc = Encoding(7, bytes([1]))
    bits = BitReader(w.bytes())
    assert [enc.decode_int(bits, {}) for _ in values] == values

    for k in (0, 1, 2, 3, 5, 8):
        w = _BitWriter()
        for v in values:
            _enc_subexp(w, v, 0, k)
        enc = Encoding(8, bytes([0, k]))
        bits = BitReader(w.bytes())
        assert [enc.decode_int(bits, {}) for _ in values] == values, f"k={k}"

    for log2m in (0, 1, 3, 6):
        w = _BitWriter()
        for v in values:
            _enc_rice(w, v, 0, log2m)
        enc = Encoding(9, bytes([0, log2m]))
        bits = BitReader(w.bytes())
        assert [enc.decode_int(bits, {}) for _ in values] == values, f"log2m={log2m}"


def test_spec13_codecs_negative_via_offset():
    """Offsets shift the decodable range below zero (spec: value =
    code - offset), matching htsjdk's `- offset` convention."""
    from sequila_spark.sources.cramcodec import BitReader, Encoding

    values = [-5, -1, 0, 3, 17]
    w = _BitWriter()
    for v in values:
        _enc_golomb(w, v, 5, 4)
    enc = Encoding(2, bytes([5, 4]))
    bits = BitReader(w.bytes())
    assert [enc.decode_int(bits, {}) for _ in values] == values

    w = _BitWriter()
    for v in values:
        _enc_subexp(w, v, 5, 2)
    enc = Encoding(8, bytes([5, 2]))
    bits = BitReader(w.bytes())
    assert [enc.decode_int(bits, {}) for _ in values] == values


# --- CRAM 3.1 adaptive arithmetic (range) coder -----------------------------
# Test-side encoder written independently from the CRAMcodecs spec: LZMA-
# family carry-propagating range encoder + the same adaptive model update
# rule the decoder uses.  The decoder must invert it bit-exactly.


class _RangeEncoder:
    def __init__(self):
        self.low = 0
        self.range = 0xFFFFFFFF
        self.cache = 0
        self.cache_size = 1  # emits the leading carry-headroom byte
        self.out = bytearray()

    def _shift_low(self):
        if self.low < 0xFF000000 or self.low > 0xFFFFFFFF:
            carry = self.low >> 32
            self.out.append((self.cache + carry) & 0xFF)
            while self.cache_size > 1:
                self.out.append((0xFF + carry) & 0xFF)
                self.cache_size -= 1
            self.cache = (self.low >> 24) & 0xFF
        else:
            self.cache_size += 1
        self.low = (self.low << 8) & 0xFFFFFFFF

    def encode(self, cum: int, freq: int, tot: int):
        self.range //= tot
        self.low += cum * self.range
        self.range *= freq
        while self.range < (1 << 24):
            self.range <<= 8
            self._shift_low()

    def finish(self) -> bytes:
        for _ in range(5):
            self._shift_low()
        return bytes(self.out)


class _EncModel:
    """Mirror of cramcodec._AdaptiveModel for encoding."""

    def __init__(self, nsym):
        self.syms = list(range(nsym))
        self.freqs = [1] * nsym
        self.total = nsym

    def encode(self, rc, sym):
        x = self.syms.index(sym)
        cum = sum(self.freqs[:x])
        rc.encode(cum, self.freqs[x], self.total)
        self.freqs[x] += 16
        self.total += 16
        if x > 0 and self.freqs[x] > self.freqs[x - 1]:
            self.freqs[x], self.freqs[x - 1] = self.freqs[x - 1], self.freqs[x]
            self.syms[x], self.syms[x - 1] = self.syms[x - 1], self.syms[x]
        if self.total > (1 << 16) - 17:
            self.total = 0
            for j in range(len(self.freqs)):
                self.freqs[j] -= self.freqs[j] >> 1
                self.total += self.freqs[j]


def _arith_encode0(data: bytes, max_sym: int = 256) -> bytes:
    rc = _RangeEncoder()
    m = _EncModel(max_sym)
    for b in data:
        m.encode(rc, b)
    return bytes([max_sym & 0xFF]) + rc.finish()


def _arith_encode1(data: bytes, max_sym: int = 256) -> bytes:
    rc = _RangeEncoder()
    models = [_EncModel(max_sym) for _ in range(max_sym)]
    ctx = 0
    for b in data:
        models[ctx].encode(rc, b)
        ctx = b
    return bytes([max_sym & 0xFF]) + rc.finish()


def test_arith_order0_roundtrip():
    from sequila_spark.sources.cramcodec import arith_decode

    rng = random.Random(21)
    for payload, max_sym in (
        (bytes(rng.choice(b"ACGTN") for _ in range(3000)), 256),
        (bytes(rng.randrange(256) for _ in range(2048)), 256),
        (b"A" * 500, 66),  # tight alphabet bound
        # long low-entropy stream: drives totals past MAX_FREQ so the
        # halving renormalization path runs many times on both sides
        (bytes(rng.choice(b"AB") for _ in range(120_000)), 256),
    ):
        enc = bytes([0]) + _uint7_enc(len(payload)) + _arith_encode0(payload, max_sym)
        assert arith_decode(enc, len(payload)) == payload


def test_arith_order1_roundtrip():
    from sequila_spark.sources.cramcodec import arith_decode

    rng = random.Random(22)
    seqish = bytes(rng.choice(b"ACGTN") for _ in range(20_000))
    enc = bytes([0x01]) + _uint7_enc(len(seqish)) + _arith_encode1(seqish)
    assert arith_decode(enc, len(seqish)) == seqish


def test_arith_cat_ext_pack_stripe():
    import bz2 as _bz2

    from sequila_spark.sources.cramcodec import arith_decode

    rng = random.Random(23)
    payload = bytes(rng.choice(b"ACGT") for _ in range(4001))
    # CAT + NoSize
    assert arith_decode(bytes([0x20 | 0x10]) + payload, len(payload)) == payload
    # EXT: bzip2 payload
    enc = bytes([0x04]) + _uint7_enc(len(payload)) + _bz2.compress(payload)
    assert arith_decode(enc, len(payload)) == payload
    # PACK(4-symbol) over order-0
    pmeta, packed = _nx16_pack(payload)
    enc = (bytes([0x80]) + _uint7_enc(len(payload)) + pmeta
           + _uint7_enc(len(packed)) + _arith_encode0(packed))
    assert arith_decode(enc, len(payload)) == payload
    # STRIPE of 4 order-0 substreams
    subs = [bytes([0]) + _uint7_enc(len(payload[j::4])) + _arith_encode0(payload[j::4])
            for j in range(4)]
    enc = bytearray([0x08]) + _uint7_enc(len(payload)) + bytes([4])
    for s in subs:
        enc += _uint7_enc(len(s))
    for s in subs:
        enc += s
    assert arith_decode(bytes(enc), len(payload)) == payload


def _arith_encode_rle(data: bytes, order1: bool, max_sym: int = 256) -> bytes:
    """Spec-side encoder for the arith integrated-RLE mode: literal from the
    order-0/1 byte model, run length in 255-capped parts from the 258-model
    bank (first part keyed by the literal, then models 256 and 257)."""
    rc = _RangeEncoder()
    lits = [_EncModel(max_sym) for _ in range(max_sym if order1 else 1)]
    runs = [_EncModel(256) for _ in range(258)]
    i = 0
    last = 0
    while i < len(data):
        sym = data[i]
        run = 0
        while i + run + 1 < len(data) and data[i + run + 1] == sym:
            run += 1
        lits[last if order1 else 0].encode(rc, sym)
        last = sym
        left = run
        rctx = sym
        while True:
            part = min(left, 255)
            runs[rctx].encode(rc, part)
            left -= part
            if part < 255:
                break
            rctx = 256 if rctx == sym else 257
        i += run + 1
    return bytes([max_sym & 0xFF]) + rc.finish()


def test_arith_rle_roundtrip():
    from sequila_spark.sources.cramcodec import _decompress, arith_decode

    rng = random.Random(24)
    # run-heavy payloads (the mode's habitat) incl. runs far beyond 255
    runny = b"".join(
        bytes([rng.choice(b"!#$%&0")]) * rng.choice([1, 1, 2, 7, 40, 300, 700])
        for _ in range(300)
    )
    for payload in (runny, b"Q" * 100_000, bytes(rng.randrange(256) for _ in range(500))):
        for order_flag, order1 in ((0x00, False), (0x01, True)):
            enc = (bytes([0x40 | order_flag]) + _uint7_enc(len(payload))
                   + _arith_encode_rle(payload, order1))
            assert arith_decode(enc, len(payload)) == payload
            # and through the block dispatcher (method 6)
            assert _decompress(6, enc, len(payload)) == payload


def test_arith_rle_inside_stripe():
    """RLE substreams inside STRIPE decode like any other mode now that the
    integrated model is implemented (this used to be a plan-time gate)."""
    from sequila_spark.sources.cramcodec import arith_decode

    payload = (b"AAAAABBBBBCCCCC" * 400)[:6001]
    cols = [payload[j::2] for j in range(2)]
    subs = [
        bytes([0x40]) + _uint7_enc(len(cols[0])) + _arith_encode_rle(cols[0], False),
        bytes([0x41]) + _uint7_enc(len(cols[1])) + _arith_encode_rle(cols[1], True),
    ]
    enc = bytearray([0x08]) + _uint7_enc(len(payload)) + bytes([2])
    for s in subs:
        enc += _uint7_enc(len(s))
    for s in subs:
        enc += s
    assert arith_decode(bytes(enc), len(payload)) == payload


def test_stripe_mixed_substream_modes():
    """STRIPE substreams are complete independent streams: each may pick
    its own mode (order-0, order-1, CAT) and the de-interleave must not
    care — pins the recursion for both 3.1 codecs."""
    from sequila_spark.sources.cramcodec import arith_decode, rans_nx16_decode

    rng = random.Random(31)
    payload = bytes(rng.choice(b"ACGTN") for _ in range(6001))
    cols = [payload[j::3] for j in range(3)]

    # rANS Nx16: order-0 / order-1 / CAT substreams
    subs = [
        _nx16_encode0(cols[0], 4),
        _nx16_encode1(cols[1], 4),
        bytes([0x20]) + _uint7_enc(len(cols[2])) + cols[2],
    ]
    enc = bytearray([0x08]) + _uint7_enc(len(payload)) + bytes([3])
    for s in subs:
        enc += _uint7_enc(len(s))
    for s in subs:
        enc += s
    assert rans_nx16_decode(bytes(enc), len(payload)) == payload

    # arithmetic coder: order-0 / order-1 / CAT substreams
    subs = [
        bytes([0]) + _uint7_enc(len(cols[0])) + _arith_encode0(cols[0]),
        bytes([0x01]) + _uint7_enc(len(cols[1])) + _arith_encode1(cols[1]),
        bytes([0x20]) + _uint7_enc(len(cols[2])) + cols[2],
    ]
    enc = bytearray([0x08]) + _uint7_enc(len(payload)) + bytes([3])
    for s in subs:
        enc += _uint7_enc(len(s))
    for s in subs:
        enc += s
    assert arith_decode(bytes(enc), len(payload)) == payload


# --- CRAM 3.1 name tokenizer ------------------------------------------------
# Test-side ENCODER written independently from the hts-specs CRAMcodecs
# "Name tokenisation" section: tokenize each name (alpha runs / digit runs
# with and without leading zeros / single chars), encode against the
# previous name (MATCH / one-byte digit deltas / fresh values), one byte
# stream per (position, type), each rANS-Nx16 compressed; the decoder must
# reproduce the exact RN payload.

import re as _re

_TOKRE = _re.compile(r"[0-9]+|[A-Za-z]+|.")


def _tok_split(name: str) -> list[tuple]:
    toks = [None]  # 1-aligned: toks[t] is token at position t
    for m in _TOKRE.finditer(name):
        s = m.group(0)
        if s[0].isdigit() and len(s) <= 9:
            if s[0] == "0" and len(s) > 1:
                toks.append(("D0", int(s), len(s)))
            else:
                toks.append(("D", int(s)))
        elif s.isalpha() or len(s) > 9:
            toks.append(("A", s))
        else:
            toks.append(("C", s))
    return toks


def _name_tok_encode(names: list[str], elide_const_types: bool = False,
                     dup_streams: bool = False) -> bytes:
    from sequila_spark.sources.cramcodec import (
        N_ALPHA, N_CHAR, N_DDELTA, N_DDELTA0, N_DIFF, N_DIGITS, N_DIGITS0,
        N_DUP, N_DZLEN, N_END, N_MATCH, N_TYPE,
    )

    streams: dict[tuple, bytearray] = {}

    def put(t, typ, data: bytes):
        streams.setdefault((t, typ), bytearray()).extend(data)

    rows: list[list] = []
    for n, name in enumerate(names):
        if n > 0 and names[n - 1] == name:
            put(0, N_TYPE, bytes([N_DUP]))
            put(0, N_DUP, struct.pack("<I", 1))
            rows.append(rows[-1])
            continue
        toks = _tok_split(name)
        dist = 1 if n else 0
        put(0, N_TYPE, bytes([N_DIFF]))
        put(0, N_DIFF, struct.pack("<I", dist))
        ref = rows[n - dist] if n else [None]
        for t in range(1, len(toks)):
            tok = toks[t]
            rt = ref[t] if t < len(ref) else None
            if rt == tok:
                put(t, N_TYPE, bytes([N_MATCH]))
            elif (rt and rt[0] == "D" and tok[0] == "D"
                  and 0 <= tok[1] - rt[1] <= 255):
                put(t, N_TYPE, bytes([N_DDELTA]))
                put(t, N_DDELTA, bytes([tok[1] - rt[1]]))
            elif (rt and rt[0] == "D0" and tok[0] == "D0" and rt[2] == tok[2]
                  and 0 <= tok[1] - rt[1] <= 255):
                put(t, N_TYPE, bytes([N_DDELTA0]))
                put(t, N_DDELTA0, bytes([tok[1] - rt[1]]))
            elif tok[0] == "D":
                put(t, N_TYPE, bytes([N_DIGITS]))
                put(t, N_DIGITS, struct.pack("<I", tok[1]))
            elif tok[0] == "D0":
                put(t, N_TYPE, bytes([N_DIGITS0]))
                put(t, N_DIGITS0, struct.pack("<I", tok[1]))
                put(t, N_DZLEN, bytes([tok[2]]))
            elif tok[0] == "A":
                put(t, N_TYPE, bytes([N_ALPHA]))
                put(t, N_ALPHA, tok[1].encode() + b"\x00")
            else:
                put(t, N_TYPE, bytes([N_CHAR]))
                put(t, N_CHAR, tok[1].encode())
        put(len(toks), N_TYPE, bytes([N_END]))
        rows.append(toks)

    ulen = sum(len(nm) + 1 for nm in names)
    out = bytearray(struct.pack("<II", ulen, len(names)))
    out.append(0)  # rANS Nx16 inner compression
    written: list[tuple[int, int, bytes]] = []
    for t in sorted({k[0] for k in streams}):
        col = sorted(typ for tt, typ in streams if tt == t)
        if (elide_const_types and N_TYPE in col and len(col) == 2
                and len(set(streams[(t, N_TYPE)])) == 1
                and streams[(t, N_TYPE)][0] == col[1]):
            col = [col[1]]  # constant-type column: drop the TYPE stream
        first = True
        for typ in col:
            raw = bytes(streams[(t, typ)])
            head = typ | (0x80 if first else 0)
            first = False
            src = next(
                ((st, stp) for st, stp, sraw in written if sraw == raw),
                None,
            ) if dup_streams else None
            if src is not None:
                out.append(head | 0x40)
                out += bytes(src)
            else:
                comp = _nx16_encode0(raw, 4)
                out.append(head)
                out += _uint7_enc(len(comp)) + comp
            written.append((t, typ, raw))
    return bytes(out)


def _tok_roundtrip(names, **kw):
    from sequila_spark.sources.cramcodec import name_tok_decode

    enc = _name_tok_encode(names, **kw)
    expect = b"".join(nm.encode() + b"\x00" for nm in names)
    got = name_tok_decode(enc, len(expect))
    assert got == expect, names[:3]


def test_name_tokenizer_roundtrip():
    illumina = [
        f"M00123:55:000000000-A1B2C:1:{lane}:{x}:{y}"
        for lane in (1101, 1102)
        for (x, y) in [(10023, 9971), (10045, 9980), (10431, 10002)]
    ]
    _tok_roundtrip(illumina)
    _tok_roundtrip([f"SRR1234567.{i}" for i in range(1, 40)])
    _tok_roundtrip(["read_007", "read_008", "read_010", "read_0100"])
    _tok_roundtrip(["one-name-only"])
    _tok_roundtrip(["dup", "dup", "dup", "other", "dup2"])
    # digit run too long for uint32: carried as a verbatim token
    _tok_roundtrip(["q99999999999999999999x", "q99999999999999999999y"])
    # mixed separators and punctuation single-chars
    _tok_roundtrip(["a.1/b#2", "a.2/b#3", "c.9/d#4"])


def test_name_tokenizer_reverse_deltas_and_padding():
    # decreasing numbers (no DDELTA possible) and zero-padding changes
    _tok_roundtrip(["r9", "r5", "r1"])
    _tok_roundtrip(["s001", "s002", "s02", "s2", "s0002"])


def test_name_tokenizer_const_type_elision():
    names = [f"L{i}" for i in range(1, 30)]
    _tok_roundtrip(names, elide_const_types=True)
    _tok_roundtrip(
        [f"AB:{i}:{i*7}" for i in range(100, 130)], elide_const_types=True
    )


def test_name_tokenizer_dup_streams():
    # identical token columns (ALPHA 'A'/digit, ALPHA 'C'/digit) produce
    # byte-identical TYPE streams -> serialized once, referenced by 0x40
    names = [f"A{i}C{i}" for i in range(1, 25)]
    enc_plain = _name_tok_encode(names)
    enc_dup = _name_tok_encode(names, dup_streams=True)
    assert len(enc_dup) < len(enc_plain)
    _tok_roundtrip(names, dup_streams=True)


def test_name_tokenizer_via_block_dispatcher():
    from sequila_spark.sources.cramcodec import _decompress

    names = [f"SRR000001.{i}" for i in range(1, 12)]
    enc = _name_tok_encode(names)
    expect = b"".join(nm.encode() + b"\x00" for nm in names)
    assert _decompress(8, enc, len(expect)) == expect


def test_name_tokenizer_corrupt_is_loud():
    from sequila_spark.sources.cramcodec import name_tok_decode

    enc = bytearray(_name_tok_encode(["abc1", "abc2"]))
    enc[0] ^= 0xFF  # ulen now wrong
    with pytest.raises(ValueError, match="name tokenizer|bytes"):
        name_tok_decode(bytes(enc), 10)


# --- CRAM 3.1 fqzcomp quality codec ----------------------------------------
# Test-side ENCODER written independently from the hts-specs CRAMcodecs
# "fqzcomp qual codec" section: the same range coder + adaptive byte models
# as the arith codec, a 16-bit context mixing quality history / remaining
# position / delta count / selector, and the two-level run-length table
# serialization.  The decoder must reproduce the exact quality bytes.


def _fqz_store_array(table: list[int]) -> bytes:
    """Inverse of cramcodec._fqz_read_array (two-level RLE)."""
    s1 = bytearray()
    maxv = table[-1] if table else 0
    idx = 0
    for j in range(maxv + 1):
        run = 0
        while idx < len(table) and table[idx] == j:
            run += 1
            idx += 1
        while True:
            c = min(255, run)
            s1.append(c)
            run -= c
            if c != 255:
                break
    assert idx == len(table), "table must be non-decreasing"
    out = bytearray()
    i = 0
    last = -1
    while i < len(s1):
        b = s1[i]
        out.append(b)
        if b == last:
            j = i + 1
            copies = 0
            while j < len(s1) and s1[j] == b and copies < 255:
                copies += 1
                j += 1
            out.append(copies)
            i = j
        else:
            i += 1
        last = b
    return bytes(out)


def _fqz_encode(recs, params, *, stab=None, max_sel=None, rev=None):
    """Spec-side fqzcomp encoder.

    recs: list of (qual_bytes, sel).  params: list of dicts with keys
    context, qbits, qshift, qloc, sloc, ploc, dloc, max_sym and optional
    qmap (list), qtab/ptab/dtab (non-decreasing tables), fixed_len,
    dedup, do_sel (bools).  stab: optional non-decreasing 256-entry
    selector->param table (requires max_sel).  rev: optional per-record
    reverse flags.
    """
    nparam = len(params)
    gflags = (1 if nparam > 1 else 0) | (2 if stab is not None else 0) | (
        4 if rev is not None else 0)
    head = bytearray([5, gflags])
    if nparam > 1:
        head.append(nparam)
    eff_max_sel = nparam - 1 if nparam > 1 else 0
    if stab is not None:
        eff_max_sel = max_sel
        head.append(max_sel)
        head += _fqz_store_array(stab)
        stab_l = stab
    else:
        stab_l = [min(i, nparam - 1) for i in range(256)]
    for pm in params:
        pflags = ((2 if pm.get("dedup") else 0)
                  | (4 if pm.get("fixed_len") else 0)
                  | (8 if pm.get("do_sel") else 0)
                  | (16 if pm.get("qmap") is not None else 0)
                  | (32 if pm.get("ptab") is not None else 0)
                  | (64 if pm.get("dtab") is not None else 0)
                  | (128 if pm.get("qtab") is not None else 0))
        head += bytes([pm["context"] & 0xFF, pm["context"] >> 8, pflags,
                       pm["max_sym"],
                       (pm["qbits"] << 4) | pm["qshift"],
                       (pm["qloc"] << 4) | pm["sloc"],
                       (pm["ploc"] << 4) | pm["dloc"]])
        if pm.get("qmap") is not None:
            head += bytes(pm["qmap"])
        if pm.get("qtab") is not None:
            head += _fqz_store_array(pm["qtab"])
        if pm.get("ptab") is not None:
            head += _fqz_store_array(pm["ptab"])
        if pm.get("dtab") is not None:
            head += _fqz_store_array(pm["dtab"])

    max_sym_all = max(pm["max_sym"] for pm in params)
    nsym = (max_sym_all + 1) if max_sym_all else 256
    rc = _RangeEncoder()
    qual_models = {}
    len_models = [_EncModel(256) for _ in range(4)]
    rev_model = _EncModel(2)
    dup_model = _EncModel(2)
    sel_model = _EncModel(eff_max_sel + 1) if eff_max_sel else None

    # htscodecs-style GLOBAL length latch (fqz_state.first_len/last_len in
    # fqzcomp_qual.c): a length is emitted iff !fixed_len || first_len, and
    # every emitted length updates the shared last_len.
    first_len = True
    last_len = 0
    prev_bytes = None
    for ri, (qual, sel) in enumerate(recs):
        if sel_model is not None:
            sel_model.encode(rc, sel)
        x = stab_l[sel]
        pm = params[x]
        if pm.get("fixed_len") and not first_len:
            assert len(qual) == last_len, (
                "fixed_len param record length differs from the global "
                "last_len latch — htscodecs would not encode this stream"
            )
        else:
            ln = len(qual)
            for shift in (0, 8, 16, 24):
                len_models[shift // 8].encode(rc, (ln >> shift) & 0xFF)
            first_len = False
            last_len = ln
        if rev is not None:
            rev_model.encode(rc, 1 if rev[ri] else 0)
        body = qual[::-1] if (rev is not None and rev[ri]) else qual
        if pm.get("dedup"):
            is_dup = prev_bytes == body
            dup_model.encode(rc, 1 if is_dup else 0)
            if is_dup:
                prev_bytes = body
                continue
        inv_qmap = ({v: i for i, v in enumerate(pm["qmap"])}
                    if pm.get("qmap") is not None else None)
        qtab = pm.get("qtab") or list(range(256))
        ptab = pm.get("ptab") or [0] * 1024
        dtab = pm.get("dtab") or [0] * 256
        ctx = pm["context"]
        qctx = 0
        delta = 0
        prevq = 0
        p = len(body)
        qbits_mask = (1 << pm["qbits"]) - 1
        for byte in body:
            q = inv_qmap[byte] if inv_qmap is not None else byte
            m = qual_models.get(ctx)
            if m is None:
                m = qual_models[ctx] = _EncModel(nsym)
            m.encode(rc, q)
            qctx = ((qctx << pm["qshift"]) + qtab[q]) & 0xFFFFFFFF
            ctx = (qctx & qbits_mask) << pm["qloc"]
            if pm.get("ptab") is not None:
                ctx += ptab[p if p < 1024 else 1023] << pm["ploc"]
            if pm.get("dtab") is not None:
                ctx += dtab[delta if delta < 256 else 255] << pm["dloc"]
                delta += 1 if prevq != q else 0
                prevq = q
            if pm.get("do_sel"):
                ctx += sel << pm["sloc"]
            p -= 1
            ctx &= 0xFFFF
        prev_bytes = body
    return bytes(head) + rc.finish()


def _fqz_quals(rng, n, lo=0, hi=45):
    return bytes(min(hi, max(lo, int(rng.gauss((lo + hi) / 2, 8)))) for _ in range(n))


def test_fqz_store_read_array_roundtrip():
    from sequila_spark.sources.cramcodec import ByteReader, _fqz_read_array

    rng = random.Random(40)
    for size in (16, 256, 1024):
        # non-decreasing step tables incl. long flat runs (>255) and gaps
        table = []
        v = 0
        while len(table) < size:
            table.extend([v] * min(size - len(table), rng.choice([1, 3, 300, 700])))
            v += rng.choice([1, 1, 2, 5])
        enc = _fqz_store_array(table)
        assert _fqz_read_array(ByteReader(enc), size) == table
    # all-zero and identity tables
    enc = _fqz_store_array([0] * 256)
    assert _fqz_read_array(ByteReader(enc), 256) == [0] * 256
    ident = list(range(256))
    enc = _fqz_store_array(ident)
    assert _fqz_read_array(ByteReader(enc), 256) == ident


def _fqz_roundtrip(recs, params, **kw):
    from sequila_spark.sources.cramcodec import fqz_decode

    enc = _fqz_encode(recs, params, **kw)
    rev = kw.get("rev")
    expect = b"".join(q for q, _ in recs)
    got = fqz_decode(enc, len(expect))
    assert got == expect
    return enc


def test_fqz_single_param_basic():
    rng = random.Random(41)
    recs = [(_fqz_quals(rng, rng.randrange(80, 120)), 0) for _ in range(40)]
    params = [dict(context=0, qbits=8, qshift=4, qloc=0, sloc=0, ploc=0,
                   dloc=0, max_sym=45)]
    _fqz_roundtrip(recs, params)


def test_fqz_pos_delta_context():
    rng = random.Random(42)
    recs = [(_fqz_quals(rng, 100), 0) for _ in range(60)]
    # ptab: bucket remaining-position into 16 groups shifted to bits 8..11;
    # dtab: delta capped at 7 in bits 12..14; qbits window in bits 0..7
    ptab = [min(15, i // 64) for i in range(1024)]
    dtab = [min(7, i) for i in range(256)]
    params = [dict(context=0x1234, qbits=8, qshift=2, qloc=0, sloc=0,
                   ploc=8, dloc=12, max_sym=45, ptab=ptab, dtab=dtab)]
    _fqz_roundtrip(recs, params)


def test_fqz_qmap_and_qtab():
    rng = random.Random(43)
    # binned qualities: only 4 distinct values, qmap decompresses symbols
    vals = [2, 12, 24, 37]
    recs = [(bytes(rng.choice(vals) for _ in range(90)), 0) for _ in range(30)]
    inv = {v: i for i, v in enumerate(vals)}
    qtab = [0] * 256  # qtab folds all history to one bucket
    params = [dict(context=7, qbits=2, qshift=1, qloc=0, sloc=0, ploc=0,
                   dloc=0, max_sym=4, qmap=vals, qtab=qtab)]
    _fqz_roundtrip(recs, params)


def test_fqz_fixed_len_and_dedup():
    rng = random.Random(44)
    recs = []
    for _ in range(25):
        q = _fqz_quals(rng, 75)
        recs.append((q, 0))
        recs.append((q, 0))  # consecutive duplicate -> 1 dup bit, no bases
    params = [dict(context=0, qbits=6, qshift=3, qloc=0, sloc=0, ploc=0,
                   dloc=0, max_sym=45, fixed_len=True, dedup=True)]
    enc_dup = _fqz_roundtrip(recs, params)
    params_no = [dict(context=0, qbits=6, qshift=3, qloc=0, sloc=0, ploc=0,
                      dloc=0, max_sym=45, fixed_len=True)]
    enc_plain = _fqz_roundtrip(recs, params_no)
    assert len(enc_dup) < len(enc_plain)  # dedup must actually help


def test_fqz_multi_param_selector_and_rev():
    rng = random.Random(45)
    recs = []
    for i in range(50):
        if i % 3 == 0:
            recs.append((_fqz_quals(rng, 60, 0, 20), 0))
        else:
            recs.append((_fqz_quals(rng, 90, 20, 45), 1))
    rev = [i % 5 == 0 for i in range(50)]
    params = [
        dict(context=0, qbits=6, qshift=2, qloc=0, sloc=14, ploc=0, dloc=0,
             max_sym=45, do_sel=True),
        dict(context=0x40, qbits=7, qshift=3, qloc=0, sloc=14, ploc=0,
             dloc=0, max_sym=45, do_sel=True),
    ]
    _fqz_roundtrip(recs, params, rev=rev)


def test_fqz_multi_param_fixed_len_global_latch():
    """Pin the htscodecs length-latch semantics (fqzcomp_qual.c
    fqz_state.first_len/last_len): ONE global first_len flag and ONE
    global last_len shared across parameter sets.

    The stream below opens with a NON-fixed-param record, which consumes
    the global first_len; every later fixed-param record therefore carries
    NO length field and reuses the global last_len.  A decoder that
    latched per parameter set (one reading of the spec pseudocode) would
    attempt to range-decode a length for the fixed param's first record
    and desync — so a round-trip here proves the global semantics."""
    rng = random.Random(48)
    recs = []
    recs.append((_fqz_quals(rng, 90), 1))          # non-fixed: len 90 emitted
    recs += [(_fqz_quals(rng, 90), 0) for _ in range(6)]   # fixed: reuse 90
    recs.append((_fqz_quals(rng, 60), 1))          # non-fixed: last_len -> 60
    recs.append((_fqz_quals(rng, 90), 1))          # non-fixed: last_len -> 90
    recs += [(_fqz_quals(rng, 90), 0) for _ in range(5)]   # fixed: reuse 90
    params = [
        dict(context=0, qbits=6, qshift=2, qloc=0, sloc=14, ploc=0, dloc=0,
             max_sym=45, do_sel=True, fixed_len=True),
        dict(context=0x40, qbits=7, qshift=3, qloc=0, sloc=14, ploc=0,
             dloc=0, max_sym=45, do_sel=True),
    ]
    _fqz_roundtrip(recs, params)


def test_fqz_explicit_stab():
    rng = random.Random(46)
    # 3 selector values mapping onto 2 params via a non-trivial stab
    stab = [0] * 2 + [1] * 254
    recs = [(_fqz_quals(rng, 70), rng.choice([0, 1, 2])) for _ in range(40)]
    params = [
        dict(context=0, qbits=8, qshift=4, qloc=0, sloc=0, ploc=0, dloc=0,
             max_sym=45),
        dict(context=9, qbits=4, qshift=2, qloc=0, sloc=0, ploc=0, dloc=0,
             max_sym=45),
    ]
    _fqz_roundtrip(recs, params, stab=stab, max_sel=2)


def test_fqz_via_block_dispatcher_and_errors():
    from sequila_spark.sources.cramcodec import _decompress, fqz_decode

    rng = random.Random(47)
    recs = [(_fqz_quals(rng, 50), 0) for _ in range(10)]
    params = [dict(context=0, qbits=8, qshift=4, qloc=0, sloc=0, ploc=0,
                   dloc=0, max_sym=45)]
    enc = _fqz_encode(recs, params)
    expect = b"".join(q for q, _ in recs)
    assert _decompress(7, enc, len(expect)) == expect
    # wrong version byte is loud
    bad = bytes([9]) + enc[1:]
    with pytest.raises(ValueError, match="version"):
        fqz_decode(bad, len(expect))


# --- CRAM 3.1 end-to-end (container-level transcode) -------------------------
# Rebuild the real 3.0 fixture as a CRAM 3.1 FILE: every compressible
# block re-encoded with the 3.1 codec set (fqzcomp on the quality stream,
# the name tokenizer on read names, arith incl. integrated RLE and rANS
# Nx16 on the rest), version bumped, container framing and landmarks
# recomputed.  The decoder must then produce record-identical output to
# the 3.0 read — proving the whole 3.1 path container -> records, not
# just isolated block codecs.

import zlib as _zlib


def _itf8_enc(v: int) -> bytes:
    v &= 0xFFFFFFFF
    if v < 0x80:
        return bytes([v])
    if v < 1 << 14:
        return bytes([0x80 | (v >> 8), v & 0xFF])
    if v < 1 << 21:
        return bytes([0xC0 | (v >> 16), (v >> 8) & 0xFF, v & 0xFF])
    if v < 1 << 28:
        return bytes([0xE0 | (v >> 24), (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF])
    return bytes([
        0xF0 | ((v >> 28) & 0x0F), (v >> 20) & 0xFF, (v >> 12) & 0xFF,
        (v >> 4) & 0xFF, v & 0x0F,
    ])


def _ltf8_enc(v: int) -> bytes:
    # always the 9-byte form (0xFF prefix + 8 BE bytes): legal for any value
    return bytes([0xFF]) + (v & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "big")


def _block31(method: int, ctype: int, cid: int, comp: bytes, rsize: int) -> bytes:
    body = (bytes([method, ctype]) + _itf8_enc(cid)
            + _itf8_enc(len(comp)) + _itf8_enc(rsize) + comp)
    return body + struct.pack("<I", _zlib.crc32(body))


def _transcode_cram31(data: bytes) -> bytes:
    """Rewrite the (single-data-container) fixture as CRAM 3.1."""
    _names, _text, off = C.read_file_header(data)
    h = C.scan_containers(data)[0]
    cont_end = h["data_offset"] + h["length"]

    # parse original blocks (raw spans + decompressed payloads)
    r = C.ByteReader(data, h["data_offset"])
    blocks = []
    qs_id = rn_id = None
    for _ in range(h["n_blocks"]):
        start = r.i
        method = r.u8()
        ctype = r.u8()
        cid = r.itf8()
        csize = r.itf8()
        rsize = r.itf8()
        payload = C._decompress(method, bytes(r.read(csize)), rsize)
        r.read(4)  # crc
        blocks.append((ctype, cid, payload, data[start : r.i]))
        if ctype == 1:
            ch = C.CompressionHeader(payload)
            qs = ch.ds.get("QS")
            if qs is not None and qs.codec == 1:
                qs_id = qs.content_id
            rn = ch.ds.get("RN")
            if rn is not None and rn.codec in (1, 5):
                rn_id = rn.content_id
    assert r.i == cont_end

    fqz_p = dict(context=0, qbits=8, qshift=4, qloc=0, sloc=0, ploc=0,
                 dloc=0, max_sym=0)
    alt_cycle = 0
    out_blocks = []
    for ctype, cid, payload, raw in blocks:
        if ctype == 1:  # compression header -> arith order-0
            comp = (bytes([0]) + _uint7_enc(len(payload))
                    + _arith_encode0(payload))
            out_blocks.append(_block31(6, ctype, cid, comp, len(payload)))
        elif ctype == 4 and payload:
            if cid == qs_id:  # quality stream -> fqzcomp, one giant record
                p = dict(fqz_p, max_sym=max(payload))
                comp = _fqz_encode([(payload, 0)], [p])
                out_blocks.append(_block31(7, ctype, cid, comp, len(payload)))
            elif cid == rn_id and payload.endswith(b"\x00"):
                names = [n.decode("ascii") for n in payload.split(b"\x00")[:-1]]
                comp = _name_tok_encode(names)
                out_blocks.append(_block31(8, ctype, cid, comp, len(payload)))
            else:  # cycle through the remaining 3.1 codec modes
                if alt_cycle == 0:
                    comp = (bytes([0x01]) + _uint7_enc(len(payload))
                            + _arith_encode1(payload))
                    m = 6
                elif alt_cycle == 1:
                    comp = _nx16_encode0(payload, 4)
                    m = 5
                elif alt_cycle == 2:
                    comp = (bytes([0x40]) + _uint7_enc(len(payload))
                            + _arith_encode_rle(payload, False))
                    m = 6
                else:
                    comp = _nx16_encode1(payload, 4)
                    m = 5
                alt_cycle = (alt_cycle + 1) % 4
                out_blocks.append(_block31(m, ctype, cid, comp, len(payload)))
        else:  # core block / empty externals / slice header: copy verbatim
            out_blocks.append(raw)

    # slice header must follow the compression header immediately: recompute
    # the single landmark as the new compression-header block size
    assert len(h["landmarks"]) == 1
    blocks_bytes = b"".join(out_blocks)
    hdr = struct.pack("<i", len(blocks_bytes))
    hdr += _itf8_enc(h["ref_id"]) + _itf8_enc(h["start"]) + _itf8_enc(h["span"])
    hdr += _itf8_enc(h["n_records"]) + _ltf8_enc(h["counter"])
    hdr += _ltf8_enc(h["n_bases"]) + _itf8_enc(h["n_blocks"])
    hdr += _itf8_enc(1) + _itf8_enc(len(out_blocks[0]))
    hdr += struct.pack("<I", _zlib.crc32(hdr))

    return (data[:4] + bytes([3, 1]) + data[6:off]
            + hdr + blocks_bytes + data[cont_end:])


def test_cram31_transcode_scan_and_validate(tmp_path, slice_cram):
    data = open(slice_cram, "rb").read()
    crafted = str(tmp_path / "slice31.cram")
    with open(crafted, "wb") as f:
        f.write(_transcode_cram31(data))
    names, _t, _off = C.read_file_header(open(crafted, "rb").read())
    assert names == C.read_file_header(data)[0]
    h31 = C.scan_containers_file(crafted)[2]
    assert len(h31) == 1 and h31[0]["n_records"] == 3172
    C.validate_container_file(crafted, h31[0])  # all 3.1 codecs accepted


@needs_ref
def test_cram31_end_to_end_records_identical(spark, tmp_path):
    from pyspark.sql import functions as F

    from sequila_spark.sources import read_cram_native

    data = open(CRAM, "rb").read()
    crafted = str(tmp_path / "slice31.cram")
    with open(crafted, "wb") as f:
        f.write(_transcode_cram31(data))

    cols = ["qname", "flag", "contig", "pos_start", "pos_end", "mapq",
            "cigar", "rnext", "pnext", "tlen", "seq", "qual"]
    a = read_cram_native(spark, crafted, ref_path=FASTA)
    b = read_cram_native(spark, CRAM, ref_path=FASTA)
    assert a.count() == 3172
    assert (
        a.select(*cols).exceptAll(b.select(*cols)).count() == 0
        and b.select(*cols).exceptAll(a.select(*cols)).count() == 0
    )


def test_rans4x8_c_and_python_identical():
    """The C rANS 4x8 kernel must reproduce the pure-Python decoders
    byte-for-byte on every rANS block of the real CRAM fixture."""
    import os

    import pytest as _pytest

    from sequila_spark.sources import _ckern
    from sequila_spark.sources import cramcodec as C

    if not _ckern.available():
        _pytest.skip("C kernel unavailable")
    path = "/root/reference/src/test/resources/NA12878.slice.cram"
    if not os.path.exists(path):
        _pytest.skip("no reference CRAM")
    fasta = path.replace(".cram", ".fasta")
    with_c = list(C.read_cram_records(path, ref_path=fasta))
    old = _ckern._LIB
    try:
        _ckern._LIB = False
        without_c = list(C.read_cram_records(path, ref_path=fasta))
    finally:
        _ckern._LIB = old
    assert with_c == without_c and len(with_c) == 3172


def test_rans_nx16_c_and_python_identical():
    """The Nx16 C kernels must match the pure-Python decoders byte-for-byte
    on synthetic order-0/order-1 streams at both interleave widths."""
    import pytest as _pytest

    from sequila_spark.sources import _ckern
    from sequila_spark.sources.cramcodec import rans_nx16_decode

    if not _ckern.available():
        _pytest.skip("C kernel unavailable")
    import random

    rng = random.Random(1234)
    payloads = [
        bytes(rng.choice(b"ACGTN") for _ in range(517)),
        bytes(rng.randrange(256) for _ in range(2048)),
        b"A" * 100,
    ]
    for payload in payloads:
        for n_way in (4, 32):
            for enc in (
                _nx16_encode0(payload, n_way),
                _nx16_encode1(payload, n_way),
                _nx16_encode1(payload, n_way, shift=10),
            ):
                with_c = rans_nx16_decode(enc, len(payload))
                old = _ckern._LIB
                try:
                    _ckern._LIB = False
                    without_c = rans_nx16_decode(enc, len(payload))
                finally:
                    _ckern._LIB = old
                assert with_c == without_c == payload, (len(payload), n_way)


@needs_ref
def test_cram_walk_c_vs_python_paths(monkeypatch):
    """The C feature-walk (bamscan.c cram_walk), the deferred-replay
    Python walk (CramWalkAbort path), and the fully undeferred per-record
    walk must produce identical records on the real NA12878 slice."""
    from sequila_spark.sources import _ckern as CK
    from sequila_spark.sources import cramcodec as C

    if not CK.has_cram_walk():
        pytest.skip("C kernels unavailable")
    via_c = list(C.read_cram_records(CRAM, FASTA))

    # force the abort path: the replay must be exercised and identical
    def abort(*a, **k):
        raise CK.CramWalkAbort(-1, 0)

    monkeypatch.setattr(CK, "cram_walk", abort)
    via_replay = list(C.read_cram_records(CRAM, FASTA))

    # force no deferral at all: the original interleaved walk
    monkeypatch.setattr(C, "_can_defer_walk", lambda *a, **k: False)
    via_inline = list(C.read_cram_records(CRAM, FASTA))

    assert via_c == via_replay == via_inline
    assert len(via_c) == 3172


def test_tag_render_fn_matches_shared_renderer():
    """The fused type-specialized tag renderers (_tag_render_fn, the
    record loop's hot path) must render byte-identically to the pinned
    shared renderer decode_tag_bytes for every type, including the
    generic fallback ('B' arrays)."""
    import struct

    from sequila_spark.sources.bamcodec import decode_tag_bytes
    from sequila_spark.sources.cramcodec import _tag_render_fn

    cases = [
        ("i", struct.pack("<i", -70000)),
        ("I", struct.pack("<I", 3_000_000_000)),
        ("c", struct.pack("<b", -5)),
        ("C", struct.pack("<B", 200)),
        ("s", struct.pack("<h", -1234)),
        ("S", struct.pack("<H", 65535)),
        ("f", struct.pack("<f", 1.5)),
        ("f", struct.pack("<f", -0.1)),
        ("A", b"Q"),
        ("Z", b"hello\x00"),
        ("H", b"1AE3\x00"),
        ("B", b"S" + struct.pack("<i", 3) + struct.pack("<3H", 7, 8, 65535)),
        ("B", b"f" + struct.pack("<i", 2) + struct.pack("<2f", 0.5, -2.0)),
    ]
    for typ, raw in cases:
        got = _tag_render_fn(typ, lambda r=raw: r)()
        assert got == decode_tag_bytes(typ, raw), (typ, raw)


def test_tag_render_series_matches_shared_renderer():
    """The whole-series tag renderer (_tag_render_series, used when the
    tag's raw values are pre-split by _bulk_bytes_series) must render
    byte-identically to the pinned shared renderer decode_tag_bytes for
    every type, including the generic fallback ('B' arrays)."""
    import struct

    from sequila_spark.sources.bamcodec import decode_tag_bytes
    from sequila_spark.sources.cramcodec import _tag_render_series

    cases = [
        ("i", [struct.pack("<i", -70000), struct.pack("<i", 7)]),
        ("I", [struct.pack("<I", 3_000_000_000)]),
        ("c", [struct.pack("<b", -5)]),
        ("C", [struct.pack("<B", 200)]),
        ("s", [struct.pack("<h", -1234)]),
        ("S", [struct.pack("<H", 65535)]),
        ("f", [struct.pack("<f", 1.5), struct.pack("<f", -0.1)]),
        ("A", [b"Q", b"x"]),
        ("Z", [b"hello\x00", b"\x00", b"a,b\x00"]),
        ("H", [b"1AE3\x00"]),
        ("B", [b"S" + struct.pack("<i", 3) + struct.pack("<3H", 7, 8, 65535),
               b"f" + struct.pack("<i", 2) + struct.pack("<2f", 0.5, -2.0)]),
    ]
    for typ, vals in cases:
        got = _tag_render_series(typ, vals)
        assert got == [decode_tag_bytes(typ, v) for v in vals], typ


@needs_ref
def test_bulk_record_series_matches_per_value(monkeypatch):
    """The whole-series record-field/tag pre-decode (_bulk_int_reader /
    _bulk_bytes_series + pre-rendered tag series) must yield records
    identical to the per-value readers on the real NA12878 slice — and
    must actually ENGAGE on it (non-vacuous: the fixture's htslib layout
    gives every record-field series its own external block)."""
    from sequila_spark.sources import cramcodec as C

    engaged = {"ints": 0, "bytes": 0}
    orig_int, orig_bytes = C._bulk_int_reader, C._bulk_bytes_series

    def spy_int(*a, **k):
        r = orig_int(*a, **k)
        if r is not None:
            engaged["ints"] += 1
        return r

    def spy_bytes(*a, **k):
        r = orig_bytes(*a, **k)
        if r is not None:
            engaged["bytes"] += 1
        return r

    monkeypatch.setattr(C, "_bulk_int_reader", spy_int)
    monkeypatch.setattr(C, "_bulk_bytes_series", spy_bytes)
    # columnar off: this test pins the BULK PER-RECORD path (which the
    # columnar decode bypasses entirely) against the per-value readers
    monkeypatch.setattr(C, "_COLUMNAR_SLICE", False)
    via_bulk = list(C.read_cram_records(CRAM, FASTA))
    monkeypatch.setattr(C, "_BULK_RECORD_SERIES", False)
    via_scalar = list(C.read_cram_records(CRAM, FASTA))
    assert via_bulk == via_scalar
    assert len(via_bulk) == 3172
    assert engaged["ints"] > 0 and engaged["bytes"] > 0


@needs_ref
def test_columnar_slice_matches_per_record(monkeypatch):
    """The fully-columnar slice decode (_decode_slice_columns) must yield
    records identical to the per-record loop on the real NA12878 slice —
    and must actually ENGAGE (non-vacuous: a failed precondition would
    silently fall back and compare the per-record path to itself)."""
    from sequila_spark.sources import cramcodec as C

    engaged = {"n": 0}
    orig = C._decode_slice_columns

    def spy(*a, **k):
        r = orig(*a, **k)
        if r is not None:
            engaged["n"] += 1
        return r

    monkeypatch.setattr(C, "_decode_slice_columns", spy)
    via_cols = list(C.read_cram_records(CRAM, FASTA))
    monkeypatch.setattr(C, "_COLUMNAR_SLICE", False)
    via_recs = list(C.read_cram_records(CRAM, FASTA))
    assert via_cols == via_recs
    assert len(via_cols) == 3172
    assert engaged["n"] > 0


@needs_ref
def test_cram_arrow_reader_with_tags_false(spark):
    """The Arrow emission path (mapInArrow RecordBatches) with tags
    suppressed: same rows as the tagged read minus the map column, and
    the map column is empty rather than absent (schema stability)."""
    from sequila_spark.sources.bam import read_cram_native

    tagged = read_cram_native(spark, CRAM, ref_path=FASTA)
    untagged = read_cram_native(spark, CRAM, ref_path=FASTA, with_tags=False)
    assert tagged.columns == untagged.columns
    rows_t = tagged.drop("tags").collect()
    rows_u = untagged.drop("tags").collect()
    assert rows_t == rows_u
    assert len(rows_u) == 3172
    assert all(len(r["tags"]) == 0 for r in untagged.select("tags").collect())


@needs_ref
def test_cram_column_pruning(spark):
    """Decode-level column pruning (mirrors read_bam_native columns=):
    every pruned projection equals the full read's projection, the
    schema carries exactly the requested columns (+sample_id), and an
    interval filter without its needed columns raises."""
    from sequila_spark.sources.bam import read_cram_native

    full = read_cram_native(spark, CRAM, ref_path=FASTA)
    # requested sets come back in CANONICAL order (read_bam_native's
    # convention), sample_id first, tags last
    cases = [
        ["flag", "contig", "pos_start", "pos_end", "mapq", "cigar"],
        ["flag", "pos_start"],
        ["qname", "seq", "qual"],
        ["contig", "pos_start", "pos_end", "tags"],
    ]
    for cols in cases:
        pruned = read_cram_native(spark, CRAM, ref_path=FASTA, columns=cols)
        assert pruned.columns == ["sample_id"] + cols, cols
        a = sorted(map(tuple, full.select("sample_id", *[c for c in cols if c != "tags"]).collect()))
        b = sorted(map(tuple, pruned.drop("tags").collect())) if "tags" in cols else sorted(map(tuple, pruned.collect()))
        assert a == b, cols
    # tags content identical under pruning
    pr = read_cram_native(spark, CRAM, ref_path=FASTA, columns=["qname", "tags"])
    want = {r["qname"]: r["tags"] for r in full.select("qname", "tags").collect()}
    got = {r["qname"]: r["tags"] for r in pr.collect()}
    assert got == want
    import pytest as _pt
    with _pt.raises(ValueError, match="interval"):
        read_cram_native(
            spark, CRAM, ref_path=FASTA, columns=["flag"], contig="1", start=1, end=10
        )
    with _pt.raises(ValueError, match="unknown"):
        read_cram_native(spark, CRAM, ref_path=FASTA, columns=["nope"])


@needs_ref
def test_cram_coverage_fused_events(spark, monkeypatch):
    """coverage(read_cram_native(...)) auto-fuses to the decode->events
    reader on provenance (r13, the BAM-fusion analog): identical blocks
    to the declarative plan AND to coverage over the independently-
    decoded BAM twin; the fused reader must actually ENGAGE (the reader's
    plan builds its events, no row decode)."""
    from sequila_spark.operators.coverage import coverage
    from sequila_spark.sources import bam as B

    calls = {"fused": 0, "native": 0}
    orig_ev, orig_rows = B._cram_events, B._cram_rows

    def spy_ev(plan, *a):
        calls["fused"] += 1
        return orig_ev(plan, *a)

    def spy_native(plan, columns):
        calls["native"] += 1
        return orig_rows(plan, columns)

    reads = B.read_cram_native(spark, CRAM, ref_path=FASTA)
    monkeypatch.setattr(B, "_cram_events", spy_ev)
    monkeypatch.setattr(B, "_cram_rows", spy_native)
    got = sorted(map(tuple, coverage(reads).collect()))
    assert calls == {"fused": 1, "native": 0}
    unfused = sorted(map(tuple, coverage(reads, fuse=False).collect()))
    assert got == unfused
    bam_reads = B.read_bam_native(spark, BAM)
    via_bam = sorted(map(tuple, coverage(bam_reads, fuse=False).collect()))
    assert got == via_bam
    # filters apply at decode time, identical to the declarative plan
    f_f = sorted(map(tuple, coverage(reads, flag_mask=1796, min_mapq=10).collect()))
    f_d = sorted(map(tuple, coverage(reads, flag_mask=1796, min_mapq=10, fuse=False).collect()))
    assert f_f == f_d
    # bases/windows modes ride the same events
    for kw in ({"mode": "bases"}, {"mode": "windows", "window_size": 1000}):
        assert sorted(map(tuple, coverage(reads, **kw).collect())) == sorted(
            map(tuple, coverage(reads, fuse=False, **kw).collect())
        )


@needs_ref
def test_cram_coverage_fused_interval(spark):
    """An interval read keeps htslib-fetch overlap semantics through the
    fused events path (container pruning + numpy row filter)."""
    from sequila_spark.operators.coverage import coverage
    from sequila_spark.sources import bam as B

    ri = B.read_cram_native(
        spark, CRAM, ref_path=FASTA, contig="1", start=134, end=5034
    )
    fi = sorted(map(tuple, coverage(ri).collect()))
    di = sorted(map(tuple, coverage(ri, fuse=False).collect()))
    assert fi and fi == di


@needs_ref
def test_cram_coverage_gapless_prunes_decode(spark, monkeypatch):
    """use_cigar=False cannot ride the block-based fused reader; it keeps
    the column-PRUNED re-read (no qname/tags/seq/qual decode), identical
    to the unpruned declarative plan."""
    from sequila_spark.operators.coverage import coverage
    from sequila_spark.sources import bam as B

    calls = {"pruned": 0}
    orig = B._cram_rows

    def spy(plan, columns):
        if columns is not None:
            calls["pruned"] += 1
        return orig(plan, columns)

    monkeypatch.setattr(B, "_cram_rows", spy)
    reads = B.read_cram_native(spark, CRAM, ref_path=FASTA)
    got = sorted(map(tuple, coverage(reads, use_cigar=False).collect()))
    assert calls["pruned"] == 1
    unpruned = sorted(
        map(tuple, coverage(reads, use_cigar=False, fuse=False).collect())
    )
    assert got == unpruned


@needs_ref
def test_cram_pileup_prunes_decode(spark, monkeypatch):
    """pileup(read_cram_native(...)) decodes a pruned re-read too:
    alts-only (no qual decode) and quals (qual included) both pinned
    identical to the unpruned relation's pileup."""
    from sequila_spark.operators.pileup import pileup
    from sequila_spark.sources import bam as B

    calls = []
    orig = B._cram_rows

    def spy(plan, columns):
        if columns is not None:
            calls.append(sorted(columns))
        return orig(plan, columns)

    monkeypatch.setattr(B, "_cram_rows", spy)
    reads = B.read_cram_native(spark, CRAM, ref_path=FASTA)
    got = sorted(map(tuple, pileup(reads).collect()))
    assert len(calls) == 1 and "qual" not in calls[0] and "tags" not in calls[0]
    unpruned = sorted(
        map(tuple, pileup(reads.select(reads.columns)).collect())
    )  # .select() drops provenance -> no pruning
    assert got == unpruned
    got_q = sorted(map(tuple, pileup(reads, quals=True).collect()))
    assert "qual" in calls[-1]
    unpruned_q = sorted(
        map(tuple, pileup(reads.select(reads.columns), quals=True).collect())
    )
    assert got_q == unpruned_q


@needs_ref
def test_pileup_fuse_flag(spark, monkeypatch):
    """pileup(fuse=...) mirrors coverage() (ADVICE r12): fuse=False is a
    documented opt-out of the provenance-based decode prune (identical
    rows, pruned re-read must NOT engage); fuse=True without reader
    provenance raises."""
    from sequila_spark.operators.pileup import pileup
    from sequila_spark.sources import bam as B

    calls = {"pruned": 0}
    orig = B._cram_rows

    def spy(plan, columns):
        if columns is not None:
            calls["pruned"] += 1
        return orig(plan, columns)

    monkeypatch.setattr(B, "_cram_rows", spy)
    reads = B.read_cram_native(spark, CRAM, ref_path=FASTA)
    fused = sorted(map(tuple, pileup(reads, fuse=True).collect()))
    assert calls["pruned"] == 1
    unfused = sorted(map(tuple, pileup(reads, fuse=False).collect()))
    assert calls["pruned"] == 1  # opt-out: no pruned re-read
    assert fused == unfused
    with pytest.raises(ValueError, match="fuse=True requires"):
        pileup(reads.select(reads.columns), fuse=True)
    with pytest.raises(ValueError, match="fuse=True requires"):
        pileup(B.read_bam_native(spark, BAM), fuse=True)
