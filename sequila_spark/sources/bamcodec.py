"""Pure-Python BAM decoding — no htslib/pysam dependency.

Implements the public hts-specs formats (SAM/BAM spec v1.6):

 - **BGZF**: the container is a series of complete gzip members, each
   carrying a ``BC`` extra subfield with the compressed block size; any
   block is independently decompressible (``zlib``, wbits=31).  A *virtual
   offset* packs (compressed block offset << 16 | in-block offset).
 - **BAM**: binary alignment records (little-endian struct layout, 4-bit
   packed seq, uint32 CIGAR ops, typed optional tags).
 - **BAI**: the index; we use only its *linear index* (per 16 kb window,
   the smallest virtual offset of a read overlapping it) to start each
   genomic chunk's scan near its data — the same interval-chunking role as
   the reference's BGZF split assignment
   (datasources/BAM/AlignmentRelation.scala:298-393), expressed as
   one decode span per genomic chunk.

Scale design: the driver reads only the header + index (KBs); each span
seeks its virtual offset and decodes one chunk's records, keeping a read
iff its 0-based start falls inside the chunk's half-open range
(owner-by-start — no duplicates across chunk boundaries, every read owned
by exactly one span).  Coordinate-sorted input lets a span stop at the
first record past its range; a task decodes a run of spans (bam._pack_tasks).
"""

from __future__ import annotations

import os
import struct
import zlib
from typing import BinaryIO, Iterator

from sequila_spark.sources import _inflate

CIGAR_OPS = "MIDNSHP=X"
SEQ_CODES = "=ACMGRSVTWYHKDBN"
_REF_CONSUMING = frozenset("MDN=X")

# C-level seq decode: bytes.hex() emits one lowercase hex digit per NIBBLE
# in high-then-low order — exactly the 4-bit base-code order of the BAM
# seq field — so packed seq decodes with two C calls (hex + translate)
# instead of a per-base Python loop (measured ~3x whole-record decode).
_SEQ_HEXMAP = str.maketrans("0123456789abcdef", SEQ_CODES)
# phred+33 rendering as a byte translation (latin-1 decode preserves the
# one-byte codepoints chr() produced before)
_QUAL33 = bytes((i + 33) & 0xFF for i in range(256))
LINEAR_WINDOW = 16384


class BgzfReader:
    """Sequential reader over decompressed BGZF bytes, seekable to a
    virtual offset.  Each BGZF block is one complete gzip member.

    The end of the data is checked: a nonzero virtual offset at or past
    the end of the file raises, and so does a read that reaches the end of
    the file when the last block was not the EOF marker (SAMv1 §4.1.2) —
    after the bytes before that end have been returned, so a caller sees
    a record cut at the end before the missing marker."""

    def __init__(self, raw: BinaryIO, voffset: int = 0):
        self._raw = raw
        self._buf = b""
        self._pos = 0
        self._coff = voffset >> 16  # compressed offset of the next block
        self._name = getattr(raw, "name", "stream")
        self._marker = False  # the last block read was the EOF marker
        if voffset:
            size = raw.seek(0, os.SEEK_END)
            if self._coff >= size:
                # the block the offset names is cut away whole: phrased as
                # a block cut inside its header is
                raise ValueError(
                    f"truncated BGZF block at compressed offset {self._coff} "
                    f"of {self._name}: virtual offset {voffset} starts past "
                    f"the end of the file ({size} bytes)"
                )
        raw.seek(self._coff)
        skip = voffset & 0xFFFF
        if skip:
            self._fill()
            self._pos = skip

    def _fill(self) -> bool:
        """Inflate the next block; False at the end of the file.  A block
        cut short (header or body) raises, naming its compressed offset."""
        at = self._coff
        where = f"compressed offset {at} of {self._name}"
        header = self._raw.read(18)
        if not header:
            return False
        if len(header) < 18:
            raise ValueError(
                f"truncated BGZF block at {where}: {len(header)} of 18 header bytes"
            )
        if header[:2] != b"\x1f\x8b":
            raise ValueError(f"not a BGZF stream (bad gzip magic at {where})")
        xlen = struct.unpack_from("<H", header, 10)[0]
        if xlen < 6:
            raise ValueError(f"BGZF block at {where} missing BC/BSIZE subfield")
        extra = header[12:18] + (self._raw.read(xlen - 6) if xlen > 6 else b"")
        # find the BC subfield holding BSIZE (total block size - 1)
        bsize = None
        off = 0
        while off + 4 <= len(extra):
            si1, si2, slen = extra[off], extra[off + 1], struct.unpack_from("<H", extra, off + 2)[0]
            if si1 == 0x42 and si2 == 0x43 and slen == 2:
                bsize = struct.unpack_from("<H", extra, off + 4)[0]
                break
            off += 4 + slen
        if bsize is None:
            raise ValueError(f"BGZF block at {where} missing BC/BSIZE subfield")
        want = bsize + 1 - 12 - xlen
        rest = self._raw.read(want)
        if len(rest) < want:
            raise ValueError(
                f"truncated BGZF block at {where}: "
                f"{12 + len(extra) + len(rest)} of BSIZE+1 = {bsize + 1} bytes"
            )
        block = header[:12] + extra + rest
        self._marker = block == BGZF_EOF
        # libdeflate when the system has it (htslib's own accelerator,
        # ~2.3x zlib here), zlib otherwise — identical bytes either way;
        # both check the member's CRC32 and ISIZE
        try:
            self._buf = _inflate.gzip_decompress(block)
        except zlib.error as exc:
            raise ValueError(f"corrupt BGZF block at {where}: {exc}") from None
        self._pos = 0
        self._coff = at + bsize + 1
        return True

    def read(self, n: int) -> bytes:
        out = []
        need = n
        while need > 0:
            if self._pos >= len(self._buf):
                if not self._fill():
                    if not self._marker and need == n:
                        raise ValueError(
                            f"BGZF data of {self._name} ends at compressed "
                            f"offset {self._coff} without the 28-byte BGZF "
                            "EOF marker"
                        )
                    break
                if not self._buf:  # EOF marker block (empty payload)
                    continue
            take = self._buf[self._pos : self._pos + need]
            self._pos += len(take)
            need -= len(take)
            out.append(take)
        return b"".join(out)


def read_bam_header(stream: BgzfReader) -> tuple[list[tuple[str, int]], str]:
    """(references [(name, length)], SAM header text)."""
    if stream.read(4) != b"BAM\x01":
        raise ValueError("not a BAM file (bad magic)")
    l_text = struct.unpack("<i", stream.read(4))[0]
    text = stream.read(l_text).rstrip(b"\x00").decode("utf-8", "replace")
    n_ref = struct.unpack("<i", stream.read(4))[0]
    refs = []
    for _ in range(n_ref):
        l_name = struct.unpack("<i", stream.read(4))[0]
        name = stream.read(l_name)[:-1].decode()
        l_ref = struct.unpack("<i", stream.read(4))[0]
        refs.append((name, l_ref))
    return refs, text


_TAG_SCALAR_FMT = {"c": "<b", "C": "<B", "s": "<h", "S": "<H", "i": "<i", "I": "<I"}
_TAG_ARRAY_FMT = {"c": "b", "C": "B", "s": "h", "S": "H", "i": "i", "I": "I", "f": "f"}
# type byte -> (unpack_from, value bytes, renderer) of each fixed-size type
_TAG_FIXED = {ord(t): (struct.Struct(f).unpack_from, struct.calcsize(f), str)
              for t, f in _TAG_SCALAR_FMT.items()}
_TAG_FIXED[ord("f")] = (struct.Struct("<f").unpack_from, 4, repr)
_TAG_FIXED[ord("A")] = (struct.Struct("<c").unpack_from, 1, lambda b: b.decode("latin-1"))


def decode_tag_bytes(typ: str, raw: bytes) -> str:
    """Render one tag VALUE from its BAM-wire bytes (value only, no
    tag/type prefix) into the canonical string form.  CRAM stores tag
    values in the same wire encoding (hts-specs CRAMv3 §10.6), so the CRAM
    codec delegates here — one renderer, identical output on both paths
    (including 'B' arrays: subtype byte + int32 count + packed values,
    rendered comma-joined)."""
    if typ == "A":
        return chr(raw[0])
    if typ in _TAG_SCALAR_FMT:
        return str(struct.unpack_from(_TAG_SCALAR_FMT[typ], raw)[0])
    if typ == "f":
        return repr(struct.unpack_from("<f", raw)[0])
    if typ in ("Z", "H"):
        return raw.split(b"\x00", 1)[0].decode("ascii", "replace")
    if typ == "B":
        sub = chr(raw[0])
        cnt = struct.unpack_from("<i", raw, 1)[0]
        fmt = _TAG_ARRAY_FMT.get(sub)
        if fmt is None:
            raise ValueError(
                f"BAM tag value type 'B': unknown array subtype {sub!r} at "
                "offset 0 of the value"
            )
        vals = struct.unpack_from(f"<{cnt}{fmt}", raw, 5)
        return ",".join(repr(v) if sub == "f" else str(v) for v in vals)
    return raw.hex()


# interned 2-char tag names (a BAM has a handful of distinct tags repeated
# across millions of records — decoding the name once each is free)
_TAG_NAMES: dict[bytes, str] = {}


def _tag_error(tag: str, typ: int, off: int, what: str) -> ValueError:
    return ValueError(
        f"BAM tag {tag!r} type {chr(typ)!r}: {what} at offset {off} of the "
        "tag block"
    )


def _decode_tags(data: bytes) -> dict[str, str]:
    """Render a record's tag block.  A value that runs past the block or an
    unknown type or ``B`` subtype raises ValueError naming the tag, its
    type and the offset; so do 1-2 bytes left over after the last tag."""
    tags: dict[str, str] = {}
    off = 0
    n = len(data)
    while off < n:
        if off + 3 > n:
            raise ValueError(
                f"BAM tag block: {n - off} byte(s) left over at offset {off}"
            )
        nm = data[off : off + 2]
        tag = _TAG_NAMES.get(nm)
        if tag is None:
            tag = _TAG_NAMES.setdefault(nm, nm.decode("ascii", "replace"))
        typ = data[off + 2]
        off += 3
        fixed = _TAG_FIXED.get(typ)
        if fixed is not None:
            unpack, size, render = fixed
            try:
                tags[tag] = render(unpack(data, off)[0])
            except struct.error:
                raise _tag_error(
                    tag, typ, off, f"{size}-byte value runs past the end"
                ) from None
            off += size
        elif typ in (90, 72):  # Z / H
            end = data.find(b"\x00", off)
            if end < 0:
                raise _tag_error(tag, typ, off, "value has no NUL terminator")
            tags[tag] = data[off:end].decode("ascii", "replace")
            off = end + 1
        elif typ == 66:  # B
            if off + 5 > n:
                raise _tag_error(tag, typ, off, "array header runs past the end")
            sub = chr(data[off])
            fmt = _TAG_ARRAY_FMT.get(sub)
            if fmt is None:
                raise _tag_error(tag, typ, off, f"unknown array subtype {sub!r}")
            cnt = struct.unpack_from("<i", data, off + 1)[0]
            end = off + 5 + cnt * struct.calcsize("<" + fmt)
            if cnt < 0 or end > n:
                raise _tag_error(tag, typ, off, f"{cnt} values run past the end")
            tags[tag] = decode_tag_bytes("B", data[off:end])
            off = end
        else:  # cannot advance past a value of unknown size
            raise ValueError(
                f"BAM tag {tag!r}: unknown type byte {typ} ({chr(typ)!r}) "
                f"at offset {off - 1} of the tag block"
            )
    return tags


def parse_records(
    stream: BgzfReader,
    refs: list[tuple[str, int]],
    *,
    ref_id: int | None = None,
    start0: int = 0,
    end0: int | None = None,
    with_tags: bool = True,
    unmapped_only: bool = False,
) -> Iterator[tuple]:
    """Decode alignment records into canonical tuples
    (qname, flag, contig, pos_start, pos_end, mapq, cigar, rnext, pnext,
    tlen, seq, qual, tags).

    Coordinates are converted 0-based -> 1-based; pos_end is the last
    reference-consumed position.  With a (ref_id, start0, end0) region over
    coordinate-sorted input: reads are kept by the owner-by-start rule
    (start0 <= read start < end0) and the scan stops at the first record
    past end0 (or on a later reference).

    ``unmapped_only`` keeps only placement-less records (ref_id < 0 — the
    trailing no-coordinate region of a sorted BAM); mapped records are
    skipped without decoding.

    This scalar decoder is the tests' reference: the readers decode
    through ``bamvec``, and tests pin that decoder record-for-record to
    this one.  It stops silently at a truncated trailing record.
    """
    while True:
        head = stream.read(4)
        if len(head) < 4:
            return
        (block_size,) = struct.unpack("<i", head)
        data = stream.read(block_size)
        if len(data) < block_size:
            return
        (rid, pos0, l_qname, mapq, _bin, n_cigar, flag, l_seq, next_rid, next_pos0, tlen) = (
            struct.unpack_from("<iiBBHHHiiii", data, 0)
        )
        if unmapped_only and rid >= 0:
            continue
        if ref_id is not None:
            if rid > ref_id or rid < 0:
                return  # sorted: past our reference
            if rid == ref_id and end0 is not None and pos0 >= end0:
                return
            if rid != ref_id or pos0 < start0:
                continue  # owned by an earlier chunk (or earlier ref)
        off = 32
        qname = data[off : off + l_qname - 1].decode("ascii", "replace")
        off += l_qname
        cigar_ops = struct.unpack_from(f"<{n_cigar}I", data, off)
        off += 4 * n_cigar
        n_seq_bytes = (l_seq + 1) // 2
        seq_packed = data[off : off + n_seq_bytes]
        off += n_seq_bytes
        qual_raw = data[off : off + l_seq]
        off += l_seq
        tags = _decode_tags(data[off:]) if with_tags else {}

        cigar = "".join(f"{v >> 4}{CIGAR_OPS[v & 0xF]}" for v in cigar_ops) or "*"
        ref_len = sum(v >> 4 for v in cigar_ops if CIGAR_OPS[v & 0xF] in _REF_CONSUMING)
        seq = seq_packed.hex().translate(_SEQ_HEXMAP)[:l_seq]
        qual = (
            None
            if l_seq == 0 or qual_raw == b"\xff" * l_seq
            else qual_raw.translate(_QUAL33).decode("latin-1")
        )
        contig = refs[rid][0] if 0 <= rid < len(refs) else None
        rnext = refs[next_rid][0] if 0 <= next_rid < len(refs) else None
        yield (
            qname,
            flag,
            contig,
            pos0 + 1 if pos0 >= 0 else 0,
            pos0 + ref_len if (pos0 >= 0 and ref_len > 0) else 0,
            mapq,
            cigar,
            rnext,
            next_pos0 + 1 if next_pos0 >= 0 else 0,
            tlen,
            seq or None,
            qual,
            tags,
        )


BGZF_EOF = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000"
)


def bgzf_compress_block(payload: bytes, level: int = 6) -> bytes:
    """One BGZF block: a gzip member with the BC/BSIZE extra subfield.
    Payload must be <= 65535 bytes (callers chunk).  Deflates through the
    system libdeflate when present (~2x; compressed bytes differ from
    zlib's, which is fine — BGZF readers accept any compliant deflate and
    the tests pin record round-trips), zlib otherwise."""
    ld = _inflate.raw_deflate(payload, level)
    if ld is not None:
        cdata, crc = ld
    else:
        comp = zlib.compressobj(level, zlib.DEFLATED, -15)
        cdata = comp.compress(payload) + comp.flush()
        crc = zlib.crc32(payload) & 0xFFFFFFFF
    bsize = len(cdata) + 25  # total = header 18 + cdata + footer 8; BSIZE = total-1
    if bsize > 0xFFFF:
        raise ValueError(f"BGZF block overflow: {bsize + 1} bytes compressed")
    header = (
        b"\x1f\x8b\x08\x04\x00\x00\x00\x00\x00\xff"
        + struct.pack("<H", 6)
        + b"BC"
        + struct.pack("<HH", 2, bsize)
    )
    footer = struct.pack("<II", crc, len(payload) & 0xFFFFFFFF)
    return header + cdata + footer


class BgzfWriter:
    """Buffers bytes into <=64 KB BGZF blocks.  close() appends the
    standard EOF marker block.  ``tell_virtual()`` reports the BAM virtual
    offset (compressed_offset << 16 | intra-block uncompressed offset) the
    NEXT written byte will occupy — the unit BAI indexes speak."""

    def __init__(self, raw: BinaryIO, level: int = 6):
        self._raw = raw
        self._level = level
        self._buf = bytearray()
        self._comp = 0  # compressed bytes emitted so far

    def write(self, data: bytes) -> None:
        self._buf += data
        while len(self._buf) >= 0xFF00:
            blk = bgzf_compress_block(bytes(self._buf[:0xFF00]), self._level)
            self._raw.write(blk)
            self._comp += len(blk)
            del self._buf[:0xFF00]

    def flush_blocks(self) -> None:
        if self._buf:
            blk = bgzf_compress_block(bytes(self._buf), self._level)
            self._raw.write(blk)
            self._comp += len(blk)
            self._buf.clear()

    def tell_virtual(self) -> int:
        return (self._comp << 16) | len(self._buf)

    def close(self, eof: bool = True) -> None:
        self.flush_blocks()
        if eof:
            self._raw.write(BGZF_EOF)
            self._comp += len(BGZF_EOF)


_SEQ_CODE = {c: i for i, c in enumerate(SEQ_CODES)}
_CIGAR_CODE = {c: i for i, c in enumerate(CIGAR_OPS)}
_CIGAR_RE_W = None  # compiled lazily (module kept import-light on executors)


def encode_record(
    rec: tuple,
    ref_ids: dict[str, int],
) -> bytes:
    """Inverse of parse_records for one canonical tuple
    (qname, flag, contig, pos_start, pos_end, mapq, cigar, rnext, pnext,
    tlen, seq, qual, tags) — tags other than simple strings are written as
    Z strings (lossless for the decode side of this codec)."""
    import re as _re

    (qname, flag, contig, pos1, _end, mapq, cigar, rnext, pnext1, tlen, seq, qual, tags) = rec
    rid = ref_ids.get(contig, -1) if contig else -1
    next_rid = ref_ids.get(rnext, -1) if rnext else -1
    pos0 = (pos1 or 0) - 1
    next_pos0 = (pnext1 or 0) - 1
    seq = seq or ""
    l_seq = len(seq)
    qname_b = (qname or "*").encode() + b"\x00"
    ops = (
        []
        if not cigar or cigar == "*"
        else [
            (int(n), _CIGAR_CODE[op])
            for n, op in _re.findall(r"(\d+)([MIDNSHP=X])", cigar)
        ]
    )
    cigar_b = b"".join(struct.pack("<I", (n << 4) | code) for n, code in ops)
    seq_b = bytearray((l_seq + 1) // 2)
    for i, ch in enumerate(seq):
        code = _SEQ_CODE.get(ch.upper(), 15)
        seq_b[i // 2] |= code << 4 if i % 2 == 0 else code
    qual_b = (
        bytes(ord(c) - 33 for c in qual) if qual and len(qual) == l_seq else b"\xff" * l_seq
    )
    tags_b = b"".join(
        k[:2].encode() + b"Z" + str(v).encode() + b"\x00"
        for k, v in (tags or {}).items()
    )
    # bin: spec reg2bin over the reference span; a read that consumes no
    # reference (or an unplaced one, pos0 = -1 -> 4680) spans [pos0, pos0+1)
    ref_len = sum(n for n, code in ops if CIGAR_OPS[code] in _REF_CONSUMING)
    body = (
        struct.pack(
            "<iiBBHHHiiii",
            rid,
            pos0,
            len(qname_b),
            mapq or 0,
            reg2bin(pos0, pos0 + max(ref_len, 1)),
            len(ops),
            flag or 0,
            l_seq,
            next_rid,
            next_pos0,
            tlen or 0,
        )
        + qname_b
        + cigar_b
        + bytes(seq_b)
        + qual_b
        + tags_b
    )
    return struct.pack("<i", len(body)) + body


def write_bam_header(w: "BgzfWriter", refs: list[tuple[str, int]], text: str = "") -> None:
    if not text:
        text = "".join(f"@SQ\tSN:{n}\tLN:{ln}\n" for n, ln in refs)
    tb = text.encode()
    w.write(b"BAM\x01" + struct.pack("<i", len(tb)) + tb + struct.pack("<i", len(refs)))
    for name, length in refs:
        nb = name.encode() + b"\x00"
        w.write(struct.pack("<i", len(nb)) + nb + struct.pack("<i", length))


def _parse_bsize(header: bytes, read_more) -> tuple[int, int]:
    """(bsize, xlen) from an 18-byte BGZF block header; ``read_more(n)``
    supplies extra-field bytes past the first 6 when XLEN > 6."""
    if header[:2] != b"\x1f\x8b":
        raise ValueError("not a BGZF stream (bad gzip magic)")
    xlen = struct.unpack_from("<H", header, 10)[0]
    if xlen < 6:
        raise ValueError("BGZF block missing BC/BSIZE subfield")
    extra = header[12:18] + (read_more(xlen - 6) if xlen > 6 else b"")
    off = 0
    while off + 4 <= len(extra):
        si1, si2 = extra[off], extra[off + 1]
        slen = struct.unpack_from("<H", extra, off + 2)[0]
        if si1 == 0x42 and si2 == 0x43 and slen == 2:
            return struct.unpack_from("<H", extra, off + 4)[0], xlen
        off += 4 + slen
    raise ValueError("BGZF block missing BC/BSIZE subfield")


def is_bgzf(path: str) -> bool:
    """True iff the file opens with a gzip member carrying the BGZF ``BC``
    subfield (bgzip/samtools output) — i.e. it is random-accessible, unlike
    plain single-member gzip."""
    try:
        with open(path, "rb") as f:
            hdr = f.read(18)
            if len(hdr) < 18 or hdr[:2] != b"\x1f\x8b" or not (hdr[3] & 4):
                return False
            _parse_bsize(hdr, f.read)
            return True
    except (OSError, ValueError):
        return False


def read_gzi(path: str) -> list[tuple[int, int]]:
    """bgzip's ``.gzi`` index: ``uint64 n`` then ``n`` little-endian
    ``(compressed_offset, uncompressed_offset)`` pairs for every block
    after the first.  Returned with the implicit leading ``(0, 0)`` entry,
    as ``[(uncompressed_offset, compressed_offset), ...]`` sorted — the
    shape ``bgzf_fetch_range`` binary-searches."""
    with open(path, "rb") as f:
        data = f.read()
    (n,) = struct.unpack_from("<Q", data, 0)
    entries = [(0, 0)]
    for i in range(n):
        c, u = struct.unpack_from("<QQ", data, 8 + 16 * i)
        entries.append((u, c))
    return entries


def scan_bgzf_block_index(path: str) -> list[tuple[int, int]]:
    """``[(uncompressed_offset, compressed_offset)]`` per block WITHOUT
    decompressing anything: each block's compressed size comes from its
    ``BSIZE`` header subfield and its uncompressed size from the gzip
    ``ISIZE`` trailer — one header+trailer read per ~64 KB block, so
    indexing a whole-genome ``.fa.gz`` touches a few MB of metadata.
    Equivalent to the ``.gzi`` bgzip would have written."""
    entries: list[tuple[int, int]] = []
    size = os.path.getsize(path)
    coff = uoff = 0
    with open(path, "rb") as f:
        while coff < size:
            f.seek(coff)
            hdr = f.read(18)
            if len(hdr) < 18:
                break
            bsize, _xlen = _parse_bsize(hdr, f.read)
            f.seek(coff + bsize + 1 - 4)
            (isize,) = struct.unpack("<I", f.read(4))
            entries.append((uoff, coff))
            coff += bsize + 1
            uoff += isize
    return entries


def bgzf_fetch_range(
    path: str, index: list[tuple[int, int]], ustart: int, uend: int
) -> bytes:
    """Decompressed bytes ``[ustart, uend)`` of a BGZF file, starting at
    the latest indexed block at/before ``ustart`` — random access in
    uncompressed coordinate space (htslib's faidx-on-bgzf model)."""
    import bisect

    i = bisect.bisect_right(index, (ustart, 1 << 62)) - 1
    if i < 0:
        i = 0
    u0, c0 = index[i]
    with open(path, "rb") as f:
        r = BgzfReader(f, c0 << 16)
        skip = ustart - u0
        while skip > 0:
            got = r.read(min(skip, 1 << 20))
            if not got:
                return b""
            skip -= len(got)
        return r.read(uend - ustart)


def reg2bin(beg: int, end: int) -> int:
    """SAM-spec R-tree bin for a 0-based half-open [beg, end) region."""
    end -= 1
    if beg >> 14 == end >> 14:
        return ((1 << 15) - 1) // 7 + (beg >> 14)
    if beg >> 17 == end >> 17:
        return ((1 << 12) - 1) // 7 + (beg >> 17)
    if beg >> 20 == end >> 20:
        return ((1 << 9) - 1) // 7 + (beg >> 20)
    if beg >> 23 == end >> 23:
        return ((1 << 6) - 1) // 7 + (beg >> 23)
    if beg >> 26 == end >> 26:
        return ((1 << 3) - 1) // 7 + (beg >> 26)
    return 0


class BaiBuilder:
    """Accumulates BAI structure for records written in coordinate order —
    one instance per writer partition; summaries merge on the driver with
    each fragment's byte shift applied (fragments are whole BGZF blocks,
    so a shift moves only the voffset's compressed half).

    Per reference: ``bins`` maps bin -> [start_voff, end_voff, ...] chunk
    pairs (a new chunk opens when the record run for a bin is interrupted
    — spec-valid and what a coordinate-sorted stream naturally yields),
    ``linear`` maps 16kb-window -> min voff of any overlapping record,
    and mapped/unmapped counts feed the samtools pseudo-bin 37450.
    """

    def __init__(self):
        self.refs: dict[int, dict] = {}
        self.n_no_coor = 0

    def _ref(self, rid: int) -> dict:
        r = self.refs.get(rid)
        if r is None:
            r = self.refs[rid] = {
                "bins": {},
                "last_bin": None,
                "linear": {},
                "n_mapped": 0,
                "n_unmapped": 0,
                "voff_span": [None, 0],
            }
        return r

    def add(self, rid: int, beg0: int, end0: int, flag: int,
            voff_start: int, voff_end: int) -> None:
        if rid < 0:
            self.n_no_coor += 1
            return
        r = self._ref(rid)
        if flag & 4:
            r["n_unmapped"] += 1
        else:
            r["n_mapped"] += 1
        if r["voff_span"][0] is None:
            r["voff_span"][0] = voff_start
        r["voff_span"][1] = voff_end
        if end0 <= beg0:
            end0 = beg0 + 1
        b = reg2bin(beg0, end0)
        chunks = r["bins"].setdefault(b, [])
        if r["last_bin"] == b and chunks and chunks[-1] == voff_start:
            chunks[-1] = voff_end  # extend the open chunk
        else:
            chunks.extend((voff_start, voff_end))
        r["last_bin"] = b
        lin = r["linear"]
        for w in range(beg0 >> 14, ((end0 - 1) >> 14) + 1):
            if w not in lin or voff_start < lin[w]:
                lin[w] = voff_start

    def summary(self) -> dict:
        return {
            "refs": {
                rid: {
                    "bins": r["bins"],
                    "linear": r["linear"],
                    "n_mapped": r["n_mapped"],
                    "n_unmapped": r["n_unmapped"],
                    "voff_span": r["voff_span"],
                }
                for rid, r in self.refs.items()
            },
            "n_no_coor": self.n_no_coor,
        }


def shift_bai_summary(summary: dict, byte_shift: int) -> dict:
    """Apply a whole-block compressed byte shift to every virtual offset
    in a partition summary (local fragment -> final file coordinates)."""
    sh = byte_shift << 16

    def mv(v):
        return v + sh

    out = {"refs": {}, "n_no_coor": summary["n_no_coor"]}
    for rid, r in summary["refs"].items():
        out["refs"][rid] = {
            "bins": {b: [mv(v) for v in ch] for b, ch in r["bins"].items()},
            "linear": {w: mv(v) for w, v in r["linear"].items()},
            "n_mapped": r["n_mapped"],
            "n_unmapped": r["n_unmapped"],
            "voff_span": [
                None if r["voff_span"][0] is None else mv(r["voff_span"][0]),
                mv(r["voff_span"][1]),
            ],
        }
    return out


def merge_bai_summaries(summaries: list[dict]) -> dict:
    """Merge shifted partition summaries (records are globally coordinate
    sorted, so partitions touch disjoint-or-adjacent coordinate ranges)."""
    merged = {"refs": {}, "n_no_coor": 0}
    for s in summaries:
        merged["n_no_coor"] += s["n_no_coor"]
        for rid, r in s["refs"].items():
            m = merged["refs"].setdefault(
                rid,
                {"bins": {}, "linear": {}, "n_mapped": 0, "n_unmapped": 0,
                 "voff_span": [None, 0]},
            )
            for b, ch in r["bins"].items():
                m["bins"].setdefault(b, []).extend(ch)
            for w, v in r["linear"].items():
                if w not in m["linear"] or v < m["linear"][w]:
                    m["linear"][w] = v
            m["n_mapped"] += r["n_mapped"]
            m["n_unmapped"] += r["n_unmapped"]
            if r["voff_span"][0] is not None:
                if m["voff_span"][0] is None or r["voff_span"][0] < m["voff_span"][0]:
                    m["voff_span"][0] = r["voff_span"][0]
                if r["voff_span"][1] > m["voff_span"][1]:
                    m["voff_span"][1] = r["voff_span"][1]
    return merged


def write_bai(path: str, n_ref: int, merged: dict) -> None:
    """Serialize a merged summary as a spec-complete .bai: binning index
    (plus the samtools metadata pseudo-bin 37450), linear index with gaps
    filled by the previous window's offset (htslib convention: a window
    with no starting read inherits the prior seek point; leading gaps use
    the reference's first voff), and the trailing no-coordinate count."""
    with open(path, "wb") as f:
        f.write(b"BAI\x01")
        f.write(struct.pack("<i", n_ref))
        for rid in range(n_ref):
            r = merged["refs"].get(rid)
            if r is None or (r["n_mapped"] + r["n_unmapped"]) == 0:
                f.write(struct.pack("<ii", 0, 0))
                continue
            bins = r["bins"]
            f.write(struct.pack("<i", len(bins) + 1))
            for b in sorted(bins):
                ch = bins[b]
                f.write(struct.pack("<Ii", b, len(ch) // 2))
                f.write(struct.pack(f"<{len(ch)}Q", *ch))
            # pseudo-bin 37450: voff span + mapped/unmapped counts
            f.write(struct.pack("<Ii", 37450, 2))
            f.write(
                struct.pack(
                    "<4Q",
                    r["voff_span"][0] or 0,
                    r["voff_span"][1],
                    r["n_mapped"],
                    r["n_unmapped"],
                )
            )
            lin = r["linear"]
            n_intv = (max(lin) + 1) if lin else 0
            arr = []
            prev = None
            for w in range(n_intv):
                if w in lin:
                    if prev is None:
                        # backfill leading gap so any seek lands at-or-before
                        arr = [lin[w]] * len(arr)
                    prev = lin[w]
                arr.append(prev if prev is not None else 0)
            f.write(struct.pack("<i", n_intv))
            if n_intv:
                f.write(struct.pack(f"<{n_intv}Q", *arr))
        f.write(struct.pack("<Q", merged["n_no_coor"]))


def read_bai(path: str) -> tuple[list[list[int]], int | None]:
    """(linear, n_no_coor) from a BAI index: the per-reference linear index
    (virtual offset of the first read overlapping each 16 kb window, 0 where
    absent) and the optional trailing count of placement-less records (None
    when the writer omitted the field)."""
    with open(path, "rb") as f:
        if f.read(4) != b"BAI\x01":
            raise ValueError("not a BAI index (bad magic)")
        (n_ref,) = struct.unpack("<i", f.read(4))
        linear: list[list[int]] = []
        for _ in range(n_ref):
            (n_bin,) = struct.unpack("<i", f.read(4))
            for _ in range(n_bin):
                _bin_id, n_chunk = struct.unpack("<Ii", f.read(8))
                f.seek(16 * n_chunk, os.SEEK_CUR)
            (n_intv,) = struct.unpack("<i", f.read(4))
            linear.append(list(struct.unpack(f"<{n_intv}Q", f.read(8 * n_intv))))
        tail = f.read(8)
        n_no_coor = struct.unpack("<Q", tail)[0] if len(tail) == 8 else None
        return linear, n_no_coor


def read_bai_linear(path: str) -> list[list[int]]:
    """Per-reference linear index (see read_bai)."""
    return read_bai(path)[0]


def plan_spans(
    refs: list[tuple[str, int]],
    linear: list[list[int]],
    chunk_bases: int,
) -> list[tuple[int, int, int, int]]:
    """(ref_id, start0, end0, voffset) chunk spans from the linear index:
    chunks with no indexed data are skipped, every other chunk starts its
    scan at the first nonzero window offset at/after its first window."""
    spans = []
    for rid, (_name, rlen) in enumerate(refs):
        intv = linear[rid] if rid < len(linear) else []
        if not intv:
            continue  # no reads mapped to this reference
        for s in range(0, rlen, chunk_bases):
            e = min(s + chunk_bases, rlen)
            w = s // LINEAR_WINDOW
            voff = 0
            for idx in range(min(w, len(intv)), len(intv)):
                if intv[idx]:
                    voff = intv[idx]
                    break
            if voff == 0:
                continue  # no data at/after this chunk
            spans.append((rid, s, e, voff))
    return spans
