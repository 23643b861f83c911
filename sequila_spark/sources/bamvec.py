"""Vectorized BAM record decode — NumPy batch parse -> Arrow RecordBatches.

This is the one BAM decoder of the product.  ``bamcodec.parse_records``
(one record per Python iteration: struct unpack + per-field string
assembly, ~18k reads/s/core end-to-end on a real 1 GB BAM set, ~21x off
the reference's htsjdk path, BASELINE.md benchmarking.rst:535) stays in
``bamcodec`` only as the scalar reference the tests compare against.
This module removes both Python-per-record costs:

 - the fixed 32-byte record headers of a whole decompressed batch are
   parsed in ONE NumPy structured-dtype view (no per-record ``struct``),
 - the variable sections (qname / cigar / seq / qual) are gathered with
   ragged index arithmetic and decoded with whole-batch table lookups
   (seq nibbles, phred+33) and a vectorized uint->decimal digit writer
   (cigar), then handed to Arrow as offsets+values buffers — zero
   per-record Python string objects,
 - batches flow to the JVM through ``mapInArrow`` (columnar Arrow IPC)
   instead of pickled Row tuples.

Both consumers — the row decoder (``iter_span_batches``) and the fused
coverage-events decoder (``iter_span_cov_events``) — sit on one
record-framing loop, ``_span_records``: it streams a span, carries a split
record over to the next batch, scans record offsets, views the headers,
applies the owner-by-start region cut and checks every record's field
extents.  A span whose stream ends inside a record raises ``ValueError``
naming the file and the span instead of returning fewer rows.

Only the optional-tag decode (``with_tags=True``) stays per-record: tag
streams are variable-typed (hts-specs SAM v1.6 §4.2.4) and reuse
``bamcodec._decode_tags``.

Parity with ``parse_records`` is pinned by ``tests/test_bam_vec.py``
(record-for-record equality on generated BAMs and, where present, the
reference's own fixtures) and by the unchanged samtools byte-exact pileup
golden.
"""

from __future__ import annotations

import struct
from typing import NamedTuple

import numpy as np
import pyarrow as pa

from sequila_spark.sources import _ckern as CK
from sequila_spark.sources import bamcodec as B

# fixed BAM record layout: 4-byte block_size + 32-byte fixed header
_HDR_DT = np.dtype(
    [
        ("bs", "<i4"),
        ("rid", "<i4"),
        ("pos", "<i4"),
        ("l_qname", "u1"),
        ("mapq", "u1"),
        ("bin", "<u2"),
        ("n_cigar", "<u2"),
        ("flag", "<u2"),
        ("l_seq", "<i4"),
        ("next_rid", "<i4"),
        ("next_pos", "<i4"),
        ("tlen", "<i4"),
    ]
)
assert _HDR_DT.itemsize == 36

_SEQ_LUT = np.frombuffer(B.SEQ_CODES.encode(), dtype=np.uint8)  # 4-bit code -> base
_CIGAR_LUT = np.frombuffer((B.CIGAR_OPS + "???????").encode(), dtype=np.uint8)
# ops consuming reference: M D N = X  (codes 0 2 3 7 8)
_REF_CONSUME = np.zeros(16, dtype=np.int64)
for _i, _c in enumerate(B.CIGAR_OPS):
    if _c in "MDN=X":
        _REF_CONSUME[_i] = 1

_EMPTY_U8 = np.empty(0, dtype=np.uint8)

# shared iota buffer: _ragged_take slices views off it instead of paying an
# arange allocation per call (sized to the decode batch; grown on demand)
# grown on demand by _iota (starting empty: an eager 128 MiB arange here
# would cost every importing Python worker that much RSS before it
# decodes a single record)
_IOTA = np.empty(0, dtype=np.int64)


def _iota(total: int) -> np.ndarray:
    global _IOTA
    if total > len(_IOTA):
        _IOTA = np.arange(max(total, 2 * len(_IOTA), 1 << 20), dtype=np.int64)
    return _IOTA[:total]


def _ragged_take(u8: np.ndarray, starts: np.ndarray, lens: np.ndarray):
    """Gather ``u8[starts[i] : starts[i]+lens[i]]`` for all i into one flat
    array; returns (values, cum) where cum is the per-record offset vector
    (len+1).  Uses the C gather kernel when available (one memcpy pass);
    otherwise the classic repeat/arange ragged-range construction — one
    fancy-index C pass, no per-record Python."""
    n = len(starts)
    cum = np.zeros(n + 1, dtype=np.int64)
    if n:
        np.cumsum(lens, out=cum[1:])
    total = int(cum[-1])
    if total == 0:
        return _EMPTY_U8, cum
    out = CK.take_ragged(u8, starts, lens, cum)
    if out is not None:
        return out, cum
    idx = np.repeat(starts - cum[:-1], lens)
    idx += _iota(total)
    return u8[idx], cum


def _utf8_array(
    values: np.ndarray, cum: np.ndarray, valid: np.ndarray | None = None
) -> pa.Array:
    """Arrow utf8 array straight from a flat values buffer + int64 offsets
    (converted to Arrow's int32), optional validity mask."""
    n = len(cum) - 1
    if len(cum) and int(cum[-1]) >= 1 << 31:
        # Arrow utf8 offsets are int32; a silent wrap here would ship
        # corrupt string buffers into the JVM.  Reachable only with a
        # caller-raised batch_bytes (>~1 GiB decompressed; seq expands 2x).
        raise ValueError(
            f"utf8 values buffer {int(cum[-1])} bytes exceeds Arrow's "
            "int32 offset range — lower batch_bytes"
        )
    offsets = cum.astype(np.int32)
    validity = None
    null_count = 0
    if valid is not None and not valid.all():
        validity = pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())
        null_count = int(n - valid.sum())
    return pa.Array.from_buffers(
        pa.utf8(),
        n,
        [validity, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(values))],
        null_count,
    )


def _segment_sums(contrib: np.ndarray, cum: np.ndarray) -> np.ndarray:
    """Per-record sums of ``contrib`` segmented by ``cum`` (len n+1) —
    cumsum-difference form (safe for empty segments, unlike reduceat)."""
    c = np.zeros(len(contrib) + 1, dtype=np.int64)
    if len(contrib):
        np.cumsum(contrib, out=c[1:])
    return c[cum[1:]] - c[cum[:-1]]


def _cigar_column(
    cig_u32: np.ndarray, op_cum: np.ndarray
) -> tuple[pa.Array, np.ndarray]:
    """(cigar utf8 array, per-record reference-consumed length).

    Decimal rendering is vectorized: per-op digit counts, then one scatter
    per digit position (<=10 passes over shrinking masks) into a flat byte
    buffer, op letters via table lookup.  Empty cigars render as '*'
    (SAM's missing-cigar value)."""
    nums = (cig_u32 >> 4).astype(np.int64)
    ops = (cig_u32 & 0xF).astype(np.int64)
    ref_len = _segment_sums(nums * _REF_CONSUME[ops], op_cum)

    n_ops = len(nums)
    if n_ops == 0:
        n = len(op_cum) - 1
        star = np.full(n, ord("*"), dtype=np.uint8)
        return _utf8_array(star, np.arange(n + 1, dtype=np.int64)), ref_len

    ndig = np.ones(n_ops, dtype=np.int64)
    p = 10
    while p <= 10**9:
        m = nums >= p
        if not m.any():
            break
        ndig += m
        p *= 10
    toklen = ndig + 1
    tok_end = np.cumsum(toklen)
    out = np.empty(int(tok_end[-1]), dtype=np.uint8)
    out[tok_end - 1] = _CIGAR_LUT[ops]
    rem = nums.copy()
    k = 0
    active = np.ones(n_ops, dtype=bool)
    while True:
        pos = tok_end[active] - 2 - k
        out[pos] = 48 + (rem[active] % 10)
        k += 1
        nxt = ndig > k
        if not nxt.any():
            break
        rem //= 10
        active = nxt
    rec_cum = np.concatenate(([0], tok_end))[op_cum]

    # records with zero ops -> '*': splice single-byte tokens in.  ``out``
    # is already the gap-free concatenation of per-record cigar bytes, so
    # each byte moves by its record's cumulative-offset shift.
    zero = op_cum[1:] == op_cum[:-1]
    if zero.any():
        n = len(op_cum) - 1
        lens = rec_cum[1:] - rec_cum[:-1]
        new_cum = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(np.where(zero, 1, lens), out=new_cum[1:])
        new_out = np.empty(int(new_cum[-1]), dtype=np.uint8)
        shift = np.repeat(new_cum[:-1] - rec_cum[:-1], lens)
        new_out[np.arange(len(out), dtype=np.int64) + shift] = out
        new_out[new_cum[:-1][zero]] = ord("*")
        return _utf8_array(new_out, new_cum), ref_len
    return _utf8_array(out, rec_cum), ref_len


def _blocks_raw(
    cig_u32: np.ndarray, op_cum: np.ndarray, pos0: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized aligned-block extraction: (bs, be, rec_of_block) —
    1-based inclusive reference intervals of every record's M/=/X ops (the
    reference's Read.getAlignmentBlocks, pileup/model/Read.scala:27-54),
    over the whole batch at once."""
    nums = (cig_u32 >> 4).astype(np.int64)
    ops = cig_u32 & 0xF
    ref_adv = nums * _REF_CONSUME[ops]
    # per-op exclusive within-record offset from the record's pos0
    cum = np.cumsum(ref_adv)
    excl = cum - ref_adv
    n = len(op_cum) - 1
    op_counts = op_cum[1:] - op_cum[:-1]
    exclp = np.concatenate((excl, [0]))
    base = np.repeat(exclp[op_cum[:-1]], op_counts)
    rec_pos0 = np.repeat(pos0, op_counts)
    rec_of_op = np.repeat(np.arange(n, dtype=np.int64), op_counts)
    emit = (ops == 0) | (ops == 7) | (ops == 8)  # M, =, X
    bs = (rec_pos0 + (excl - base) + 1)[emit]
    be = (rec_pos0 + (excl - base) + nums)[emit]
    return bs, be, rec_of_op[emit]


_CIGAR_TEXT_CODE = np.full(256, -1, dtype=np.int64)
for _c, _v in zip(b"MIDNSHP=X", range(9)):
    _CIGAR_TEXT_CODE[_c] = _v


def cigar_text_to_ops(
    buf: np.ndarray, co: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized TEXT-cigar parse: (concatenated cigar text as uint8,
    per-record offsets len n+1) -> (cig_u32 in the BAM op encoding
    ``len<<4|code``, op_cum) ready for :func:`_blocks_raw`.  Used by the
    fused CRAM coverage reader, whose C feature walk renders cigars as
    one text buffer + offsets.  '*' (unmapped) records contribute zero
    ops; an unknown op letter raises ValueError."""
    n = len(co) - 1
    if buf.size == 0:
        return np.zeros(0, dtype="<u4"), np.zeros(n + 1, dtype=np.int64)
    is_op = (buf < 48) | (buf > 57)
    op_pos = np.flatnonzero(is_op)
    rec_of_op = np.searchsorted(co, op_pos, side="right") - 1
    prev = np.empty(len(op_pos), dtype=np.int64)
    if len(op_pos):
        prev[0] = -1
        prev[1:] = op_pos[:-1]
    num_start = np.maximum(prev + 1, co[rec_of_op])
    num_len = op_pos - num_start
    valid = num_len > 0  # '*' has an op char but no count
    op_pos = op_pos[valid]
    rec_of_op = rec_of_op[valid]
    num_start = num_start[valid]
    num_len = num_len[valid]
    code = _CIGAR_TEXT_CODE[buf[op_pos]]
    if len(code) and int(code.min()) < 0:
        raise ValueError("invalid CIGAR op letter in decoded text")
    val = np.zeros(len(op_pos), dtype=np.int64)
    for d in range(int(num_len.max()) if len(num_len) else 0):
        have = num_len > d
        val[have] = val[have] * 10 + (
            buf[num_start[have] + d].astype(np.int64) - 48
        )
    cig_u32 = ((val << 4) | code).astype("<u4")
    op_cum = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(rec_of_op, minlength=n), out=op_cum[1:])
    return cig_u32, op_cum


# canonical column order; 'want' prunes the expensive renders
_ALL_COLS = (
    "sample_id", "qname", "flag", "contig", "pos_start", "pos_end",
    "mapq", "cigar", "rnext", "pnext", "tlen", "seq", "qual", "tags",
)


class _Records(NamedTuple):
    """One batch of complete records a span owns, after the region cut and
    the field-extent check: the decompressed bytes, the header view and
    each record's field extents (byte offsets into ``data``), and the
    file and span they came from, for error messages."""

    path: str
    span: object
    data: bytes
    u8: np.ndarray
    h: np.ndarray  # _HDR_DT view, one row per record
    offs: np.ndarray  # offset of each record's block_size field
    rid: np.ndarray
    pos0: np.ndarray
    l_qname: np.ndarray
    n_cigar: np.ndarray
    l_seq: np.ndarray
    cg_off: np.ndarray  # first cigar op
    tg_off: np.ndarray  # first tag byte
    rec_end: np.ndarray


def _decode_batch(
    recs: _Records,
    ref_take: pa.Array,
    nref: int,
    sample: str,
    *,
    with_tags: bool,
    with_ordinal: bool,
    ord_base: int,
    want: frozenset | None = None,
) -> pa.RecordBatch:
    """Decode one batch of records into an Arrow RecordBatch, columns in
    canonical read_bam_native order, pruned to ``want``."""
    data, u8, h, rid, pos0 = recs.data, recs.u8, recs.h, recs.rid, recs.pos0
    l_qname, n_cigar, l_seq = recs.l_qname, recs.n_cigar, recs.l_seq
    n = len(h)
    if want is None:
        want = frozenset(_ALL_COLS)

    qn_off = recs.offs + 36
    cg_off = recs.cg_off
    cg_bytes = 4 * n_cigar
    sq_off = cg_off + cg_bytes
    sq_bytes = (l_seq + 1) // 2
    ql_off = sq_off + sq_bytes
    tg_off, rec_end = recs.tg_off, recs.rec_end

    out: dict[str, pa.Array] = {}

    if "qname" in want:
        # qname (ASCII per spec; non-ASCII falls back to the scalar renderer)
        qn_vals, qn_cum = _ragged_take(u8, qn_off, l_qname - 1)
        if len(qn_vals) and qn_vals.max() >= 128:
            out["qname"] = pa.array(
                [
                    bytes(data[qn_off[i] : qn_off[i] + l_qname[i] - 1]).decode(
                        "ascii", "replace"
                    )
                    for i in range(n)
                ]
            )
        else:
            out["qname"] = _utf8_array(qn_vals, qn_cum)

    # cigar ops drive pos_end too
    if not want.isdisjoint(("cigar", "pos_end")):
        cg_vals, cg_cum = _ragged_take(u8, cg_off, cg_bytes)
        cig_u32 = np.ascontiguousarray(cg_vals).view("<u4")
        op_cum = cg_cum // 4
        if "cigar" in want:
            out["cigar"], ref_len = _cigar_column(cig_u32, op_cum)
        else:
            ref_len = _segment_sums(
                (cig_u32 >> 4).astype(np.int64) * _REF_CONSUME[cig_u32 & 0xF], op_cum
            )

    if "seq" in want:
        # unpack nibbles over the whole batch, then compact away the pad
        # nibble of odd-length reads (identity skip when every length is even)
        sq_vals, sq_cum = _ragged_take(u8, sq_off, sq_bytes)
        expanded = np.empty(len(sq_vals) * 2, dtype=np.uint8)
        expanded[0::2] = _SEQ_LUT[sq_vals >> 4]
        expanded[1::2] = _SEQ_LUT[sq_vals & 0xF]
        if (l_seq & 1).any():
            seq_vals, seq_cum = _ragged_take(expanded, 2 * sq_cum[:-1], l_seq)
        else:
            seq_vals, seq_cum = expanded, 2 * sq_cum
        out["seq"] = _utf8_array(seq_vals, seq_cum, valid=l_seq > 0)

    if "qual" in want:
        # +33 rendering; all-0xFF (absent) or empty -> null.  The absent
        # check only pays the per-record segment count when 0xFF appears.
        ql_vals, ql_cum = _ragged_take(u8, ql_off, l_seq)
        is_ff = ql_vals == 0xFF
        if is_ff.any():
            ff_per_rec = _segment_sums(is_ff.astype(np.int64), ql_cum)
            q_valid = (l_seq > 0) & (ff_per_rec < l_seq)
        else:
            q_valid = l_seq > 0
        rendered = ql_vals + np.uint8(33)  # wraps mod 256 like _QUAL33
        if len(rendered) and int(rendered.max()) >= 0x80:
            # a rendered byte >= 0x80 is a latin-1 code point that needs
            # TWO UTF-8 bytes — fall back to the scalar renderer for the
            # whole batch (rare: phred > 93) instead of shipping invalid
            # utf8 buffers into the JVM
            from sequila_spark.sources.bamcodec import _QUAL33

            out["qual"] = pa.array(
                [
                    bytes(u8[ql_off[i] : ql_off[i] + l_seq[i]])
                    .translate(_QUAL33)
                    .decode("latin-1")
                    if q_valid[i]
                    else None
                    for i in range(n)
                ],
                type=pa.utf8(),
            )
        else:
            out["qual"] = _utf8_array(rendered, ql_cum, valid=q_valid)

    # contig / rnext via dictionary take (sentinel index -> null)
    if "contig" in want:
        contig_idx = np.where((rid >= 0) & (rid < nref), rid, nref).astype(np.int32)
        out["contig"] = ref_take.take(pa.array(contig_idx))
    if "rnext" in want:
        next_rid = h["next_rid"].astype(np.int64)
        rnext_idx = np.where(
            (next_rid >= 0) & (next_rid < nref), next_rid, nref
        ).astype(np.int32)
        out["rnext"] = ref_take.take(pa.array(rnext_idx))

    if "pos_start" in want:
        out["pos_start"] = pa.array(np.where(pos0 >= 0, pos0 + 1, 0).astype(np.int32))
    if "pos_end" in want:
        out["pos_end"] = pa.array(
            np.where((pos0 >= 0) & (ref_len > 0), pos0 + ref_len, 0).astype(np.int32)
        )
    if "pnext" in want:
        next_pos = h["next_pos"].astype(np.int64)
        out["pnext"] = pa.array(np.where(next_pos >= 0, next_pos + 1, 0).astype(np.int32))
    if "flag" in want:
        out["flag"] = pa.array(h["flag"].astype(np.int32))
    if "mapq" in want:
        out["mapq"] = pa.array(h["mapq"].astype(np.int32))
    if "tlen" in want:
        out["tlen"] = pa.array(h["tlen"].astype(np.int32))

    if "tags" in want:
        if with_tags:
            dec = B._decode_tags
            tags = []
            for i in range(n):
                try:
                    tags.append(dec(data[tg_off[i] : rec_end[i]]))
                except ValueError as exc:
                    raise ValueError(
                        f"corrupt BAM tags at offset {int(recs.offs[i])} of "
                        f"span {recs.span} in {recs.path}: {exc}"
                    ) from None
            out["tags"] = pa.array(tags, type=pa.map_(pa.string(), pa.string()))
        else:
            out["tags"] = pa.MapArray.from_arrays(
                np.zeros(n + 1, dtype=np.int32),
                pa.array([], type=pa.string()),
                pa.array([], type=pa.string()),
            )

    if "sample_id" in want:
        sb = sample.encode()
        out["sample_id"] = _utf8_array(
            np.frombuffer(sb * n, dtype=np.uint8),
            np.arange(n + 1, dtype=np.int64) * len(sb),
        )

    cols = [out[c] for c in _ALL_COLS if c in want]
    names = [c for c in _ALL_COLS if c in want]
    if with_ordinal:
        cols.append(pa.array(ord_base + np.arange(n, dtype=np.int64)))
        names.append("__ord")
    return pa.RecordBatch.from_arrays(cols, names)


def _open_span(fh, span):
    """Position a BgzfReader on one decode span; returns (stream, region,
    unmapped_only) — the span model shared by read_bam_native/plan_spans:
    ``None`` = whole file, ``('__unmapped__', voff)`` = trailing
    no-coordinate region, ``(rid, start0, end0, voff)`` = genomic chunk."""
    region = None
    unmapped_only = False
    if span is None:
        st = B.BgzfReader(fh)
        B.read_bam_header(st)
    elif span[0] == "__unmapped__":
        voff = span[1]
        if voff:
            st = B.BgzfReader(fh, voff)
        else:
            st = B.BgzfReader(fh)
            B.read_bam_header(st)
        unmapped_only = True
    else:
        rid0, s0, e0, voff = span
        st = B.BgzfReader(fh, voff)
        region = (rid0, s0, e0)
    return st, region, unmapped_only


_I4 = struct.Struct("<i").unpack_from


def _scan_offsets(data: bytes) -> tuple[np.ndarray, int]:
    """(offsets of the complete records in ``data``, where the partial
    record after them starts), by the C kernel or, when it did not build,
    this loop.  A block_size below the 32-byte fixed section raises: <= -4
    would stall the scan on one offset, and anything below 32 would view
    garbage as a header."""
    found = CK.scan_offsets(np.frombuffer(data, dtype=np.uint8), len(data))
    if found is not None:
        return found
    total = len(data)
    offs = []
    off = 0
    while off + 4 <= total:
        (bs,) = _I4(data, off)
        if bs < 32:
            raise ValueError(
                f"corrupt BAM record: block_size at offset {off} below the "
                "32-byte fixed section"
            )
        end = off + 4 + bs
        if end > total:
            break
        offs.append(off)
        off = end
    return np.asarray(offs, dtype=np.int64), off


def _span_records(path: str, span, batch_bytes: int):
    """The one record-framing loop of both span decoders: yield a _Records
    for each ~``batch_bytes`` of decompressed stream that holds records the
    span owns.

    A record split across the batch boundary carries over to the next
    batch.  A region span keeps records by owner-by-start and stops at the
    first record past its region (coordinate-sorted input); the unmapped
    span keeps ref_id < 0 records.  Every kept record's field extents are
    checked here, before any consumer gathers: the offset scan only checks
    block_size, and corrupt inner fields (l_qname 0, negative l_seq,
    n_cigar/l_seq overstating the record) would drive the C memcpy gather
    out of bounds.  A stream that ends inside a record raises; so does
    one that ends without the BGZF EOF marker (BgzfReader)."""
    with open(path, "rb") as fh:
        st, region, unmapped_only = _open_span(fh, span)
        carry = b""
        while True:
            chunk = st.read(batch_bytes)
            data = carry + chunk if carry else chunk
            if not data:
                return
            try:
                offs, end = _scan_offsets(data)
            except ValueError as exc:
                raise ValueError(f"{exc} (file {path})") from None
            carry = data[end:]
            # a short read is the end of the data: checked for a cut
            # record here, the next read checks the BGZF EOF marker
            if carry and len(chunk) < batch_bytes:
                raise ValueError(
                    f"truncated BAM {path}: span {span} ends inside a "
                    f"record ({len(carry)} bytes left over)"
                )
            if not len(offs):
                continue
            u8 = np.frombuffer(data, dtype=np.uint8)
            h = u8[offs[:, None] + np.arange(36)].view(_HDR_DT).ravel()
            rid = h["rid"].astype(np.int64)
            pos0 = h["pos"].astype(np.int64)

            finished = False
            keep = None
            if region is not None:
                ref_id, start0, end0 = region
                past = (rid > ref_id) | (rid < 0)
                if end0 is not None:
                    past |= (rid == ref_id) & (pos0 >= end0)
                if past.any():
                    cut = int(np.argmax(past))
                    finished = True
                    h, offs, rid, pos0 = h[:cut], offs[:cut], rid[:cut], pos0[:cut]
                keep = (rid == ref_id) & (pos0 >= start0)
            elif unmapped_only:
                keep = rid < 0
            if keep is not None and not keep.all():
                h, offs, rid, pos0 = h[keep], offs[keep], rid[keep], pos0[keep]

            if len(h):
                l_qname = h["l_qname"].astype(np.int64)
                n_cigar = h["n_cigar"].astype(np.int64)
                l_seq = h["l_seq"].astype(np.int64)
                cg_off = offs + 36 + l_qname
                tg_off = cg_off + 4 * n_cigar + (l_seq + 1) // 2 + l_seq
                rec_end = offs + 4 + h["bs"].astype(np.int64)
                bad = (l_qname < 1) | (l_seq < 0) | (tg_off > rec_end)
                if bad.any():
                    j = int(np.argmax(bad))
                    raise ValueError(
                        f"corrupt BAM record fields at offset {int(offs[j])} "
                        f"of span {span} in {path}: l_qname={int(l_qname[j])} "
                        f"n_cigar={int(n_cigar[j])} l_seq={int(l_seq[j])} "
                        "exceed block_size"
                    )
                yield _Records(
                    path, span, data, u8, h, offs, rid, pos0, l_qname, n_cigar, l_seq,
                    cg_off, tg_off, rec_end,
                )
            if finished:
                return


def iter_span_batches(
    path: str,
    refs: list[tuple[str, int]],
    sample: str,
    span,
    *,
    span_idx: int = 0,
    with_tags: bool = True,
    with_ordinal: bool = False,
    columns: list[str] | None = None,
    batch_bytes: int = 8 << 20,
):
    """Yield Arrow RecordBatches for one decode span (same span model as
    read_bam_native / bamcodec.plan_spans): ``None`` = whole file,
    ``('__unmapped__', voff)`` = trailing no-coordinate region,
    ``(rid, start0, end0, voff)`` = owner-by-start genomic chunk.

    Streams ~``batch_bytes`` of decompressed records per batch through
    _span_records.

    ``columns`` prunes the decode itself (htsjdk-style lazy fields: a
    skipped column's bytes are never rendered)."""
    names = [nm for nm, _ in refs]
    ref_take = pa.array(names + [None], type=pa.string())
    nref = len(names)
    want = frozenset(columns) if columns is not None else None
    n_out = 0
    for recs in _span_records(path, span, batch_bytes):
        batch = _decode_batch(
            recs,
            ref_take,
            nref,
            sample,
            with_tags=with_tags,
            with_ordinal=with_ordinal,
            ord_base=(span_idx << 32) | n_out,
            want=want,
        )
        n_out += batch.num_rows
        yield batch


def iter_span_cov_events(
    path: str,
    refs: list[tuple[str, int]],
    span,
    *,
    chunk_size: int,
    flag_mask: int = 0,
    min_mapq: int = 0,
    batch_bytes: int = 8 << 20,
):
    """Fused decode -> CLIPPED coverage events, aggregated per batch.

    For depth-of-coverage the per-read columns never need to leave the
    decode task: this generator frames the same span stream as
    iter_span_batches (_span_records), extracts the M/=/X aligned blocks
    vectorized (_blocks_raw), CLIPS them at ``chunk_size`` boundaries (the
    self-contained-chunk contract of operators/coverage), and aggregates
    the +-1 deltas per (ref, chunk, pos) with one radix-style composite
    sort per batch.  What crosses the Arrow boundary is the batch's
    distinct-position delta rows — on deep data an order of magnitude
    fewer rows than the 2-events-per-block explode the SQL path shuffles,
    and zero string rendering.  The reference fuses coverage into its
    decode partitions the same way (pileup/PileupStrategy.scala); here the
    fusion is an opt-in reader mode and the declarative coverage()
    operator remains for any alignment-shaped relation.

    Emits RecordBatches (contig utf8, chunk int64, pos int32, delta int32);
    operators.coverage.coverage_from_events completes the global
    aggregation (same chunk_size required).  ``flag_mask``/``min_mapq``
    apply filter_reads' predicates at decode time.  Unmapped records
    carry no cigar ops, so they contribute nothing — as in the
    declarative coverage() over the same reads' cigar column."""
    if chunk_size < 32 or (1 << 31) // chunk_size + 1 >= (1 << 62) // (
        chunk_size + 2
    ):
        raise ValueError(f"chunk_size {chunk_size} out of range")
    if span is not None and span[0] == "__unmapped__":
        return  # unmapped records have no aligned blocks
    names = [nm for nm, _ in refs]
    ref_take = pa.array(names, type=pa.string())
    k2 = chunk_size + 2  # local position in [1, chunk_size+1]
    k1 = ((1 << 31) // chunk_size + 2) * k2
    for recs in _span_records(path, span, batch_bytes):
        keep = recs.rid >= 0
        if flag_mask:
            keep &= (recs.h["flag"].astype(np.int64) & flag_mask) == 0
        if min_mapq:
            keep &= recs.h["mapq"].astype(np.int64) >= min_mapq
        if keep.any():
            batch = _cov_event_batch(recs, keep, ref_take, chunk_size, k1, k2)
            if batch is not None:
                yield batch


def _cov_event_batch(
    recs: _Records, keep: np.ndarray, ref_take, chunk_size, k1, k2
) -> pa.RecordBatch | None:
    """One batch's aggregated clipped coverage events from its ``keep``
    records (see iter_span_cov_events)."""
    cg_off, n_cigar, rid, pos0 = recs.cg_off, recs.n_cigar, recs.rid, recs.pos0
    if not keep.all():
        cg_off, n_cigar, rid, pos0 = cg_off[keep], n_cigar[keep], rid[keep], pos0[keep]
    cg_vals, cg_cum = _ragged_take(recs.u8, cg_off, 4 * n_cigar)
    cig_u32 = np.ascontiguousarray(cg_vals).view("<u4")
    bs, be, rec_of = _blocks_raw(cig_u32, cg_cum // 4, pos0)
    if not len(bs):
        return None
    return events_from_blocks(
        bs, be, rid[rec_of], ref_take, chunk_size, k1, k2
    )


def events_from_blocks(
    bs, be, rid_b, ref_take, chunk_size, k1, k2
) -> pa.RecordBatch | None:
    """Aggregated clipped coverage events from aligned M/=/X blocks —
    shared by the BAM (_cov_event_batch) and CRAM
    (bam.read_cram_coverage_events) fused readers.  ``bs``/``be`` are
    1-based inclusive block spans, ``rid_b`` the per-block reference id
    into ``ref_take``; k1/k2 are iter_span_cov_events' composite-key
    strides for the sparse-sort path."""
    # clip blocks at chunk boundaries (same arithmetic as coverage())
    c_lo = (bs - 1) // chunk_size
    c_hi = (be - 1) // chunk_size
    k = c_hi - c_lo + 1
    ntot = int(k.sum())
    kcum = np.zeros(len(k) + 1, dtype=np.int64)
    np.cumsum(k, out=kcum[1:])
    bidx = np.repeat(np.arange(len(bs), dtype=np.int64), k)
    chunk = c_lo[bidx] + (_iota(ntot) - np.repeat(kcum[:-1], k))
    cbs = np.maximum(bs[bidx], chunk * chunk_size + 1)
    cbe = np.minimum(be[bidx], (chunk + 1) * chunk_size)
    r = rid_b[bidx]

    # Dense fast path (a coordinate-sorted span batch covers a compact
    # region): per-rid position bincounts — O(range) instead of an
    # O(n log n) composite-key sort.  A clipped block's events key to ITS
    # chunk: starts always satisfy chunk == (pos-1)//cs; end events at a
    # chunk's last position + 1 spill numerically into the NEXT chunk's
    # range, so they get their own (tiny) bincount pair keyed one chunk
    # left.  Sparse batches (range >> events) fall back to the sort.
    lo = int(cbs.min())
    hi = int(cbe.max()) + 1
    rng = hi - lo + 1
    if rng <= 4 * ntot + (1 << 16) and len(np.unique(rid_b)) == 1:
        the_rid = int(rid_b[0])
        ends = cbe + 1
        at_boundary = ends == (chunk + 1) * chunk_size + 1
        net = (
            np.bincount(cbs - lo, minlength=rng)
            - np.bincount(ends[~at_boundary] - lo, minlength=rng)
        )
        bpos = ends[at_boundary] - lo
        bnet = -np.bincount(bpos, minlength=rng) if len(bpos) else None
        nz = np.flatnonzero(net)
        out_pos = nz + lo
        out_chunk = (out_pos - 1) // chunk_size
        sums = net[nz]
        if bnet is not None:
            bnz = np.flatnonzero(bnet)
            out_pos = np.concatenate((out_pos, bnz + lo))
            out_chunk = np.concatenate(
                (out_chunk, (bnz + lo - 1) // chunk_size - 1)
            )
            sums = np.concatenate((sums, bnet[bnz]))
        if not len(out_pos):
            return None
        out_rid = np.full(len(out_pos), the_rid, dtype=np.int64)
    else:
        base = r * k1 + chunk * k2
        keys = np.concatenate((base + (cbs - chunk * chunk_size),
                               base + (cbe + 1 - chunk * chunk_size)))
        deltas = np.concatenate(
            (np.ones(ntot, dtype=np.int64), -np.ones(ntot, dtype=np.int64))
        )
        order = np.argsort(keys, kind="stable")
        sk = keys[order]
        sd = deltas[order]
        bounds = np.flatnonzero(np.concatenate(([True], sk[1:] != sk[:-1])))
        sums = np.add.reduceat(sd, bounds)
        uk = sk[bounds]
        keep = sums != 0
        uk, sums = uk[keep], sums[keep]
        if not len(uk):
            return None
        out_rid = uk // k1
        rem = uk - out_rid * k1
        out_chunk = rem // k2
        out_pos = out_chunk * chunk_size + (rem - out_chunk * k2)
    return pa.RecordBatch.from_arrays(
        [
            ref_take.take(pa.array(out_rid.astype(np.int32))),
            pa.array(out_chunk),
            pa.array(out_pos.astype(np.int32)),
            pa.array(sums.astype(np.int32)),
        ],
        ["contig", "chunk", "pos", "delta"],
    )
