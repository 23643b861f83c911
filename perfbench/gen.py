"""Seeded inputs for the benchmark, built with NumPy alone.

Everything here is independent of ``sequila_spark``: the genome's reference
base is a closed-form function of (contig, position), the alignments are
generated as aligned blocks and rendered into CIGAR/seq/qual, and BAM/BAI
files are written and read back with ``zlib`` + ``struct`` only.  The program
under test therefore never decodes bytes its own encoder produced, and the
expected outputs in ``truth.py`` come from the same arrays, not from Spark.

The same seed always gives the same bytes (pinned by tests/test_perfbench.py).
"""

from __future__ import annotations

import os
import struct
import zlib
from dataclasses import dataclass

import numpy as np

# Contig names and lengths are fixed, so every seed does the same amount of
# work; only positions, shapes and bases move with the seed.
CONTIGS = [("1", 900_000), ("2", 750_000), ("3", 600_000),
           ("4", 450_000), ("5", 300_000), ("6", 200_000)]
BASES = np.frombuffer(b"ACGT", dtype=np.uint8)
# SAM 4-bit base codes for A, C, G, T
_NIBBLE = np.array([1, 2, 4, 8], dtype=np.uint8)
_CIGAR_OPS = "MIDNSHP=X"
N_LONG = 4  # long targets per featureCounts target set


# ---------------------------------------------------------------------------
# reference genome


def ref_codes(contig_num: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Reference base code (0..3 = A, C, G, T) at 1-based ``pos`` on the
    contig named ``str(contig_num)``.  Integer-only, so Spark evaluates the
    same values (``ref_base_col``)."""
    h = (pos.astype(np.int64) * 40503 + contig_num.astype(np.int64) * 9973 + 17) % 65521
    return ((h * 7919) % 65537 % 4).astype(np.uint8)


def ref_base_col(contig, pos):
    """Spark Column form of ``ref_codes`` — the ``ref`` function the pileup
    workload passes, ``(contig, pos) -> base``."""
    from pyspark.sql import functions as F

    h = (pos.cast("long") * 40503 + contig.cast("long") * 9973 + 17) % 65521
    idx = (h * 7919) % 65537 % 4
    return F.lit("ACGT").substr((idx + 1).cast("int"), F.lit(1))


# ---------------------------------------------------------------------------
# alignments


@dataclass
class Reads:
    """Coordinate-sorted alignments of one sample.

    Read ``i`` has CIGAR ops ``cig_len[i, :n_ops[i]]``/``cig_op[i, :n_ops[i]]``
    (op codes index ``"MIDNSHP=X"``) and bases ``seq[off[i]:off[i + 1]]``.
    ``blk_*`` hold one row per aligned (M) block: read index, 1-based
    reference start, query offset and length — the ground truth coverage
    and pileup are checked against."""

    seed: int
    sample: str
    cid: np.ndarray  # contig index into CONTIGS
    pos: np.ndarray  # 1-based leftmost aligned position
    end: np.ndarray  # 1-based inclusive reference end
    flag: np.ndarray
    mapq: np.ndarray
    n_ops: np.ndarray
    cig_len: np.ndarray
    cig_op: np.ndarray
    seq: np.ndarray  # flat base codes 0..3
    qual: np.ndarray  # flat phred values
    off: np.ndarray
    blk_read: np.ndarray
    blk_pos: np.ndarray
    blk_q: np.ndarray
    blk_len: np.ndarray

    def __len__(self) -> int:
        return len(self.pos)

    def names(self) -> list[str]:
        return [f"{self.sample}_{self.seed}_{i}" for i in range(len(self))]

    def aligned_bases(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(contig index, 1-based position, base code) of every aligned base."""
        rep, within = _ragged(self.blk_len)
        r = self.blk_read[rep]
        return (self.cid[r], self.blk_pos[rep] + within,
                self.seq[self.off[r] + self.blk_q[rep] + within])


def _ragged(lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """For segments of ``lengths``: each element's segment index and its
    offset inside the segment."""
    seg = np.repeat(np.arange(len(lengths)), lengths)
    first = np.cumsum(lengths) - lengths
    return seg, np.arange(len(seg)) - first[seg]


def _starts(rng: np.random.Generator, n: int, hotspots: int, hot_share: float):
    """Contig index and 1-based start of ``n`` reads: uniform over the
    genome, except ``hot_share`` of them piled into ``hotspots`` 2 kb
    deep-coverage regions."""
    lengths = np.array([ln for _, ln in CONTIGS], dtype=np.int64)
    n_hot = int(n * hot_share)
    cid = rng.choice(len(CONTIGS), size=n, p=lengths / lengths.sum())
    pos = (rng.random(n) * (lengths[cid] - 3000)).astype(np.int64) + 1
    hot_c = rng.choice(len(CONTIGS), size=hotspots, p=lengths / lengths.sum())
    hot_p = (rng.random(hotspots) * (lengths[hot_c] - 6000)).astype(np.int64) + 1
    pick = rng.integers(0, hotspots, size=n_hot)
    cid[:n_hot] = hot_c[pick]
    pos[:n_hot] = hot_p[pick] + rng.integers(0, 2000, size=n_hot)
    return cid, pos


def make_reads(seed: int, n: int, sample: str = "S0") -> Reads:
    """``n`` coordinate-sorted short reads, 100-250 bp, with CIGAR shapes
    70% ``LM``, 10% soft-clipped, 10% one deletion, 10% one insertion,
    ~1% mismatching bases and five deep-coverage hotspots."""
    rng = np.random.default_rng(seed)
    cid, pos = _starts(rng, n, hotspots=5, hot_share=0.1)
    order = np.lexsort((pos, cid))
    cid, pos = cid[order], pos[order]
    L = rng.integers(100, 251, size=n)
    kind = rng.choice(4, size=n, p=[0.7, 0.1, 0.1, 0.1])
    clip = rng.integers(5, 21, size=n)
    clip_left = rng.random(n) < 0.5
    dlen = rng.integers(1, 21, size=n)
    ilen = rng.integers(1, 11, size=n)
    flag = rng.choice(np.array([0, 16, 1024, 16 | 1024]), size=n, p=[0.47, 0.47, 0.03, 0.03])
    mapq = rng.integers(0, 61, size=n)

    M, I, D, S = 0, 1, 2, 4
    half = L // 2
    k0, k1, k2, k3 = (kind == 0), (kind == 1), (kind == 2), (kind == 3)
    k1l, k1r = k1 & clip_left, k1 & ~clip_left
    n_ops = np.select([k0, k1, k2], [1, 2, 3], 3)
    cig_len = np.stack([
        np.select([k0, k1l, k1r], [L, clip, L - clip], half),
        np.select([k1l, k1r, k2], [L - clip, clip, dlen], np.where(k3, ilen, 0)),
        np.select([k2, k3], [L - half, L - half - ilen], 0),
    ], axis=1)
    cig_op = np.stack([
        np.where(k1l, S, M),
        np.select([k1l, k1r, k2, k3], [M, S, D, I], 0),
        np.full(n, M),
    ], axis=1)
    # aligned blocks: the first always exists, the second only for indels
    q1 = np.where(k1l, clip, 0)
    n1 = np.select([k0, k1], [L, L - clip], half)
    two = k2 | k3
    p2 = pos + half + np.where(k2, dlen, 0)
    q2 = half + np.where(k3, ilen, 0)
    n2 = np.where(k2, L - half, L - half - ilen)
    blk_read = np.concatenate([np.arange(n), np.nonzero(two)[0]])
    blk_pos = np.concatenate([pos, p2[two]])
    blk_q = np.concatenate([q1, q2[two]])
    blk_len = np.concatenate([n1, n2[two]])
    o = np.lexsort((blk_q, blk_read))
    blk_read, blk_pos, blk_q, blk_len = blk_read[o], blk_pos[o], blk_q[o], blk_len[o]
    end = np.where(two, p2 + n2, pos + n1) - 1

    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(L, out=off[1:])
    seq = rng.integers(0, 4, size=int(off[-1])).astype(np.uint8)  # clipped/inserted bases
    qual = rng.integers(2, 41, size=int(off[-1])).astype(np.uint8)
    # aligned bases carry the reference, except ~1% substituted by another base
    rep, within = _ragged(blk_len)
    r = blk_read[rep]
    ref = ref_codes(cid[r] + 1, blk_pos[rep] + within)
    mism = rng.random(len(rep)) < 0.01
    ref[mism] = (ref[mism] + rng.integers(1, 4, size=int(mism.sum()))) % 4
    seq[off[r] + blk_q[rep] + within] = ref
    return Reads(seed=seed, sample=sample, cid=cid, pos=pos, end=end, flag=flag, mapq=mapq,
                 n_ops=n_ops, cig_len=cig_len, cig_op=cig_op, seq=seq, qual=qual, off=off,
                 blk_read=blk_read, blk_pos=blk_pos, blk_q=blk_q, blk_len=blk_len)


def make_intervals(seed: int, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """featureCounts reads as bare intervals: (contig index, start, end),
    100-250 bp, 10% of them in five hotspots.  Unsorted."""
    rng = np.random.default_rng(seed)
    cid, pos = _starts(rng, n, hotspots=5, hot_share=0.1)
    end = pos + rng.integers(100, 251, size=n) - 1
    return cid, pos, end


def make_targets(seed: int, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exome-like targets: exons of 100-2000 bp clustered into genes
    (3-12 exons, 100-5000 bp introns), plus ``N_LONG`` gene-body intervals
    of 100-300 kb (at most half their contig) that exceed the range join's
    per-row bin cap."""
    rng = np.random.default_rng(seed + 7_777_777)
    lengths = np.array([ln for _, ln in CONTIGS], dtype=np.int64)
    cids, starts, ends = [], [], []
    total = 0
    while total < n - N_LONG:
        c = int(rng.choice(len(CONTIGS), p=lengths / lengths.sum()))
        p = int(rng.integers(1, lengths[c] - 150_000))
        for _ in range(int(rng.integers(3, 13))):
            if total >= n - N_LONG:
                break
            w = int(rng.integers(100, 2001))
            cids.append(c)
            starts.append(p)
            ends.append(p + w - 1)
            total += 1
            p += w + int(rng.integers(100, 5001))
    for _ in range(N_LONG):
        c = int(rng.choice(len(CONTIGS), p=lengths / lengths.sum()))
        w = int(rng.integers(100_000, min(300_000, lengths[c] // 2) + 1))
        p = int(rng.integers(1, lengths[c] - w))
        cids.append(c)
        starts.append(p)
        ends.append(p + w - 1)
    return np.array(cids), np.array(starts, dtype=np.int64), np.array(ends, dtype=np.int64)


def write_intervals_parquet(path: str, cid, start, end, ids=None, n_files: int = 1) -> None:
    """Intervals as ``n_files`` parquet files under directory ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    names = np.array([c for c, _ in CONTIGS], dtype=object)
    cols = {}
    if ids is not None:
        cols["target_id"] = pa.array(ids, pa.string())
    cols["contig"] = pa.array(names[cid], pa.string())
    cols["pos_start"] = pa.array(start, pa.int32())
    cols["pos_end"] = pa.array(end, pa.int32())
    table = pa.table(cols)
    step = -(-len(start) // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))


# ---------------------------------------------------------------------------
# BAM / BAI writer

_BLOCK = 65280  # uncompressed bytes per BGZF block, as htslib uses
BGZF_EOF = bytes.fromhex("1f8b08040000000000ff0600424302001b0003000000000000000000")


def reg2bin(beg: np.ndarray, end: np.ndarray) -> np.ndarray:
    """SAM-spec bins of 0-based half-open regions [beg, end)."""
    end = end - 1
    out = np.zeros(len(beg), dtype=np.int64)
    todo = np.ones(len(beg), dtype=bool)
    for shift, base in ((14, 4681), (17, 585), (20, 73), (23, 9), (26, 1)):
        hit = todo & (beg >> shift == end >> shift)
        out[hit] = base + (beg[hit] >> shift)
        todo &= ~hit
    return out


def _bgzf_block(data: bytes, level: int) -> bytes:
    c = zlib.compressobj(level, zlib.DEFLATED, -15)
    cdata = c.compress(data) + c.flush()
    header = struct.pack("<BBBBIBBHBBHH", 31, 139, 8, 4, 0, 0, 255, 6, 66, 67, 2, len(cdata) + 25)
    return header + cdata + struct.pack("<II", zlib.crc32(data), len(data))


_REC_HEAD = np.dtype([("size", "<i4"), ("rid", "<i4"), ("pos", "<i4"), ("lrn", "u1"),
                      ("mapq", "u1"), ("bin", "<u2"), ("ncig", "<u2"), ("flag", "<u2"),
                      ("lseq", "<i4"), ("nrid", "<i4"), ("npos", "<i4"), ("tlen", "<i4")])


def encode_records(reads: Reads) -> tuple[bytes, np.ndarray]:
    """BAM record bytes (no header) and each record's start offset, with
    the total length appended."""
    n = len(reads)
    names = np.frombuffer(("\0".join(reads.names()) + "\0").encode(), dtype=np.uint8)
    lrn = np.diff(np.concatenate([[-1], np.nonzero(names == 0)[0]]))
    lseq = np.diff(reads.off)
    lpack = (lseq + 1) // 2
    ncig = reads.n_ops
    sizes = 32 + lrn + 4 * ncig + lpack + lseq
    starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(sizes + 4, out=starts[1:])

    head = np.zeros(n, dtype=_REC_HEAD)
    head["size"], head["rid"], head["pos"] = sizes, reads.cid, reads.pos - 1
    head["lrn"], head["mapq"], head["flag"] = lrn, reads.mapq, reads.flag
    head["bin"] = reg2bin(reads.pos - 1, reads.end)
    head["ncig"], head["lseq"] = ncig, lseq
    head["nrid"], head["npos"], head["tlen"] = -1, -1, 0

    ops = np.arange(3)[None, :] < ncig[:, None]
    cig = ((reads.cig_len << 4) | reads.cig_op)[ops].astype("<u4")
    # 4-bit packed bases: high nibble = even offset, low nibble = odd or 0
    pk, j = _ragged(lpack)
    hi = reads.off[pk] + 2 * j
    lo_ok = 2 * j + 1 < lseq[pk]
    nib = _NIBBLE[reads.seq]
    packed = (nib[hi] << 4) | np.where(lo_ok, nib[np.minimum(hi + 1, len(nib) - 1)], 0)

    out = np.empty(int(starts[-1]), dtype=np.uint8)
    segments = [
        (np.zeros(n, dtype=np.int64), np.full(n, 36), head.view(np.uint8)),
        (np.full(n, 36), lrn, names),
        (36 + lrn, 4 * ncig, cig.view(np.uint8)),
        (36 + lrn + 4 * ncig, lpack, packed.astype(np.uint8)),
        (36 + lrn + 4 * ncig + lpack, lseq, reads.qual),
    ]
    for rel, length, src in segments:
        seg, within = _ragged(length)
        out[starts[:-1][seg] + rel[seg] + within] = src
    return out.tobytes(), starts


def write_bam(path: str, reads: Reads, level: int = 1) -> None:
    """Write ``reads`` as a coordinate-sorted BAM plus a ``.bai`` index
    (bins with merged chunks, 16 kb linear index, no-coordinate count)."""
    text = "@HD\tVN:1.6\tSO:coordinate\n" + "".join(f"@SQ\tSN:{c}\tLN:{ln}\n" for c, ln in CONTIGS)
    hdr = bytearray(b"BAM\x01" + struct.pack("<i", len(text)) + text.encode())
    hdr += struct.pack("<i", len(CONTIGS))
    for c, ln in CONTIGS:
        hdr += struct.pack("<i", len(c) + 1) + c.encode() + b"\x00" + struct.pack("<i", ln)
    body, rec_start = encode_records(reads)

    with open(path, "wb") as f:
        for k in range(0, len(hdr), _BLOCK):
            f.write(_bgzf_block(bytes(hdr[k:k + _BLOCK]), level))
        # records start on a fresh block, so uncompressed record offset u
        # lives at virtual offset (coffs[u // _BLOCK] << 16) | (u % _BLOCK)
        coffs = []
        for k in range(0, len(body), _BLOCK):
            coffs.append(f.tell())
            f.write(_bgzf_block(body[k:k + _BLOCK], level))
        coffs.append(f.tell())
        f.write(BGZF_EOF)
    coffs = np.array(coffs, dtype=np.int64)
    voff = (coffs[rec_start // _BLOCK] << 16) | (rec_start % _BLOCK)
    _write_bai(path + ".bai", reads, voff)


def _write_bai(path: str, reads: Reads, voff: np.ndarray) -> None:
    beg, end = reads.pos - 1, reads.end
    bins = reg2bin(beg, end)
    out = bytearray(b"BAI\x01" + struct.pack("<i", len(CONTIGS)))
    for c in range(len(CONTIGS)):
        idx = np.nonzero(reads.cid == c)[0]
        if not len(idx):
            out += struct.pack("<ii", 0, 0)
            continue
        # a chunk is a run of file-adjacent records in one bin
        b = bins[idx]
        run_first = np.concatenate([[0], np.nonzero(b[1:] != b[:-1])[0] + 1])
        run_last = np.concatenate([run_first[1:], [len(idx)]]) - 1
        run_bin = b[run_first]
        chunks = np.stack([voff[idx[run_first]], voff[idx[run_last] + 1]], axis=1)
        order = np.argsort(run_bin, kind="stable")
        ubins, counts = np.unique(run_bin[order], return_counts=True)
        out += struct.pack("<i", len(ubins))
        k = 0
        for ub, cnt in zip(ubins.tolist(), counts.tolist()):
            out += struct.pack("<Ii", ub, cnt)
            out += chunks[order[k:k + cnt]].astype("<u8").tobytes()
            k += cnt
        # linear index: smallest virtual offset of a record overlapping
        # each 16 kb window; empty windows repeat the previous value
        w0, w1 = beg[idx] >> 14, (end[idx] - 1) >> 14
        lin = np.full(int(w1.max()) + 1, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(lin, w0, voff[idx])
        np.minimum.at(lin, w1, voff[idx])
        empty = lin == np.iinfo(np.int64).max
        fill = np.maximum.accumulate(np.where(empty, 0, np.arange(len(lin))))
        lin = lin[fill]
        lin[np.cumsum(~empty) == 0] = lin[np.argmax(~empty)]
        out += struct.pack("<i", len(lin)) + lin.astype("<u8").tobytes()
    out += struct.pack("<Q", 0)
    with open(path, "wb") as f:
        f.write(out)


# ---------------------------------------------------------------------------
# BAM reader (checks the program's write_bam output)


def _inflate_bgzf(path: str) -> bytes:
    with open(path, "rb") as f:
        raw = f.read()
    out, k = [], 0
    while k < len(raw):
        if raw[k:k + 4] != b"\x1f\x8b\x08\x04":
            raise ValueError(f"{path}: bad BGZF block at byte {k}")
        xlen = struct.unpack_from("<H", raw, k + 10)[0]
        bsize = struct.unpack_from("<H", raw, k + 16)[0] + 1
        if xlen != 6 or raw[k + 12:k + 14] != b"BC":
            raise ValueError(f"{path}: BGZF block at byte {k} has no BC field")
        data = zlib.decompress(raw[k + 18:k + bsize - 8], -15)
        crc, isize = struct.unpack_from("<II", raw, k + bsize - 8)
        if isize != len(data) or crc != zlib.crc32(data):
            raise ValueError(f"{path}: BGZF block at byte {k} fails its CRC/size check")
        out.append(data)
        k += bsize
    if not raw.endswith(BGZF_EOF):
        raise ValueError(f"{path}: missing BGZF EOF marker")
    return b"".join(out)


def read_bam_records(path: str) -> tuple[list[tuple[str, int]], list[tuple]]:
    """(refs, records) of a BAM file.  Each record is
    (qname, flag, ref_id, pos0, mapq, bin, cigar_bytes, seq_bytes, qual_bytes)."""
    data = _inflate_bgzf(path)
    if data[:4] != b"BAM\x01":
        raise ValueError(f"{path}: not a BAM file")
    l_text = struct.unpack_from("<i", data, 4)[0]
    k = 8 + l_text
    n_ref = struct.unpack_from("<i", data, k)[0]
    k += 4
    refs = []
    for _ in range(n_ref):
        ln = struct.unpack_from("<i", data, k)[0]
        name = data[k + 4:k + 4 + ln - 1].decode()
        refs.append((name, struct.unpack_from("<i", data, k + 4 + ln)[0]))
        k += 8 + ln
    recs = []
    while k < len(data):
        (size, rid, pos0, lrn, mapq, bn, ncig, flag, lseq) = struct.unpack_from("<iiiBBHHHi", data, k)
        p = k + 36
        qname = data[p:p + lrn - 1].decode()
        p += lrn
        cig = data[p:p + 4 * ncig]
        p += 4 * ncig
        seq = data[p:p + (lseq + 1) // 2]
        p += (lseq + 1) // 2
        recs.append((qname, flag, rid, pos0, mapq, bn, cig, seq, data[p:p + lseq]))
        k += 4 + size
    return refs, recs
