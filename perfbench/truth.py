"""Expected outputs, computed with NumPy from the generator's arrays.

Each workload reduces the program's output to a small digest inside Spark;
the functions here compute the same digest from ground truth (aligned
blocks, interval endpoints), never from anything Spark produced.  Digests
are dicts keyed by contig (or target id) with integer tuples as values, so
a check is one ``==``.
"""

from __future__ import annotations

import numpy as np

from gen import CONTIGS, Reads, ref_codes

# Block hash h(start, end, cov) summed per contig: a shifted or split block
# changes the sum.  Integer-only so Spark computes it exactly (see
# workloads.coverage_digest).
_P = 1_000_000_007


def block_hash(start, end, cov):
    return (start * 1000003 + end * 10007 + cov * 101) % _P


def featurecounts(reads: tuple, targets: tuple) -> dict[str, int]:
    """target_id -> number of reads overlapping it (closed intervals), for
    targets with at least one read: #(read.start <= t.end) -
    #(read.end < t.start) per contig."""
    rc, rs, re_ = reads
    tc, ts, te = targets
    out = {}
    for c in range(len(CONTIGS)):
        starts = np.sort(rs[rc == c])
        ends = np.sort(re_[rc == c])
        ti = np.nonzero(tc == c)[0]
        n = np.searchsorted(starts, te[ti], side="right") - np.searchsorted(ends, ts[ti], side="left")
        for i, k in zip(ti[n > 0].tolist(), n[n > 0].tolist()):
            out[f"T{i}"] = k
    return out


def depth(samples: list[Reads]) -> list[np.ndarray]:
    """Per-contig pooled depth, index = 1-based position."""
    diffs = [np.zeros(ln + 2, dtype=np.int64) for _, ln in CONTIGS]
    for r in samples:
        cid = r.cid[r.blk_read]
        for c in range(len(CONTIGS)):
            m = cid == c
            np.add.at(diffs[c], r.blk_pos[m], 1)
            np.add.at(diffs[c], r.blk_pos[m] + r.blk_len[m], -1)
    return [np.cumsum(d)[: ln + 1] for d, (_, ln) in zip(diffs, CONTIGS)]


def coverage_blocks(samples: list[Reads]) -> dict[str, tuple[int, int, int]]:
    """contig -> (blocks, sum of len * coverage, sum of block_hash) over the
    maximal runs of equal non-zero pooled depth."""
    out = {}
    for (name, _), d in zip(CONTIGS, depth(samples)):
        d = d[1:]  # d[i] is now the depth at position i + 1
        change = np.nonzero(np.diff(d))[0] + 1  # index of the first element of each new run
        first = np.concatenate([[0], change])
        last = np.concatenate([change - 1, [len(d) - 1]])
        cov = d[first]
        starts, ends = first + 1, last + 1
        keep = cov > 0
        s, e, c = starts[keep], ends[keep], cov[keep]
        if len(s):
            out[name] = (len(s), int(((e - s + 1) * c).sum()), int(block_hash(s, e, c).sum()))
    return out


def window_sums(sample: Reads) -> dict[str, int]:
    """contig -> total depth of one sample, which is what
    ``sum(coverage) * window`` over the windows-mode TVF adds up to."""
    return {name: int(d.sum()) for (name, _), d in zip(CONTIGS, depth([sample])) if d.sum()}


def pileup(sample: Reads) -> dict[str, tuple[int, ...]]:
    """contig -> (positions, sum coverage, sum countRef, sum countNonRef,
    sum pos * countNonRef, alt A, alt C, alt G, alt T)."""
    cid, pos, base = sample.aligned_bases()
    nonref = base != ref_codes(cid + 1, pos)
    out = {}
    for c, (name, ln) in enumerate(CONTIGS):
        m = cid == c
        if not m.any():
            continue
        cov = np.bincount(pos[m], minlength=ln + 1)
        nr = m & nonref
        alts = np.bincount(base[nr], minlength=4)
        total, n_nr = int(m.sum()), int(nr.sum())
        out[name] = (int((cov > 0).sum()), total, total - n_nr, n_nr, int(pos[nr].sum()),
                     *(int(a) for a in alts))
    return out
