"""pileup_blocks' chunked run stitching: the same block-compressed rows
for every chunk size, on runs of equal coverage that cross many chunk
boundaries, coverage changes on a boundary, gaps that leave whole chunks
empty, and mismatch positions that split a run."""

import pytest

from sequila_spark.operators.pileup import pileup_blocks

# contig -> [(first, last, coverage)] of all-reference positions, and the
# mismatch positions (coverage, alt base) between them
_RUNS = {
    "1": [(1, 11, 2), (12, 20, 4), (22, 40, 4), (51, 70, 4), (71, 75, 1), (77, 80, 1)],
    "2": [(1, 35, 7)],
    "3": [(5, 5, 1)],
}
_MISMATCHES = {"1": {21: (4, "T"), 76: (1, "G")}, "2": {36: (7, "C"), 37: (7, "A")}}


def _ref(pos):
    return "ACGT"[pos % 4]


def _pileup_rows():
    rows = []
    for contig, runs in _RUNS.items():
        for first, last, cov in runs:
            for pos in range(first, last + 1):
                rows.append((contig, pos, pos, _ref(pos), cov, cov, 0, {}))
    for contig, mism in _MISMATCHES.items():
        for pos, (cov, alt) in mism.items():
            rows.append((contig, pos, pos, _ref(pos), cov, cov - 1, 1, {alt: 1}))
    return rows


def _expected():
    """Blocks merged here position by position: consecutive all-reference
    positions of equal coverage join one row; each mismatch is its own."""
    out = []
    for contig, pos, _, ref, cov, _, nonref, alts in sorted(_pileup_rows()):
        if nonref:
            out.append([contig, pos, pos, ref, cov, alts])
            continue
        last = out[-1] if out else None
        if (last and last[5] is None and last[0] == contig
                and last[2] == pos - 1 and last[4] == cov):
            last[2], last[3] = pos, last[3] + ref
        else:
            out.append([contig, pos, pos, ref, cov, None])
    return sorted(tuple(r[:5]) + (r[5] and sorted(r[5].items()),) for r in out)


@pytest.mark.parametrize("chunk_size", [3, 17, 100_000])
def test_pileup_blocks_same_rows_for_every_chunk_size(spark, chunk_size):
    p = spark.createDataFrame(
        _pileup_rows(),
        "contig string, pos_start int, pos_end int, ref string, coverage int, "
        "countRef int, countNonRef int, alts map<string,int>",
    )
    got = sorted(
        (r["contig"], r["pos_start"], r["pos_end"], r["ref"], r["coverage"],
         r["alts"] and sorted(r["alts"].items()))
        for r in pileup_blocks(p, chunk_size=chunk_size).collect()
    )
    assert got == _expected()
