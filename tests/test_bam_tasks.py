"""Decode-task planning of the BAM/CRAM readers: ``_pack_tasks`` cuts the
units of a read (BAI spans, CRAM containers) into contiguous byte-balanced
groups, one per task, and the BAM readers decode a generated cohort through
those groups with the same rows as the generator wrote."""

import random
from collections import Counter

import pytest

from sequila_spark.sources.bam import _TASK_BYTES, _pack_tasks

MB = 1 << 20


def _k(sizes, par):
    total = sum(sizes)
    return min(len(sizes), par * max(1, -(-total // (par * _TASK_BYTES))))


def _check_partition(groups, n):
    assert [i for g in groups for i in g] == list(range(n))
    assert all(g and g == list(range(g[0], g[-1] + 1)) for g in groups)


@pytest.mark.parametrize(
    "sizes, par",
    [
        ([1_000] * 12, 8),  # small cohort: one full wave
        ([5 * MB, 1, 1, 5 * MB, 0, 0, 3 * MB], 4),  # empty and tiny spans
        ([0] * 10, 3),
        ([1 * MB] * 1000, 4),  # at scale: ~32 MB a task
        ([random.Random(8).randint(0, 300_000) for _ in range(77)], 16),
    ],
)
def test_pack_tasks_contiguous_groups_at_most_k(sizes, par):
    """With units well under the 32 MB cap, the quantile cut alone holds:
    at most k = min(n, par * ceil(total / (par * 32 MB))) groups."""
    groups = _pack_tasks(sizes, par)
    _check_partition(groups, len(sizes))
    assert len(groups) <= _k(sizes, par)
    assert all(sum(sizes[i] for i in g) <= _TASK_BYTES for g in groups)


def test_pack_tasks_small_inputs_and_empty():
    assert _pack_tasks([], 4) == []
    for n in range(1, 8):
        assert _pack_tasks([100] * n, 8) == [[i] for i in range(n)]
    assert len(_pack_tasks([100] * 12, 4)) == 4
    # byte-balanced, not count-balanced: the big span stands alone
    assert _pack_tasks([900, 100, 100, 100, 100, 100, 100, 100, 100, 100], 2) == [
        [0],
        list(range(1, 10)),
    ]


@pytest.mark.parametrize(
    "sizes, par",
    [
        ([20 * MB] * 3, 1),
        ([40 * MB, 1 * MB, 1 * MB, 70 * MB, 31 * MB, 2 * MB], 1),
        ([random.Random(7).randint(0, 4 * MB) for _ in range(500)], 8),
        ([random.Random(9).randint(0, 40 * MB) for _ in range(200)], 3),
    ],
)
def test_pack_tasks_cap_only_passed_by_one_oversized_unit(sizes, par):
    """A quantile group of several units over 32 MB is cut again, so only a
    single oversized unit makes a task over the cap."""
    groups = _pack_tasks(sizes, par)
    _check_partition(groups, len(sizes))
    for g in groups:
        assert len(g) == 1 or sum(sizes[i] for i in g) <= _TASK_BYTES


def test_cohort_decodes_in_one_wave_of_packed_tasks(spark, gen_cohort, bench):
    """Two samples x six contigs = 12 BAI spans decode in
    min(12, defaultParallelism) tasks with exactly the generator's records,
    file order kept by (pos_start, __ord), and fused coverage equal to the
    NumPy truth."""
    import numpy as np

    from sequila_spark.operators.coverage import coverage
    from sequila_spark.sources.bam import read_bam_coverage_events, read_bam_native

    gen, truth = bench
    cohort, samples = gen_cohort
    n_spans = sum(len(set(r.cid.tolist())) for r in samples)
    assert n_spans == 12
    want_tasks = min(n_spans, spark.sparkContext.defaultParallelism)

    reads = read_bam_native(spark, cohort, with_ordinal=True)
    assert reads.rdd.getNumPartitions() == want_tasks
    assert read_bam_coverage_events(spark, cohort).rdd.getNumPartitions() == want_tasks

    rows = reads.select("sample_id", "qname", "flag", "contig", "pos_start", "__ord").collect()
    file_order = {}
    for r in samples:
        refs, recs = gen.read_bam_records(f"{cohort}/{r.sample}.bam")
        file_order[r.sample] = [(q, f, refs[rid][0], p0 + 1) for q, f, rid, p0, *_ in recs]
    assert Counter((q, f, c, p) for _, q, f, c, p, _ in rows) == Counter(
        rec for recs in file_order.values() for rec in recs
    )
    for sample, recs in file_order.items():
        for contig in {c for _, _, c, _ in recs}:
            got = sorted(
                (p, o, q) for s, q, _, c, p, o in rows if s == sample and c == contig
            )
            assert [q for *_, q in got] == [q for q, _, c, _ in recs if c == contig]

    cov = coverage(read_bam_native(spark, cohort), mode="blocks")
    blocks = np.array(
        cov.select("contig", "pos_start", "pos_end", "coverage").collect(), dtype=object
    )
    got = {}
    for contig in sorted(set(blocks[:, 0])):
        s, e, c = (blocks[blocks[:, 0] == contig, i].astype(np.int64) for i in (1, 2, 3))
        got[contig] = (len(s), int(((e - s + 1) * c).sum()), int(truth.block_hash(s, e, c).sum()))
    assert got == truth.coverage_blocks(samples)
