"""Tests of the benchmark itself: the seeded generator, the digest checks
(against DuckDB at the tiny size), the layer map and the plan-metric
collector.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(1, os.path.dirname(BENCH))

import gen  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
import truth  # noqa: E402
import workloads  # noqa: E402

duckdb = pytest.importorskip("duckdb")
pa = pytest.importorskip("pyarrow")

TINY = workloads.SIZES["tiny"]
SEED = 11
NAMES = [c for c, _ in gen.CONTIGS]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("perfbench"))
    s = harness.make_session(base, os.path.join(base, "work"), 2)
    yield s
    harness.stop_session(s)


# ---------------------------------------------------------------------------
# generator


def test_same_seed_gives_same_inputs(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_bam(str(tmp_path / f"{name}.bam"), gen.make_reads(seed, 500))

    def files(n):
        return (tmp_path / f"{n}.bam").read_bytes(), (tmp_path / f"{n}.bam.bai").read_bytes()

    assert files("a") == files("b")
    assert files("a")[0] != files("c")[0]
    for make in (gen.make_intervals, gen.make_targets):
        assert all(np.array_equal(x, y) for x, y in zip(make(5, 300), make(5, 300)))
        assert not all(np.array_equal(x, y) for x, y in zip(make(5, 300), make(6, 300)))


def test_written_bam_reads_back(tmp_path):
    r = gen.make_reads(SEED, 400)
    path = str(tmp_path / "s.bam")
    gen.write_bam(path, r)
    refs, recs = gen.read_bam_records(path)
    assert refs == gen.CONTIGS
    assert [x[0] for x in recs] == r.names()
    assert [(x[2], x[3]) for x in recs] == list(zip(r.cid.tolist(), (r.pos - 1).tolist()))


# ---------------------------------------------------------------------------
# DuckDB oracles, computed from the generator's arrays


def _con(**tables):
    con = duckdb.connect()
    for name, cols in tables.items():
        con.register(name, pa.table({k: np.asarray(v) for k, v in cols.items()}))
    return con


def duck_featurecounts(reads, targets) -> dict:
    (rc, rs, re_), (tc, ts, te) = reads, targets
    con = _con(r={"c": rc, "s": rs, "e": re_}, t={"i": np.arange(len(tc)), "c": tc, "s": ts, "e": te})
    rows = con.execute("SELECT 'T' || t.i, count(*) FROM t JOIN r "
                       "ON r.c = t.c AND r.s <= t.e AND r.e >= t.s GROUP BY t.i").fetchall()
    return {k: int(n) for k, n in rows}


def _blocks(samples) -> dict:
    return {"c": np.concatenate([r.cid[r.blk_read] for r in samples]),
            "s": np.concatenate([r.blk_pos for r in samples]),
            "n": np.concatenate([r.blk_len for r in samples])}


def duck_coverage_blocks(samples) -> dict:
    con = _con(b=_blocks(samples))
    rows = con.execute("""
        WITH pos AS (SELECT c, unnest(range(s, s + n)) AS p FROM b),
        depth AS (SELECT c, p, count(*) AS d FROM pos GROUP BY c, p),
        runs AS (SELECT c, p, d, p - row_number() OVER (PARTITION BY c, d ORDER BY p) AS g FROM depth),
        blocks AS (SELECT c, min(p) AS s, max(p) AS e, d FROM runs GROUP BY c, d, g)
        SELECT c, count(*), sum((e - s + 1) * d), sum((s * 1000003 + e * 10007 + d * 101) % 1000000007)
        FROM blocks GROUP BY c""").fetchall()
    return {NAMES[c]: (int(n), int(b), int(h)) for c, n, b, h in rows}


def duck_window_sums(sample) -> dict:
    con = _con(b=_blocks([sample]))
    return {NAMES[c]: int(s) for c, s in con.execute("SELECT c, sum(n) FROM b GROUP BY c").fetchall()}


def duck_pileup(sample) -> dict:
    cid, pos, base = sample.aligned_bases()
    con = _con(a={"c": cid, "p": pos, "b": base})
    rows = con.execute("""
        WITH x AS (SELECT c, p, b, CAST(b <> ((p * 40503 + (c + 1) * 9973 + 17) % 65521 * 7919)
                                         % 65537 % 4 AS INT) AS nr FROM a)
        SELECT c, count(DISTINCT p), count(*), count(*) - sum(nr), sum(nr), sum(p * nr),
               sum(nr * (b = 0)::INT), sum(nr * (b = 1)::INT), sum(nr * (b = 2)::INT), sum(nr * (b = 3)::INT)
        FROM x GROUP BY c""").fetchall()
    return {NAMES[r[0]]: tuple(int(v) for v in r[1:]) for r in rows}


# ---------------------------------------------------------------------------
# each workload: ground truth == DuckDB, and the program's output passes


def _workload(name, spark, tmp_path):
    w = workloads.WORKLOADS[name](spark, SEED, TINY)
    inputs = str(tmp_path / "inputs")
    os.makedirs(inputs)
    w.prepare(inputs)
    w.expect()
    w.open()
    return w


def test_featurecounts_matches_duckdb(spark, tmp_path):
    w = _workload("featurecounts", spark, tmp_path)
    assert w.expected == duck_featurecounts(w.reads, w.targets)
    out = w.run(harness.Tracer(False))
    assert w.check(out)
    # a corrupted output fails the check
    some = next(iter(out))
    assert not w.check({**out, some: out[some] + 1})
    assert not w.check({k: v for k, v in out.items() if k != some})


def test_coverage_truth_at_contig_edges():
    r = gen.make_reads(SEED, 300)
    first = np.nonzero(r.cid[r.blk_read] == 0)[0][0]
    r.blk_pos[first] = 1  # a block that starts on the contig's first base
    assert truth.coverage_blocks([r]) == duck_coverage_blocks([r])


def test_bam_coverage_matches_duckdb(spark, tmp_path):
    w = _workload("bam_coverage", spark, tmp_path)
    assert w.expected["api"] == duck_coverage_blocks(w.samples)
    assert w.expected["sql"] == duck_window_sums(w.sample)
    assert truth.pileup(w.sample) == duck_pileup(w.sample)
    tr = harness.Tracer(True)
    out = w.run(tr)
    assert w.check(out)
    contig = next(iter(out["api"]))
    n, bases, h = out["api"][contig]
    assert not w.check({**out, "api": {**out["api"], contig: (n, bases, h + 1)}})
    assert not w.check({**out, "sql": {**out["sql"], contig: out["sql"][contig] - 1}})
    # the traced probes (pileup and write_bam of the sample included)
    # check their own outputs
    metrics = w.layers(tr)
    assert w.probe_failures == 0
    assert metrics["coverage.blocks_out"] == sum(v[0] for v in w.expected["api"].values())


def test_corrupted_bam_fails_the_write_check(tmp_path):
    path = str(tmp_path / "s.bam")
    gen.write_bam(path, gen.make_reads(SEED, 300))
    expected = sorted(gen.read_bam_records(path)[1], key=workloads._rec_key)
    assert workloads.bam_records_ok(path, expected)
    changed = list(expected)
    changed[7] = changed[7][:8] + (bytes([changed[7][8][0] ^ 1]) + changed[7][8][1:],)
    assert not workloads.bam_records_ok(path, changed)
    assert not workloads.bam_records_ok(path, expected[1:])
    bad = str(tmp_path / "bad.bam")
    data = bytearray(open(path, "rb").read())
    data[100] ^= 0xFF
    open(bad, "wb").write(bytes(data))
    shutil.copy(path + ".bai", bad + ".bai")
    assert not workloads.bam_records_ok(bad, expected)
    os.remove(path + ".bai")
    assert not workloads.bam_records_ok(path, expected)


# ---------------------------------------------------------------------------
# plan metrics and the layer map


def test_plan_metrics_repeat_exactly(spark, tmp_path):
    from sequila_spark.operators.range_join import range_join

    reads, targets = gen.make_intervals(SEED, 2000), gen.make_targets(SEED, 300)
    gen.write_intervals_parquet(str(tmp_path / "r"), *reads, n_files=2)
    gen.write_intervals_parquet(str(tmp_path / "t"), *targets, ids=[f"T{i}" for i in range(300)])
    counts = []
    for _ in range(2):
        q = range_join(spark.read.parquet(str(tmp_path / "r")),
                       spark.read.parquet(str(tmp_path / "t"))).groupBy("target_id").count()
        q.collect()
        m = harness.plan_metrics(q)
        counts.append((harness.shuffle_bytes(m), harness.shuffle_records(m), harness.generate_rows(m)))
    assert counts[0] == counts[1]
    assert all(c > 0 for c in counts[0])


def test_layer_map_covers_benchmark():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(BENCH, "layers.json")) as f:
        layers = json.load(f)
    per_workload = run.layer_metrics(spec, layers)
    names = {w["name"] for w in spec["workloads"]}
    assert set(per_workload) == names == set(workloads.WORKLOADS)
    broken = {**spec, "per_layer": spec["per_layer"][1:]}
    with pytest.raises(ValueError):
        run.layer_metrics(broken, layers)
