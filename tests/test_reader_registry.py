"""The BAM/CRAM reader registry (``sources.bam.reader_of``): plan identity,
not an attribute of one DataFrame object, finds the reader call's plan
(``sources.bam.Reader``), which the fused coverage path and the SQL TVFs'
per-sample selection decode without planning again; and the decode task loop's
import-cache trim leaves the worker able to import.

Inputs are generated indexed BAMs (perfbench's generator), hand-written
empty BAMs and, for plan-only checks, fixtures/bigcram; every routed
result is compared with the declarative plan (``fuse=False``) or with the
same operator over that sample's file read alone."""

import os
import re
from collections import OrderedDict

import pytest
from pyspark.sql import functions as F

from sequila_spark.operators.coverage import coverage
from sequila_spark.operators.pileup import pileup
from sequila_spark.session import SequilaSession
from sequila_spark.sources import bam as B


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _is_fused(df):
    # the fused scan node: MapInArrow ... [contig#, chunk#, pos#, delta#]
    plan = df._jdf.queryExecution().executedPlan().toString()
    return bool(re.search(r"MapInArrow [^\[]*\[contig#\d+, chunk#", plan))


class _Calls(list):
    """The _plan_bam calls of a test, (files, number of spans); ``runs``:
    the relations _run_tasks builds, (schema, the decode units' sizes)."""

    def __init__(self):
        super().__init__()
        self.runs = []

    def clear(self):
        super().clear()
        self.runs.clear()


@pytest.fixture
def planned(monkeypatch):
    calls = _Calls()
    orig_plan, orig_run = B._plan_bam, B._run_tasks

    def plan(path, chunk):
        refs, spans, sizes = orig_plan(path, chunk)
        calls.append((sorted(refs), len(spans)))
        return refs, spans, sizes

    def run(spark, sizes, decode, schema):
        calls.runs.append((schema, list(sizes)))
        return orig_run(spark, sizes, decode, schema)

    monkeypatch.setattr(B, "_plan_bam", plan)
    monkeypatch.setattr(B, "_run_tasks", run)
    return calls


def _plain(path):
    """A registry entry's Reader with no planned unit."""
    return B.Reader("bam", path, {}, None, [], [], {})


def test_view_of_reader_fuses(spark, gen_cohort):
    """coverage() over spark.table of a reader's view takes the fused
    decode->events plan with the declarative plan's rows."""
    cohort, _ = gen_cohort
    B.read_bam_native(spark, cohort).createOrReplaceTempView("reg_cohort")
    view = spark.table("reg_cohort")
    hit = B.reader_of(view)
    assert (hit.kind, hit.path) == ("bam", cohort)
    for kw in ({}, {"flag_mask": 1796, "min_mapq": 10},
               {"mode": "windows", "window_size": 1000}):
        fused = coverage(view, **kw)
        assert _is_fused(fused)
        assert _rows(fused) == _rows(coverage(view, fuse=False, **kw))
    assert not _is_fused(coverage(view, fuse=False))


def test_coverage_tvf_reads_only_that_sample(spark, gen_cohort, planned):
    """The coverage TVF over a reader's view plans nothing: it decodes
    exactly the requested sample's spans of the view's own plan, builds
    only the fused events relation, and gives the rows of coverage over
    that sample's file read alone."""
    cohort, _ = gen_cohort
    B.read_bam_native(spark, cohort).createOrReplaceTempView("reg_tvf")
    s1 = os.path.join(cohort, "S1.bam")
    _, s1_spans, s1_sizes = B._plan_bam(s1, 10_000_000)
    assert len(s1_spans) < len(B._plan_bam(cohort, 10_000_000)[1])
    assert B.reader_of(spark.table("reg_tvf")).only("S1").units == s1_spans
    planned.clear()

    ss = SequilaSession(spark)
    df = ss.sql("SELECT * FROM coverage('reg_tvf', 'S1', 'windows', 1000)")
    assert _is_fused(df)
    assert planned == []
    assert planned.runs == [(B._EVENTS_SCHEMA, s1_sizes)]
    expected = coverage(
        B.read_bam_native(spark, s1), mode="windows", window_size=1000, fuse=False
    )
    assert _rows(df) == _rows(expected)

    blocks = ss.sql("SELECT * FROM coverage('reg_tvf', 'S0')")
    s0 = spark.table("reg_tvf").where(F.col("sample_id") == "S0")
    assert _rows(blocks) == _rows(coverage(s0, fuse=False))


def test_coverage_of_view_plans_once(spark, gen_cohort, planned):
    """After the reader call, coverage() over it or its view plans no span
    again: it builds one events relation over the reader's own units."""
    cohort, _ = gen_cohort
    reads = B.read_bam_native(spark, cohort)
    assert len(planned) == 1 and len(planned.runs) == 1
    sizes = planned.runs[0][1]
    reads.createOrReplaceTempView("reg_once")
    planned.clear()
    for df in (reads, spark.table("reg_once")):
        assert _is_fused(coverage(df, mode="windows", window_size=1000))
    assert planned == []
    assert planned.runs == [(B._EVENTS_SCHEMA, sizes)] * 2


def test_tvfs_unknown_sample_empty_with_same_schema(spark, gen_cohort, planned):
    """A sample with no file gives no rows, the schema the filtered table
    gives, and plans no span."""
    cohort, _ = gen_cohort
    B.read_bam_native(spark, cohort).createOrReplaceTempView("reg_unknown")
    planned.clear()
    ss = SequilaSession(spark)
    none = spark.table("reg_unknown").where(F.col("sample_id") == "nope")
    got = ss.sql("SELECT * FROM coverage('reg_unknown', 'nope')")
    assert got.collect() == []
    assert got.schema == coverage(none, fuse=False).schema
    got_p = ss.sql("SELECT * FROM pileup('reg_unknown', 'nope')")
    assert got_p.collect() == []
    assert got_p.schema == pileup(none).schema
    assert planned == []


def test_pileup_tvf_sample_rows(spark, gen_cohort, planned):
    """The pileup TVF plans nothing, decodes exactly the sample's spans of
    the view's plan, and gives the rows of pileup over the sample-filtered
    table."""
    cohort, _ = gen_cohort
    B.read_bam_native(spark, cohort).createOrReplaceTempView("reg_pileup")
    row_schema = planned.runs[0][0]
    _, _, s0_sizes = B._plan_bam(os.path.join(cohort, "S0.bam"), 10_000_000)
    planned.clear()
    got = SequilaSession(spark).sql("SELECT * FROM pileup('reg_pileup', 'S0')")
    assert planned == []
    assert planned.runs == [(row_schema, s0_sizes)]
    s0 = spark.table("reg_pileup").where(F.col("sample_id") == "S0")
    assert _rows(got) == _rows(pileup(s0))


def _empty_bam(path, indexed):
    """A BAM with a header and the BGZF EOF marker and no record; with
    ``indexed``, a .bai of no reference and no unplaced record."""
    from sequila_spark.sources import bamcodec as BC

    with open(path, "wb") as f:
        w = BC.BgzfWriter(f)
        BC.write_bam_header(w, [("c1", 1000)])
        w.close()
    if indexed:
        BC.write_bai(path + ".bai", 0, {"refs": {}, "n_no_coor": 0})


@pytest.mark.parametrize("indexed", [True, False])
def test_zero_record_bam_gives_no_rows(spark, tmp_path, indexed):
    """A BAM without records gives no rows through the row reader, the
    events reader, routed coverage() and the coverage TVF (an indexed one
    plans no span: the empty plan)."""
    path = str(tmp_path / "E0.bam")
    _empty_bam(path, indexed)
    reads = B.read_bam_native(spark, path)
    assert len(B.reader_of(reads).units) == (0 if indexed else 1)
    assert reads.collect() == []
    assert B.read_bam_coverage_events(spark, path).collect() == []
    routed = coverage(reads)
    assert routed.collect() == []
    assert routed.schema == coverage(reads, fuse=False).schema
    reads.createOrReplaceTempView("reg_empty")
    ss = SequilaSession(spark)
    for call in ("coverage('reg_empty')", "coverage('reg_empty', 'E0')"):
        assert ss.sql(f"SELECT * FROM {call}").collect() == []


def test_empty_glob_names_the_pattern(spark, tmp_path):
    pattern = str(tmp_path / "*.bam")
    for read in (B.read_bam_native, B.read_bam_coverage_events):
        with pytest.raises(FileNotFoundError, match=re.escape(repr(pattern))):
            read(spark, pattern)


BIGCRAM = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures", "bigcram", "NA12878.slice.cram",
)


def test_cram_routes_reuse_the_reader_plan(spark, monkeypatch):
    """Over a CRAM view, with the FASTA loader stubbed: the reader call
    plans the containers and loads the reference once; fused and gapless
    coverage(), pileup() and the coverage TVF over the view plan nothing
    and load nothing again.  Only plans are built; no job runs."""
    from sequila_spark.sources import cramcodec as C

    calls = {"load_fasta": 0, "_plan_cram": 0}
    orig_plan = B._plan_cram

    def load_fasta(path):
        calls["load_fasta"] += 1
        return {}

    def plan(*args):
        calls["_plan_cram"] += 1
        return orig_plan(*args)

    monkeypatch.setattr(C, "load_fasta", load_fasta)
    monkeypatch.setattr(B, "_plan_cram", plan)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "reg_cram_plans")
    try:
        B.read_cram_native(spark, BIGCRAM, ref_path="ref.fa").createOrReplaceTempView("reg_cram")
        assert calls == {"load_fasta": 1, "_plan_cram": 1}
        view = spark.table("reg_cram")
        fused = coverage(view)
        gapless = coverage(view, use_cigar=False)
        piled = pileup(view)
        tvf = SequilaSession(spark).sql("SELECT * FROM coverage('reg_cram', 'NA12878')")
        assert calls == {"load_fasta": 1, "_plan_cram": 1}
        assert _is_fused(fused) and _is_fused(tvf)
        assert not _is_fused(gapless) and not _is_fused(piled)
        assert sc.statusTracker().getJobIdsForGroup("reg_cram_plans") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_same_shaped_directories_do_not_collide(spark, bench, tmp_path):
    """Two directories with the same file names, read counts and schema
    register under different plans, and each view's TVF reads its own
    directory's file."""
    gen, _ = bench
    dirs = []
    for k, name in enumerate(("a", "b")):
        d = tmp_path / name
        d.mkdir()
        for s in range(2):
            gen.write_bam(str(d / f"S{s}.bam"), gen.make_reads(900 + 10 * k + s, 1_000, sample=f"S{s}"))
        B.read_bam_native(spark, str(d)).createOrReplaceTempView(f"reg_shape_{name}")
        dirs.append(str(d))
    ta, tb = spark.table("reg_shape_a"), spark.table("reg_shape_b")
    assert ta.semanticHash() != tb.semanticHash() and not ta.sameSemantics(tb)
    assert B.reader_of(ta).path == dirs[0] and B.reader_of(tb).path == dirs[1]

    ss = SequilaSession(spark)
    got = [_rows(ss.sql(f"SELECT * FROM coverage('reg_shape_{n}', 'S1')")) for n in "ab"]
    for rows, d in zip(got, dirs):
        alone = B.read_bam_native(spark, os.path.join(d, "S1.bam"))
        assert rows == _rows(coverage(alone, fuse=False))
    assert got[0] != got[1]


def test_transformed_view_stays_declarative(spark, gen_cohort):
    """A filter over the view is another plan: a registry miss."""
    cohort, _ = gen_cohort
    B.read_bam_native(spark, cohort).createOrReplaceTempView("reg_where")
    filtered = spark.table("reg_where").where("mapq > 0")
    assert B.reader_of(filtered) is None
    assert not _is_fused(coverage(filtered))
    with pytest.raises(ValueError, match="fuse=True"):
        coverage(filtered, fuse=True)


def test_pruned_view_without_cigar_does_not_fuse(spark, gen_cohort):
    cohort, _ = gen_cohort
    cols = ["sample_id", "contig", "pos_start", "pos_end", "flag"]
    B.read_bam_native(spark, cohort, with_tags=False, columns=cols).createOrReplaceTempView("reg_pruned")
    view = spark.table("reg_pruned")
    assert B.reader_of(view).options["columns"] == cols
    got = coverage(view)
    assert not _is_fused(got)
    assert _rows(got) == _rows(coverage(view, fuse=False))
    with pytest.raises(ValueError, match="fuse=True"):
        coverage(view, fuse=True)


def test_evicted_reader_falls_back_with_same_rows(spark, gen_cohort, monkeypatch):
    """After _READERS_MAX later registrations a reader's entry is gone:
    coverage over it plans the declarative path, with the same rows."""
    monkeypatch.setattr(B, "_READERS", OrderedDict())
    cohort, _ = gen_cohort
    reads = B.read_bam_native(spark, cohort)
    fused = coverage(reads)
    assert _is_fused(fused)
    for i in range(B._READERS_MAX):
        B._register(spark.range(i + 1), _plain(cohort))
    assert len(B._READERS) == B._READERS_MAX
    assert B.reader_of(reads) is None
    again = coverage(reads)
    assert not _is_fused(again)
    assert _rows(again) == _rows(fused)


def test_trim_keeps_worker_imports(spark):
    """In a worker task: after the trim no package-prefix zipimporter of an
    archive on sys.path is cached, every module loaded from a zip archive
    is still found by the path finder, and a pyspark submodule not yet
    imported imports (re-creating a prefix importer the next trim drops)."""

    def task(batches):
        import importlib
        import importlib.machinery
        import sys
        import zipimport

        import pyarrow as pa

        from sequila_spark.sources.bam import _trim_import_caches

        def prefix_importers():
            roots = set(sys.path)
            return [
                k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter) and v.prefix and v.archive in roots
            ]

        out = []
        for _ in batches:
            pass
        _trim_import_caches()
        out.append(f"prefix importers after trim: {prefix_importers()}")
        lost, mods = [], []
        for name, mod in list(sys.modules.items()):
            spec = getattr(mod, "__spec__", None)
            if spec is None or spec.name != name or not isinstance(spec.loader, zipimport.zipimporter):
                continue
            mods.append(mod)
            parent = name.rpartition(".")[0]
            path = sys.modules[parent].__path__ if parent else None
            if importlib.machinery.PathFinder.find_spec(name, path) is None:
                lost.append(name)
        out.append(f"zip modules not found: {lost}")
        fresh = [m for m in ("pyspark.sql.avro.functions", "pyspark.sql.protobuf.functions",
                             "pyspark.ml.linalg") if m not in sys.modules]
        for m in fresh:
            importlib.import_module(m)
        out.append(f"fresh imports: {len(fresh)}, prefix importers: {len(prefix_importers())}")
        out.append(f"archives with modules kept: {all(m.__spec__.loader.archive in sys.path for m in mods)}")
        _trim_import_caches()
        out.append(f"prefix importers after second trim: {prefix_importers()}")
        yield pa.RecordBatch.from_pydict({"s": out})

    got = [r.s for r in spark.range(0, 1, 1, 1).mapInArrow(task, "s string").collect()]
    assert got[0] == "prefix importers after trim: []"
    assert got[1] == "zip modules not found: []"
    n_fresh, n_prefix = map(int, re.findall(r"\d+", got[2]))
    assert n_fresh > 0 and n_prefix > 0
    assert got[3] == "archives with modules kept: True"
    assert got[4] == "prefix importers after second trim: []"


def test_registry_under_concurrent_threads(spark, monkeypatch):
    """More threads than cores register and look up at once: every lookup
    gives its own relation's Reader or a miss, never another's, nothing
    raises, and the bound holds."""
    import sys
    import threading

    monkeypatch.setattr(B, "_READERS", OrderedDict())
    errors, wrong = [], []

    def work(t):
        try:
            for i in range(12):
                df = spark.range(1000 * t + i + 1)
                B._register(df, _plain(f"t{t}-{i}"))
                got = B.reader_of(df)
                if got is not None and got.path != f"t{t}-{i}":
                    wrong.append((t, i, got.path))
        except Exception as e:  # reported by the assertion below
            errors.append(repr(e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(2 * (os.cpu_count() or 4))]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == [] and wrong == []
    assert len(B._READERS) <= B._READERS_MAX
