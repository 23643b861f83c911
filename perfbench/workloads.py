"""The workloads.  Each one generates its inputs from the seed
(``prepare``, timed as part of set-up), computes the expected digest from
the generator's arrays (``expect``, not timed), runs one closed-loop
iteration through the public entry points (``run``, the timed region),
checks the digest of that iteration (``check``), and in a traced run
measures the layers ``layers.json`` assigns to it (``layers``).

- featurecounts: the paper's headline interval join; all time in
  ``range_join``, none in BAM decoding.
- bam_coverage: cohort depth of coverage through the API (fused
  decode->events reader) and through the SQL table-valued function, which
  takes a different, unfused path over the same files.  Its traced run
  also measures, on the sample the SQL statement selects, the two other
  ways ``sources.bam`` is used: pileup over the fully decoded sample
  (seq/qual strings rendered) and ``write_bam`` of it (re-read and
  checked).
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
import harness
import truth

#: Input sizes: "full" is what the benchmark times (chosen from the runs
#: recorded in RESULTS.md), "tiny" what tests/test_perfbench.py compares
#: against DuckDB.
SIZES = {
    "full": {"fc_reads": 600_000, "fc_targets": 20_000, "cohort": 2, "cohort_reads": 40_000},
    "tiny": {"fc_reads": 3_000, "fc_targets": 400, "cohort": 2, "cohort_reads": 1_500},
}

COVERAGE_COLUMNS = ["flag", "contig", "pos_start", "pos_end", "mapq", "cigar"]
WINDOW = 1000
REPS = 3  # repetitions of a layer probe that runs outside the timed loop


def coverage_digest(df):
    """contig -> (blocks, sum len * coverage, sum block hash); the same
    reduction as truth.coverage_blocks."""
    from pyspark.sql import functions as F

    s, e, c = F.col("pos_start").cast("long"), F.col("pos_end").cast("long"), F.col("coverage").cast("long")
    return df.groupBy("contig").agg(
        F.count("*").alias("n"),
        F.sum((e - s + 1) * c).alias("bases"),
        F.sum(truth.block_hash(s, e, c)).alias("h"),
    )


def pileup_digest(df):
    """contig -> the tuple of truth.pileup."""
    from pyspark.sql import functions as F

    alt = [F.sum(F.coalesce(F.col("alts")[b], F.lit(0))).alias(f"alt_{b}") for b in "ACGT"]
    return df.groupBy("contig").agg(
        F.count("*"), F.sum("coverage"), F.sum("countRef"), F.sum("countNonRef"),
        F.sum(F.col("pos_start").cast("long") * F.col("countNonRef")), *alt,
    )


def rows_to_dict(rows) -> dict:
    return {r[0]: tuple(int(x) for x in r[1:]) for r in rows}


def bam_records_ok(path: str, expected: list) -> bool:
    """A BAM the program wrote, re-read with the generator's reader, holds
    exactly ``expected`` (records sorted by ``_rec_key``) in coordinate
    order, and has a ``.bai`` next to it.  The record's bin field is not
    compared: ``write_bam`` leaves it 0 and readers recompute it."""
    try:
        refs, recs = gen.read_bam_records(path)
        with open(path + ".bai", "rb") as f:
            bai_ok = f.read(4) == b"BAI\x01"
    except (OSError, ValueError):
        return False
    keys = [(r[2], r[3]) for r in recs]
    return (bai_ok and refs == gen.CONTIGS and keys == sorted(keys)
            and [_no_bin(r) for r in sorted(recs, key=_rec_key)] == [_no_bin(r) for r in expected])


def _rec_key(rec):
    return (rec[2], rec[3], rec[0])


def _no_bin(rec):
    return rec[:5] + rec[6:]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs):
    return float(np.median(xs))


def _timed(tr, name, fn, reps=REPS):
    """Median wall time of ``reps`` calls of ``fn`` (each one a span
    ``name``) and the last call's result."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        with tr.span(name):
            out = fn()
        times.append(time.perf_counter() - t)
    return _median(times), out


class Workload:
    name = ""
    #: input reads one iteration processes
    reads_per_run = 0

    def __init__(self, spark, seed: int, size: dict):
        self.spark = spark
        self.seed = seed
        self.size = size
        #: layer probes whose output was wrong (a traced run is then not correct)
        self.probe_failures = 0

    def prepare(self, inputs: str) -> None:
        raise NotImplementedError

    def expect(self) -> None:
        """Compute ``self.expected`` from the generator's arrays."""
        raise NotImplementedError

    def open(self) -> None:
        """Session-side setup after the inputs exist (views, caches)."""

    def run(self, tr: harness.Tracer):
        raise NotImplementedError

    def check(self, digest) -> bool:
        return digest == self.expected

    def layers(self, tr: harness.Tracer) -> dict:
        """Per-layer metrics of this workload: medians of the spans the
        traced iterations recorded, plus the extra passes a layer needs."""
        raise NotImplementedError


class FeatureCounts(Workload):
    name = "featurecounts"

    def prepare(self, inputs: str) -> None:
        n, n_t = self.size["fc_reads"], self.size["fc_targets"]
        self.reads = gen.make_intervals(self.seed, n)
        self.targets = gen.make_targets(self.seed, n_t)
        cores = int(self.spark.sparkContext.defaultParallelism)
        self.reads_dir = os.path.join(inputs, "reads")
        self.targets_dir = os.path.join(inputs, "targets")
        gen.write_intervals_parquet(self.reads_dir, *self.reads, n_files=cores)
        gen.write_intervals_parquet(self.targets_dir, *self.targets,
                                    ids=[f"T{i}" for i in range(n_t)])
        self.reads_per_run = n
        self.n_targets = n_t

    def expect(self) -> None:
        self.expected = truth.featurecounts(self.reads, self.targets)

    def run(self, tr):
        from sequila_spark.operators.range_join import range_join

        with tr.span("range_join.plan"):
            reads = self.spark.read.parquet(self.reads_dir)
            targets = self.spark.read.parquet(self.targets_dir)
            joined = range_join(reads, targets)
        with tr.span("range_join.exec"):
            self.last = joined.groupBy("target_id").count()
            rows = self.last.collect()
        return {r[0]: int(r[1]) for r in rows}

    def layers(self, tr) -> dict:
        m = harness.plan_metrics(self.last)
        pairs = sum(self.expected.values())
        return {
            "range_join.plan_s": _median(tr.durations("range_join.plan")),
            "range_join.exec_s": _median(tr.durations("range_join.exec")),
            "range_join.pairs_out": pairs,
            "range_join.pairs_per_read": pairs / self.reads_per_run,
            "range_join.bin_fanout": harness.generate_rows(m) / (self.reads_per_run + self.n_targets),
            "range_join.shuffle_mb": harness.shuffle_bytes(m) / 1e6,
        }


class BamCoverage(Workload):
    name = "bam_coverage"
    SQL = ("SELECT contig, sum(coverage) AS s FROM coverage('reads', '{sample}', 'windows', "
           f"{WINDOW}) GROUP BY contig")

    def prepare(self, inputs: str) -> None:
        self.cohort_dir = os.path.join(inputs, "cohort")
        os.makedirs(self.cohort_dir)
        self.samples = []
        for k in range(self.size["cohort"]):
            r = gen.make_reads(self.seed * 100 + k, self.size["cohort_reads"], sample=f"S{k}")
            gen.write_bam(os.path.join(self.cohort_dir, f"S{k}.bam"), r)
            self.samples.append(r)
        # the SQL statement asks for one sample of the cohort
        self.sample = self.samples[self.seed % len(self.samples)]
        self.reads_decoded = sum(len(r) for r in self.samples)
        self.reads_per_run = self.reads_decoded + len(self.sample)

    def expect(self) -> None:
        self.expected = {"api": truth.coverage_blocks(self.samples),
                         "sql": truth.window_sums(self.sample)}

    def open(self) -> None:
        from sequila_spark.session import SequilaSession
        from sequila_spark.sources.bam import read_bam_native

        self.ss = SequilaSession(self.spark)
        read_bam_native(self.spark, self.cohort_dir).createOrReplaceTempView("reads")

    def run(self, tr):
        from sequila_spark.operators.coverage import coverage
        from sequila_spark.sources.bam import read_bam_native

        with tr.span("bam.plan"):
            reads = read_bam_native(self.spark, self.cohort_dir)
        with tr.span("coverage.api"):
            self.last = coverage_digest(coverage(reads, mode="blocks"))
            api = rows_to_dict(self.last.collect())
        with tr.span("sql.rewrite"):
            df = self.ss.sql(self.SQL.format(sample=self.sample.sample))
        with tr.span("sql.tvf_exec"):
            sql = {r[0]: round(r[1] * WINDOW) for r in df.collect()}
        return {"api": api, "sql": sql}

    def layers(self, tr) -> dict:
        from pyspark.sql import functions as F

        from sequila_spark.operators.coverage import coverage
        from sequila_spark.sources.bam import read_bam_coverage_events, read_bam_native

        m = harness.plan_metrics(self.last)
        # the reader alone: planning, then a decode-only pass of the
        # columns coverage needs
        plan_s, reads = _timed(tr, "bam.plan",
                               lambda: read_bam_native(self.spark, self.cohort_dir, columns=COVERAGE_COLUMNS))
        decode_s, _ = _timed(tr, "bam.decode", lambda: _noop(reads))
        with tr.span("coverage.events"):
            events = read_bam_coverage_events(self.spark, self.cohort_dir).count()
        # the API form of the SQL statement: same sample, same windows
        path = os.path.join(self.cohort_dir, f"{self.sample.sample}.bam")

        def api_windows():
            cov = coverage(read_bam_native(self.spark, path), mode="windows", window_size=WINDOW)
            return {r[0]: round(r[1] * WINDOW) for r in cov.groupBy("contig").agg(F.sum("coverage")).collect()}

        api_s, got = _timed(tr, "coverage.api_windows", api_windows)
        if got != self.expected["sql"]:
            self.probe_failures += 1
        tvf = [a + b for a, b in zip(tr.durations("sql.rewrite"), tr.durations("sql.tvf_exec"))]
        out = self._pileup_write_layers(tr, path)
        out.update({
            "bam.plan_s": plan_s,
            "bam.spans": reads.rdd.getNumPartitions(),
            "bam.decode_s": decode_s,
            "bam.decode_reads_per_s": self.reads_decoded / decode_s,
            "coverage.api_s": _median(tr.durations("coverage.api")),
            "coverage.events_rows": events,
            "coverage.blocks_out": sum(v[0] for v in self.expected["api"].values()),
            "coverage.shuffle_records": harness.shuffle_records(m),
            "coverage.api_windows_s": api_s,
            "sql.rewrite_s": _median(tr.durations("sql.rewrite")),
            "sql.tvf_exec_s": _median(tr.durations("sql.tvf_exec")),
            "sql.tvf_over_api": _median(tvf) / api_s,
        })
        return out

    def _pileup_write_layers(self, tr, path) -> dict:
        """pileup over, and write_bam of, one sample decoded with every
        column and persisted, so neither pass includes the decode."""
        from pyspark import StorageLevel

        from sequila_spark.operators.pileup import pileup
        from sequila_spark.sources.bam import read_bam_native, write_bam

        expected = truth.pileup(self.sample)
        reads = read_bam_native(self.spark, path).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            reads.count()

            def run_pileup():
                d = pileup_digest(pileup(reads, ref=gen.ref_base_col, alts=True))
                if rows_to_dict(d.collect()) != expected:
                    self.probe_failures += 1
                return d

            # pileup and write_bam take seconds each: one pass, to keep a
            # traced run within its time limit
            exec_s, d = _timed(tr, "pileup.exec", run_pileup, reps=1)
            m = harness.plan_metrics(d)
            records = sorted(gen.read_bam_records(path)[1], key=_rec_key)
            export = os.path.join(os.path.dirname(self.cohort_dir), "export.bam")
            write_s, _ = _timed(tr, "bam.write",
                                lambda: write_bam(reads, export, refs=gen.CONTIGS, index=True), reps=1)
            if not bam_records_ok(export, records):  # outside the timed region
                self.probe_failures += 1
            written = os.path.getsize(export)
        finally:
            reads.unpersist()
        return {
            "pileup.exec_s": exec_s,
            "pileup.positions_out": sum(v[0] for v in expected.values()),
            "pileup.bases_per_s": int(self.sample.blk_len.sum()) / exec_s,
            "pileup.shuffle_mb": harness.shuffle_bytes(m) / 1e6,
            "bam.write_s": write_s,
            "bam.write_mb_per_s": written / 1e6 / write_s,
            "bam.bytes_per_read": written / len(self.sample),
        }


WORKLOADS = {w.name: w for w in (FeatureCounts, BamCoverage)}
