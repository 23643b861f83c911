"""Deterministic synthetic genomic views over the driver's TPC-H-ish tables.

The correctness harness (DuckDB oracle) runs on `/root/testdata/sf*/` parquet
tables.  To exercise the genomic operators we derive alignment-shaped /
interval-shaped relations from those tables with **pure integer/string
arithmetic that evaluates identically in Spark SQL and DuckDB** (probed
constructs only: CAST AS STRING/INT, %, FLOOR, GREATEST/LEAST, SUBSTR,
ASCII, CASE, ||).

`READS_SQL` / `TARGETS_SQL` are executed verbatim by both engines; the seq /
qual string builders differ only in list-function names (sequence vs range)
and are provided per dialect.  Every mapping is centralized here so Spark
queries and oracle SQL can never drift independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Genomic universe: 5 contigs ('1'..'5'), positions 1..~101_000.
N_CONTIGS = 5
POS_SPACE = 99_000

# reads: one per lineitem row; 6k/60k/600k rows at sf 0.001/0.01/0.1.
# pos_start spread over POS_SPACE, read length 50..500, flag carries bits so
# `flag & 1796` drops a deterministic subset, mapq 0..60.
READS_CORE_SQL = f"""
SELECT
  l_orderkey                                                             AS okey,
  'S' || CAST(l_orderkey % 4 AS STRING)                                  AS sample_id,
  'r' || CAST(l_orderkey AS STRING) || '_' || CAST(l_linenumber AS STRING) AS qname,
  CAST((l_partkey * 7 + l_linenumber) % 2048 AS INT)                     AS flag,
  CAST(1 + (l_orderkey % {N_CONTIGS}) AS STRING)                         AS contig,
  CAST(1 + ((l_orderkey * 37 + l_linenumber * 1009) % {POS_SPACE}) AS INT) AS pos_start,
  CAST(50 + ((l_partkey * 13 + l_linenumber) % 451) AS INT)              AS read_len,
  CAST((l_suppkey * 13 + l_linenumber * 7 + l_orderkey) % 61 AS INT)     AS mapq
FROM lineitem
"""

READS_SQL = f"""
SELECT
  okey, sample_id, qname, flag, contig, pos_start,
  CAST(pos_start + read_len - 1 AS INT) AS pos_end,
  mapq,
  CAST(read_len AS STRING) || 'M' AS cigar
FROM ({READS_CORE_SQL}) __reads_core
"""

# Mixed-CIGAR reads: one per lineitem row, four deterministic CIGAR shapes
# keyed by okey % 4 — gapless (qM), soft-clipped (5S mM 5S), deletion
# (aM dD bM), insertion (aM iI bM).  qlen = query length (seq length);
# pos_end = reference end accounting for ref-consumed ops.  Shared verbatim
# by Spark and DuckDB (probed constructs only).  The seq string is defined
# by query offset: seq[i] = 'ACGT'[(i*5 + okey) % 4] (0-based i) — the
# DuckDB oracle derives per-position bases arithmetically from (block, i)
# while Spark parses seq/cigar back, so the two derivations are independent.
READS_INDEL_SQL = f"""
SELECT
  okey, sample_id, qname, flag, contig, pos_start, mapq, kind, qlen, a, d, ins,
  CAST(pos_start + CASE kind WHEN 0 THEN qlen WHEN 1 THEN qlen - 10
       WHEN 2 THEN qlen + d ELSE qlen - ins END - 1 AS INT) AS pos_end,
  CASE kind
    WHEN 0 THEN CAST(qlen AS STRING) || 'M'
    WHEN 1 THEN '5S' || CAST(qlen - 10 AS STRING) || 'M' || '5S'
    WHEN 2 THEN CAST(a AS STRING) || 'M' || CAST(d AS STRING) || 'D'
         || CAST(qlen - a AS STRING) || 'M'
    ELSE CAST(a AS STRING) || 'M' || CAST(ins AS STRING) || 'I'
         || CAST(qlen - a - ins AS STRING) || 'M'
  END AS cigar
FROM (
  SELECT okey, sample_id, qname, flag, contig, pos_start, mapq,
         read_len AS qlen,
         CAST(okey % 4 AS INT) AS kind,
         CAST(FLOOR(read_len / 2) AS INT) AS a,
         CAST(1 + (okey % 7) AS INT) AS d,
         CAST(1 + (okey % 5) AS INT) AS ins
  FROM ({READS_CORE_SQL}) __ic
) __indel_core
"""


def indel_base_sql(i: str, okey: str) -> str:
    """Base at 0-based query offset ``i`` of a mixed-CIGAR read."""
    return f"substr('ACGT', 1 + CAST(({i} * 5 + {okey}) % 4 AS INT), 1)"


_READS_INDEL_SEQ_SPARK = f"""
SELECT *,
  array_join(transform(sequence(0, qlen - 1),
    i -> {indel_base_sql('i', 'okey')}), '') AS seq,
  repeat('I', qlen) AS qual
FROM ({READS_INDEL_SQL}) __rin
"""


# targets: one per part row; 200/2k/20k rows.  Interval length 200..2000.
TARGETS_SQL = f"""
SELECT
  'T' || CAST(p_partkey AS STRING)                                   AS target_id,
  CAST(1 + (p_partkey % {N_CONTIGS}) AS STRING)                      AS contig,
  CAST(1 + ((p_partkey * 499) % {POS_SPACE}) AS INT)                 AS pos_start,
  CAST(1 + ((p_partkey * 499) % {POS_SPACE})
       + 200 + ((p_partkey * 29) % 1801) AS INT)                     AS pos_end
FROM part
"""

# longreads: sparse nanopore-class intervals (one per ~997 orderkeys),
# widths 10..100 kb — each spans tens to a hundred-odd range-join bins, so
# the binned plan's fan-out and anchor-bin dedup on wide rows get
# driver-gate + bench coverage.
LONGREADS_SQL = f"""
SELECT
  'LR' || CAST(l_orderkey AS STRING)                                   AS qname,
  CAST(1 + (l_orderkey % {N_CONTIGS}) AS STRING)                       AS contig,
  CAST(1 + ((l_orderkey * 37) % {POS_SPACE}) AS INT)                   AS pos_start,
  CAST(1 + ((l_orderkey * 37) % {POS_SPACE})
       + 10000 + ((l_orderkey * 7919) % 90000) AS INT)                 AS pos_end
FROM lineitem
WHERE l_orderkey % 997 = 0 AND l_linenumber = 1
"""

# Deterministic reference genome: base at (contig c, position p) =
# 'ACGT'[(p*7 + c*13) % 4].  A read base mismatches the reference exactly
# when (p*11 + l_orderkey) % 59 == 0, substituting the next base cyclically
# (offset 1 + l_orderkey % 3 guarantees base != ref).
REF_BASE_FMT = "substr('ACGT', 1 + CAST(({p} * 7 + CAST({c} AS INT) * 13) % 4 AS INT), 1)"


def ref_base_sql(p: str, c: str) -> str:
    return REF_BASE_FMT.format(p=p, c=c)


def read_base_sql(p: str, c: str, okey: str) -> str:
    """Base observed in a read from order `okey` at position p on contig c."""
    return (
        f"CASE WHEN ({p} * 11 + {okey}) % 59 = 0 "
        f"THEN substr('ACGT', 1 + CAST(({p} * 7 + CAST({c} AS INT) * 13 + 1 + {okey} % 3) % 4 AS INT), 1) "
        f"ELSE {ref_base_sql(p, c)} END"
    )


def qual_sql(p: str, okey: str) -> str:
    """Deterministic phred quality value (0..40) at position p."""
    return f"CAST(20 + (({p} * 3 + {okey}) % 21) AS INT)"


# Alignment rows with materialized seq/qual strings — dialect-specific list
# builders (Spark: sequence/transform/array_join + char; DuckDB:
# range/list_transform/array_to_string + chr).
_READS_SEQ_SPARK = f"""
SELECT
  okey, sample_id, qname, flag, contig, pos_start, pos_end, mapq, cigar,
  array_join(transform(sequence(pos_start, pos_end),
    p -> {read_base_sql('p', 'contig', 'okey')}), '') AS seq,
  array_join(transform(sequence(pos_start, pos_end),
    p -> char(33 + {qual_sql('p', 'okey')})), '') AS qual
FROM __reads_base
"""

_READS_SEQ_DUCK = f"""
SELECT
  okey, sample_id, qname, flag, contig, pos_start, pos_end, mapq, cigar,
  array_to_string(list_transform(range(pos_start, pos_end + 1),
    p -> {read_base_sql('p', 'contig', 'okey')}), '') AS seq,
  array_to_string(list_transform(range(pos_start, pos_end + 1),
    p -> chr(33 + {qual_sql('p', 'okey')})), '') AS qual
FROM __reads_base
"""


# Closed-form Spark builder: the derived strings are periodic, so they can
# be assembled with repeat/substr/overlay instead of a per-character lambda
# (~2x cheaper at sf0.1; equality with the lambda form is pinned by
# tests/test_testdata.py and the oracle gate, whose DuckDB side still uses
# the per-character definition):
#  - ref base index (7p + 13c) % 4 steps by 3 per position -> the reference
#    is repeat('ATGC') rotated by a per-read offset;
#  - mismatch positions solve 11p ≡ -okey (mod 59) -> arithmetic sequence
#    with step 59, patched in with overlay();
#  - qual value (3p + okey) % 21 has period 7 -> repeat of a 7-char block.
_LN = "(pos_end - pos_start + 1)"
_C = "CAST(contig AS INT)"
_REF_OFF = f"element_at(array(0, 3, 2, 1), CAST((pos_start * 7 + {_C} * 13) % 4 AS INT) + 1)"
_REF_SEQ = f"substr(repeat('ATGC', {_LN} div 4 + 2), {_REF_OFF} + 1, {_LN})"
_FIRST_MISM = (
    "pos_start + CAST((((((59 - okey % 59) % 59) * 43) % 59 - pos_start) % 59 + 59) % 59 AS INT)"
)
_ALT_CHAR = (
    f"substr('ACGT', 1 + CAST((p * 7 + {_C} * 13 + 1 + okey % 3) % 4 AS INT), 1)"
)
_SEQ_FAST = f"""
CASE WHEN {_FIRST_MISM} > pos_end THEN {_REF_SEQ}
ELSE aggregate(
  sequence(CAST({_FIRST_MISM} AS BIGINT), CAST(pos_end AS BIGINT), 59),
  {_REF_SEQ},
  (acc, p) -> overlay(acc, {_ALT_CHAR}, CAST(p - pos_start + 1 AS INT), 1))
END
"""
_QPH = f"CAST((pos_start * 3 + okey) % 21 AS INT)"
_QBLOCK = "concat(" + ", ".join(
    f"char(53 + ({_QPH} + {3 * j}) % 21)" for j in range(7)
) + ")"
_QUAL_FAST = f"substr(repeat({_QBLOCK}, {_LN} div 7 + 2), 1, {_LN})"

_READS_SEQ_SPARK_FAST = f"""
SELECT
  okey, sample_id, qname, flag, contig, pos_start, pos_end, mapq, cigar,
  {_SEQ_FAST} AS seq,
  {_QUAL_FAST} AS qual
FROM __reads_base
"""


def reads_with_seq_sql(dialect: str) -> str:
    if dialect == "spark":
        inner = _READS_SEQ_SPARK_FAST
    elif dialect == "spark_lambda":
        inner = _READS_SEQ_SPARK
    else:
        inner = _READS_SEQ_DUCK
    return inner.replace("__reads_base", f"({READS_SQL}) __rb")


def ref_base_col(contig, pos):
    """Spark Column equivalent of ``ref_base_sql`` — the deterministic
    reference base at (contig, pos)."""
    from pyspark.sql import functions as F

    idx = (pos * 7 + contig.cast("int") * 13) % 4
    return F.lit("ACGT").substr((idx + 1).cast("int"), F.lit(1))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the base parquet tables + derived genomic views as temp views."""
    for name in TABLES:
        spark.read.parquet(f"{sf_dir}/{name}.parquet").createOrReplaceTempView(name)
    spark.sql(READS_SQL).createOrReplaceTempView("reads")
    spark.sql(TARGETS_SQL).createOrReplaceTempView("targets")


def _reg_par(spark: SparkSession, sf_dir: str, name: str) -> None:
    # The small-SF parquet inputs arrive as a single file split; the derived
    # views fan out 100-1000x (seq strings, per-base explosion), so spread
    # the narrow BASE rows across the cluster before the expensive
    # projections run (repartitioning afterwards would leave the projection
    # itself single-task).  Scale-adaptive (guide §2.4, same guard as the
    # entry's _spread, r15): when the scan already has at least half the
    # session parallelism in natural file splits — always true for the
    # many-file inputs of a real deployment — the keyless repartition (a
    # full shuffle + sort-before-repartition of the base rows) is skipped.
    # Locally (single file) behavior is identical.
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 < p:
        df = df.repartition(p)
    df.createOrReplaceTempView(name)


def reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    _reg_par(spark, sf_dir, "lineitem")
    return spark.sql(READS_SQL)


def targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    _reg_par(spark, sf_dir, "part")
    return spark.sql(TARGETS_SQL)


def longreads(spark: SparkSession, sf_dir: str) -> DataFrame:
    _reg_par(spark, sf_dir, "lineitem")
    return spark.sql(LONGREADS_SQL)


def reads_with_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    _reg_par(spark, sf_dir, "lineitem")
    return spark.sql(reads_with_seq_sql("spark"))


def reads_indel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-CIGAR alignment rows (seq/qual materialized) — the indel-aware
    pileup's oracle input."""
    _reg_par(spark, sf_dir, "lineitem")
    return spark.sql(_READS_INDEL_SEQ_SPARK)


def duck_cte(*views: str) -> str:
    """WITH-clause prefix for oracle SQL: duck_cte('reads','targets') ->
    'WITH reads AS (...), targets AS (...)'."""
    parts = []
    for v in views:
        if v == "reads":
            parts.append(f"reads AS ({READS_SQL})")
        elif v == "targets":
            parts.append(f"targets AS ({TARGETS_SQL})")
        elif v == "longreads":
            parts.append(f"longreads AS ({LONGREADS_SQL})")
        elif v == "reads_seq":
            parts.append(f"reads_seq AS ({reads_with_seq_sql('duckdb')})")
        elif v == "reads_indel":
            parts.append(f"reads_indel AS ({READS_INDEL_SQL})")
        else:
            raise KeyError(v)
    return "WITH " + ",\n".join(parts)
