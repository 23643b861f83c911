"""Interval-arithmetic scalar functions.

Semantics match the reference's ``RangeMethods``
(rangejoins/methods/transformations/RangeMethods.scala:15-102) and contig
normalization (utils/DataQualityFuncs.scala:9-41).  Coordinates are 1-based,
end-inclusive (SAM convention); overlap length is
``min(end1,end2) - max(start1,start2) + 1`` (RangeMethods.scala:46).

Every function is a **native Catalyst column expression** — no Python UDF in
the DataFrame path, so these stay inside whole-stage codegen.  SQL-string
surface parity (the reference registers each with a ``bdg_`` alias,
utils/UDFRegister.scala:12-41) is provided by ``register_sql_functions``.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from sequila_spark import schemas as S


def _interval(start: Column, end: Column) -> Column:
    return F.struct(
        start.cast("int").alias(S.START),
        end.cast("int").alias(S.END),
    )


def _c(x) -> Column:
    return x if isinstance(x, Column) else (F.col(x) if isinstance(x, str) else F.lit(x))


def shift(start, end, k) -> Column:
    """Interval shifted by k (RangeMethods.scala:15-18)."""
    start, end, k = _c(start), _c(end), _c(k)
    return _interval(start + k, end + k)


def resize(start, end, k, fix="center") -> Column:
    """Extend interval width by k, anchored at start/end/center
    (RangeMethods.scala:28-36).  The center case splits an odd k with the
    extra base going left (Scala int division on possibly-negative width
    matches SQL int division toward zero)."""
    start, end, k = _c(start), _c(end), _c(k)
    fix = F.lit(fix) if isinstance(fix, str) else fix
    width = end - start
    # Scala `width/2` on Int truncates toward zero; SQL DIV does too.
    half_w = _div_toward_zero(width, F.lit(2))
    center = start + half_w
    half_k = _div_toward_zero(k, F.lit(2))
    left_pad = F.when(k % 2 == 0, half_k).otherwise(half_k + 1)
    return (
        F.when(F.lower(fix) == "start", _interval(start, end + k))
        .when(F.lower(fix) == "end", _interval(start - k, end))
        .otherwise(_interval(center - (half_w + left_pad), center + (half_w + half_k)))
    )


def _div_toward_zero(a: Column, b: Column) -> Column:
    # Scala Int `/` truncates toward zero; SQL `%` keeps the dividend's sign,
    # so (a - a % b) / b is an exact division and matches Scala semantics.
    return ((a - (a % b)) / b).cast("int")


def overlap_length(start1, end1, start2, end2) -> Column:
    """min(e1,e2)-max(s1,s2)+1 (RangeMethods.scala:46); negative when disjoint."""
    start1, end1, start2, end2 = map(_c, (start1, end1, start2, end2))
    return (F.least(end1, end2) - F.greatest(start1, start2) + 1).cast("int")


def flank(start, end, width, from_start=True, both=False) -> Column:
    """Flanking interval (RangeMethods.scala:57-72)."""
    start, end, width, from_start, both = map(_c, (start, end, width, from_start, both))
    aw = F.abs(width)
    both_start = F.when(from_start, start - aw).otherwise(end - aw + 1)
    both_iv = _interval(both_start, both_start + 2 * aw - 1)
    one_start = (
        F.when(from_start & (width >= 0), start - width)
        .when(from_start & (width < 0), start)
        .when(~from_start & (width >= 0), end + 1)
        .otherwise(end + width + 1)
    )
    one_iv = _interval(one_start, one_start + aw - 1)
    return F.when(both, both_iv).otherwise(one_iv)


def promoters(start, end, upstream, downstream) -> Column:
    """(start-upstream, start+downstream-1); reference raises on negative
    args (RangeMethods.scala:82-89) — here expressed with raise_error."""
    start, end, upstream, downstream = map(_c, (start, end, upstream, downstream))
    ok = (upstream >= 0) & (downstream >= 0)
    # assert_true evaluates to NULL when the predicate holds, raises otherwise.
    guard = F.assert_true(ok, F.lit("Upstream and downstream must be >= 0"))
    return F.when(guard.isNull(), _interval(start - upstream, start + downstream - 1))


def reflect(start, end, bound_start, bound_end) -> Column:
    """Mirror interval within bounds: newStart = 2*bS + (bE-bS) - end
    (RangeMethods.scala:99-102)."""
    start, end, bound_start, bound_end = map(_c, (start, end, bound_start, bound_end))
    new_start = 2 * bound_start + (bound_end - bound_start) - end
    return _interval(new_start, new_start + end - start)


# --- contig normalization (utils/DataQualityFuncs.scala:9-41) ----------------

def merge_intervals(
    df,
    on_contig: str = "contig",
    start_col: str = "pos_start",
    end_col: str = "pos_end",
    max_gap: int = 0,
    chunk_size: int = 1_000_000,
):
    """Union of intervals (bedtools-merge / GRanges reduce analog): merge
    intervals whose gaps are <= max_gap into maximal islands, with the
    number of source intervals per island.

    Scalable shape: islands fall out of the event-based prefix sum (the
    coverage machinery's two-phase chunked design — no per-contig serial
    window): widen each interval's end by max_gap, take covered runs, then
    trim the trailing widening.  Interval counts come from a broadcast-free
    second aggregation keyed by island via a range join on containment of
    the interval start.
    """
    from pyspark.sql import functions as F

    from sequila_spark import schemas as S
    from sequila_spark.operators.coverage import coverage
    from sequila_spark.operators.range_join import range_join

    reads_shape = df.select(
        F.col(on_contig).alias(S.CONTIG),
        F.col(start_col).alias(S.START),
        (F.col(end_col) + max_gap).alias(S.END),
    )
    from sequila_spark.operators.coverage import merge_touching_blocks

    blocks = coverage(reads_shape, mode="blocks", use_cigar=False, chunk_size=chunk_size)
    # consecutive covered blocks touch exactly (equal-cov runs partition the
    # covered region); islands = runs of blocks with no gap between them.
    islands = merge_touching_blocks(blocks, chunk_size=chunk_size).select(
        S.CONTIG,
        F.col(S.START),
        (F.col(S.END) - max_gap).cast("int").alias(S.END),  # trim widening
    )
    counts = range_join(
        islands,
        df.select(
            F.col(on_contig).alias(S.CONTIG),
            F.col(start_col).alias(S.START),
            F.col(start_col).alias(S.END),  # count each interval once, by its start
        ),
        how="inner",
    )
    return (
        counts.groupBy(S.CONTIG, S.START, S.END)
        .agg(F.count("*").cast("long").alias("n_intervals"))
    )


def clean_contig(contig) -> Column:
    """chr1->1, chrM/chrMT/M->MT, generic 'chr' prefix stripped."""
    c = _c(contig)
    stripped = F.regexp_replace(c, "^chr", "")
    return (
        F.when(c.isNull(), c)
        .when((c == "chrM") | (c == "chrMT") | (c == "M"), F.lit("MT"))
        .when(c.startswith("chr"), stripped)
        .otherwise(c)
    )


def clean_contig_py(contig: str | None) -> str | None:
    """Driver-side (plain Python) clean_contig — same normalization as the
    Column expression, for plan-time uses like CRAM container pruning."""
    if contig is None:
        return None
    if contig in ("chrM", "chrMT", "M"):
        return "MT"
    return contig[3:] if contig.startswith("chr") else contig


def unclean_contig(contig) -> Column:
    """Inverse rendering: 1->chr1, MT->chrM (DataQualityFuncs.scala:42-72)."""
    c = _c(contig)
    return (
        F.when(c.isNull(), c)
        .when(c == "MT", F.lit("chrM"))
        .otherwise(F.concat(F.lit("chr"), c))
    )


# --- SQL registration --------------------------------------------------------

_IV = "STRUCT<pos_start: INT, pos_end: INT>"

_SQL_BODIES = {
    # name -> (args, return type, SQL body matching the native fn)
    "shift": (
        "start INT, end INT, k INT",
        _IV,
        "named_struct('pos_start', start + k, 'pos_end', end + k)",
    ),
    "overlap": (
        "s1 INT, e1 INT, s2 INT, e2 INT",
        "INT",
        "CAST(least(e1, e2) - greatest(s1, s2) + 1 AS INT)",
    ),
    "overlaplength": (
        "s1 INT, e1 INT, s2 INT, e2 INT",
        "INT",
        "CAST(least(e1, e2) - greatest(s1, s2) + 1 AS INT)",
    ),
    "promoters": (
        "start INT, end INT, up INT, down INT",
        _IV,
        "CASE WHEN up < 0 OR down < 0 THEN raise_error('Upstream and downstream must be >= 0') "
        "ELSE named_struct('pos_start', start - up, 'pos_end', start + down - 1) END",
    ),
    "reflect": (
        "start INT, end INT, bs INT, be INT",
        _IV,
        "named_struct('pos_start', 2*bs + (be-bs) - end, "
        "'pos_end', 2*bs + (be-bs) - end + (end - start))",
    ),
    "resize": (
        "start INT, end INT, k INT, fix STRING",
        _IV,
        "CASE lower(fix) "
        " WHEN 'start' THEN named_struct('pos_start', start, 'pos_end', end + k) "
        " WHEN 'end' THEN named_struct('pos_start', start - k, 'pos_end', end) "
        " ELSE named_struct("
        "   'pos_start', (start + (end-start) div 2) - ((end-start) div 2 + (CASE WHEN k % 2 = 0 THEN k div 2 ELSE k div 2 + 1 END)),"
        "   'pos_end',   (start + (end-start) div 2) + ((end-start) div 2 + k div 2)) "
        "END",
    ),
    "flank": (
        "start INT, end INT, w INT, fromStart BOOLEAN, both BOOLEAN",
        _IV,
        "CASE WHEN both THEN named_struct("
        "  'pos_start', CASE WHEN fromStart THEN start - abs(w) ELSE end - abs(w) + 1 END,"
        "  'pos_end',   CASE WHEN fromStart THEN start - abs(w) ELSE end - abs(w) + 1 END + 2*abs(w) - 1) "
        "ELSE named_struct("
        "  'pos_start', CASE WHEN fromStart AND w >= 0 THEN start - w "
        "                    WHEN fromStart THEN start "
        "                    WHEN w >= 0 THEN end + 1 "
        "                    ELSE end + w + 1 END,"
        "  'pos_end',   CASE WHEN fromStart AND w >= 0 THEN start - w "
        "                    WHEN fromStart THEN start "
        "                    WHEN w >= 0 THEN end + 1 "
        "                    ELSE end + w + 1 END + abs(w) - 1) "
        "END",
    ),
    "clean_contig": (
        "c STRING",
        "STRING",
        "CASE WHEN c IS NULL THEN c "
        " WHEN c IN ('chrM','chrMT','M') THEN 'MT' "
        " WHEN c LIKE 'chr%' THEN substr(c, 4) "
        " ELSE c END",
    ),
    "unclean_contig": (
        "c STRING",
        "STRING",
        "CASE WHEN c IS NULL THEN c "
        " WHEN c = 'MT' THEN 'chrM' "
        " ELSE concat('chr', c) END",
    ),
}


def register_sql_functions(spark: SparkSession) -> None:
    """Register the SQL surface as **SQL temp functions** (pure Catalyst
    expressions — still codegen-friendly, unlike Python UDFs).  Each function
    is also aliased with the reference's ``bdg_`` prefix."""
    for name, (args, rtype, body) in _SQL_BODIES.items():
        # 'reflect' collides with Spark's built-in java-reflection function —
        # only the bdg_ alias is registered for it.
        names = (f"bdg_{name}",) if name == "reflect" else (name, f"bdg_{name}")
        for fname in names:
            spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {fname}({args}) "
                f"RETURNS {rtype} RETURN {body}"
            )
