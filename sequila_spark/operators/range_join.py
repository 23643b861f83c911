"""Genomic interval (range-overlap) join — the engine's flagship operator.

Semantics match the reference's interval-tree join strategy
(rangejoins/methods/IntervalTree/IntervalTreeJoinStrategyOptim.scala:18-48,
IntervalTreeJoinOptimChromosomeImpl.scala:59-170):

  inner join ON  l.contig = r.contig
             AND l.pos_start <= r.pos_end AND l.pos_end >= r.pos_start
  with options
    max_gap     — the right (build) side is widened to
                  [pos_start - max_gap, pos_end + max_gap] before matching
                  (Impl.scala:81-87)
    min_overlap — matches kept when
                  min(le, re') - max(ls, rs') + 1 >= min_overlap, where
                  (rs', re') is the *widened* right interval (Impl.scala:111-117)

Coordinates are 1-based end-inclusive.

Architecture (Spark-first, not a port): the reference broadcasts a
driver-built interval forest — a driver-memory bottleneck at scale.  Here the
join is declared as a **binned equi-join** Catalyst can plan natively:

  1. each side explodes its interval into genomic bins of ``bin_size``;
  2. equi-join on (contig, bin) — planned as broadcast-hash or
     sort-merge/shuffled-hash join by Catalyst + AQE, with skew handling;
  3. exact overlap predicate filters bin-collisions;
  4. duplicate pairs (an overlap spanning k bins would match k times) are
     avoided *without a distinct* by keeping only the bin that contains the
     overlap start: bin == floor(max(ls, rs') / bin_size).

This one plan serves every interval width, and building it runs no Spark
job.  A wide row costs its fan-out: a row of width w = end - start becomes
floor(w / bin_size) + 1 join rows, one more when its ends straddle an extra
bin boundary (at the default bin_size a 500 bp read is 1-2 rows, a 100 kb
nanopore alignment 134-135).  Callers whose intervals are mostly wide
should raise ``bin_size`` (see ``_DEFAULT_BIN_SIZE``).

At 100 TB this is shuffle-on-(contig,bin): no driver collect, no broadcast of
row data unless one side is genuinely small (AQE decides), and bins spread a
contig's load across the cluster instead of one task per contig.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sequila_spark import schemas as S

# Candidate pairs scale as (1 + w_l/bin)(1 + w_r/bin)·bin for interval
# widths w: too-large bins admit far-apart false candidates, too-small
# bins explode each interval into many rows.  The minimum sits at
# bin ≈ sqrt(w_l·w_r); for short-read genomics (reads 100-500 bp,
# features 0.2-2 kb) that is ~300-1000.  750 measured 0.71-0.88x the
# old 5000 default across the benched join family (candidate rows
# 156M -> ~64M at sf0.1) with identical results — the anchor-bin dedup
# makes bin_size correctness-neutral, so callers with wider intervals
# (multi-kb features and up) should pass bin_size ≈ sqrt(w_l·w_r).
# At scale the smaller bin also RAISES join-key cardinality
# (contig × pos/750), spreading hot contigs across more tasks.
_DEFAULT_BIN_SIZE = 750


def range_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on_contig: tuple[str, str] | str | None = (S.CONTIG, S.CONTIG),
    left_interval: tuple[str, str] = (S.START, S.END),
    right_interval: tuple[str, str] = (S.START, S.END),
    how: str = "inner",
    min_overlap: int = 1,
    max_gap: int = 0,
    bin_size: int = _DEFAULT_BIN_SIZE,
    suffixes: tuple[str, str] = ("", "_r"),
    strategy: str = "binned",
) -> DataFrame:
    """Join rows whose [start, end] intervals overlap (optionally also
    matching a contig/chromosome equality key).

    Parameters mirror the reference confs ``minOverlap``/``maxGap``
    (utils/InternalParams.scala:51-56).  ``how`` extends the reference
    (inner only, ExtractRangeJoinKeys.scala:21) with left_semi / left_anti /
    left_outer composed from the same inner core.

    ``strategy='nested_loop'`` keeps the raw theta-join plan (used in tests to
    cross-check the binned plan; also the right call when one side is tiny).

    ``bin_size`` (binned strategy only) sets the bin width: a row of width
    w fans out into floor(w / bin_size) + 1 or + 2 join rows (the right
    side's width includes the ``2 * max_gap`` widening).  It changes only
    the cost, never the result.
    """
    if how not in ("inner", "left_semi", "left_anti", "left_outer"):
        raise ValueError(f"unsupported how={how!r}")
    if strategy not in ("binned", "nested_loop"):
        raise ValueError(f"unsupported strategy={strategy!r}")
    if bin_size <= 0:
        raise ValueError(f"bin_size must be positive, got {bin_size}")
    if min_overlap < 1:
        raise ValueError(f"min_overlap must be >= 1, got {min_overlap}")
    if max_gap < 0:
        raise ValueError(f"max_gap must be >= 0, got {max_gap}")

    if isinstance(on_contig, str):
        on_contig = (on_contig, on_contig)

    for side, (s, e), cols in (("left", left_interval, left.columns), ("right", right_interval, right.columns)):
        for col in (s, e):
            if col not in cols:
                raise ValueError(f"{side} side is missing interval column {col!r}")
    if on_contig:
        if on_contig[0] not in left.columns:
            raise ValueError(f"left side is missing contig column {on_contig[0]!r}")
        if on_contig[1] not in right.columns:
            raise ValueError(f"right side is missing contig column {on_contig[1]!r}")

    ls, le = left_interval
    rs, re = right_interval

    # Resolve name collisions: suffix every clashing right column.
    lsfx, rsfx = suffixes
    clashes = set(left.columns) & set(right.columns)
    if lsfx:
        left = left.select(
            [F.col(c).alias(c + lsfx) if c in clashes else F.col(c) for c in left.columns]
        )
        if ls in clashes:
            ls, le = ls + lsfx, le + lsfx
        lc = on_contig[0] + lsfx if (on_contig and on_contig[0] in clashes) else (on_contig[0] if on_contig else None)
    else:
        lc = on_contig[0] if on_contig else None
    if rsfx:
        right = right.select(
            [F.col(c).alias(c + rsfx) if c in clashes else F.col(c) for c in right.columns]
        )
        if rs in clashes:
            rs, re = rs + rsfx, re + rsfx
        rc = on_contig[1] + rsfx if (on_contig and on_contig[1] in clashes) else (on_contig[1] if on_contig else None)
    else:
        rc = on_contig[1] if on_contig else None

    if how == "inner":
        return _inner(left, right, lc, rc, ls, le, rs, re,
                      min_overlap, max_gap, bin_size, strategy)

    # Composed variants: run the inner core against a row-keyed left side.
    # The rowid is evaluated twice (inside `matched` and on the re-join), so
    # it must be stable across evaluations/retries: true for deterministic
    # lineages (scans, projections) and for repartition() under Spark's
    # default sortBeforeRepartition=true.  If your left side has a
    # nondeterministic upstream (e.g. a sampled or rand()-derived relation),
    # localCheckpoint() it before calling with how != 'inner'.
    keyed = left.withColumn("__sq_rowid", F.monotonically_increasing_id())
    matched = _inner(keyed, right, lc, rc, ls, le, rs, re,
                     min_overlap, max_gap, bin_size, strategy)
    matched_ids = _hint_rowids_if_left_small(
        left, matched.select("__sq_rowid").distinct()
    )
    if how == "left_semi":
        return keyed.join(matched_ids, "__sq_rowid", "left_semi").drop("__sq_rowid")
    if how == "left_anti":
        return keyed.join(matched_ids, "__sq_rowid", "left_anti").drop("__sq_rowid")
    # left_outer: matched pairs ∪ unmatched left rows null-extended
    unmatched = keyed.join(matched_ids, "__sq_rowid", "left_anti")
    right_cols = [c for c in matched.columns if c not in keyed.columns]
    unmatched = unmatched.select(
        "*", *[F.lit(None).cast(matched.schema[c].dataType).alias(c) for c in right_cols]
    )
    return matched.select(*keyed.columns, *right_cols).unionByName(unmatched).drop("__sq_rowid")


def _inner(
    left: DataFrame,
    right: DataFrame,
    lc: str | None,
    rc: str | None,
    ls: str,
    le: str,
    rs: str,
    re: str,
    min_overlap: int,
    max_gap: int,
    bin_size: int,
    strategy: str,
) -> DataFrame:
    lstart, lend = F.col(ls), F.col(le)
    # Widen the right (build) side by max_gap, as the reference widens the
    # interval-tree side (Impl.scala:81-87).
    rstart = F.col(rs) - max_gap if max_gap else F.col(rs)
    rend = F.col(re) + max_gap if max_gap else F.col(re)

    overlap = (lstart <= rend) & (lend >= rstart)
    if min_overlap > 1:
        overlap = overlap & (
            F.least(lend, rend) - F.greatest(lstart, rstart) + 1 >= min_overlap
        )
    contig_eq = (F.col(lc) == F.col(rc)) if lc else F.lit(True)

    if strategy == "nested_loop":
        out = left.join(right, contig_eq & overlap, "inner")
        return out.drop(rc) if rc and lc != rc else out

    lbin = F.explode(
        F.sequence(
            F.floor(lstart / bin_size).cast("long"),
            F.floor(lend / bin_size).cast("long"),
        )
    ).alias("__sq_bin_l")
    rbin = F.explode(
        F.sequence(
            F.floor(rstart / bin_size).cast("long"),
            F.floor(rend / bin_size).cast("long"),
        )
    ).alias("__sq_bin_r")

    lb = left.select("*", lbin)
    rb = right.select("*", rbin)

    join_cond = F.col("__sq_bin_l") == F.col("__sq_bin_r")
    if lc:
        join_cond = contig_eq & join_cond

    # Keep exactly one bin per matching pair: the bin holding the overlap
    # start — a distinct-free dedup.
    anchor = F.col("__sq_bin_l") == F.floor(F.greatest(lstart, rstart) / bin_size).cast("long")

    out = (
        lb.join(rb, join_cond, "inner")
        .where(overlap & anchor)
        .drop("__sq_bin_l", "__sq_bin_r")
    )
    return out.drop(rc) if rc and lc != rc else out


# Byte cap on the LEFT side's planner size estimate under which the
# composed variants broadcast-hint the matched-rowid relation.  64 MB of
# the (wider) left relation bounds the one-long-column rowid build table
# well inside executor broadcast budgets.  The byte estimate for parquet
# scans is COMPRESSED on-disk size (r15 ADVICE), so a highly compressed
# small file of many tiny rows can understate the in-memory hash relation
# — when the plan also knows a row count, cap the build at a few million
# rowids (8 B each -> ~64 MB of build-side payload) as a second bound.
_ROWID_BCAST_MAX_LEFT_BYTES = 64 << 20
_ROWID_BCAST_MAX_LEFT_ROWS = 8_000_000


def _hint_rowids_if_left_small(left: DataFrame, ids: DataFrame) -> DataFrame:
    """Broadcast-hint the matched-rowid relation of a composed
    (semi/anti/outer) range join when the LEFT side's own planner stats
    bound it small.  ``ids`` has at most one row per left row (a distinct
    of a left-derived rowid), but its own size estimate inherits the inner
    join's multiplied row estimate, so the planner can never pick the
    broadcast unaided — the static plan sort-merges the full left side
    against it.  Gating on ``left``'s optimizedPlan statistics costs no
    job, and ``ids`` is strictly narrower than any left relation, so the
    byte budget (plus the row cap, when the plan provides a row count)
    bounds the build side.  Past the budget the hint is withheld and AQE
    decides at runtime — the 100 TB path (same fail-safe shape as the
    dedup/similarity budget gates)."""
    from sequila_spark.planutil import plan_stats

    size, rows = plan_stats(left)
    if (
        size is not None
        and size <= _ROWID_BCAST_MAX_LEFT_BYTES
        and (rows is None or rows <= _ROWID_BCAST_MAX_LEFT_ROWS)
    ):
        return F.broadcast(ids)
    return ids


def overlap_condition(
    lc: Column, rc: Column, ls: Column, le: Column, rs: Column, re: Column
) -> Column:
    """The raw interval-overlap theta condition (ExtractRangeJoinKeysWithEquality
    pattern) for users composing their own joins."""
    return (lc == rc) & (ls <= re) & (le >= rs)
