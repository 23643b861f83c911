"""Depth-of-coverage — event-based, fully distributed.

Semantics match the reference's coverage TVF
(pileup/model/Read.scala:27-54 — +1 at alignment-block start, -1 past its
end, for CIGAR ops that consume both read and reference (M, =, X); D/N advance
the reference with no coverage; pileup/model/ContigAggregateRDD.scala:183-232
— running cumulative sum, adjacent equal-coverage runs merged into blocks).
Output blocks are 1-based end-inclusive with coverage > 0.  Aligned blocks
come from cigar_blocks, the one CIGAR walk, which pileup shares.

Architecture.  The reference keeps per-partition Short arrays and fixes up
partition boundaries with driver-side interval trees
(AlignmentsRDD.scala:148-236) — correct but driver-coordinated.  Here the
computation is a declarative dataflow Catalyst can schedule anywhere:

  clip      : each aligned block is CUT at chunk boundaries (a block spans
              len/chunk_size+1 chunks; short reads: almost always one), so
              every (contig, chunk) group is fully self-contained — no
              cross-chunk carry exists by construction
  events    : per clipped block, (chunk, start, +1) and (chunk, end+1, -1)
  deltas    : groupBy (contig, chunk, pos) sum — map-side partial
              aggregation; positions with net 0 drop out (equal-run merging
              falls out)
  prefix sum: ONE window inside (contig, chunk) — local cumulative sum +
              lead(pos) = change-point blocks, all chunks in parallel.  No
              single-task-per-contig window, so one 250 Mbp chromosome does
              not serialize onto one executor — this survives a 100 TB
              scale-up.
  stitch    : runs artificially split at a chunk boundary (same coverage on
              both sides) are re-merged in a tiny pass over ONLY the
              boundary-touching rows (<= 2 per chunk) — O(|genome|/chunk)
              rows, not data-sized.

(An earlier two-phase design kept whole blocks and broadcast per-chunk
prefix offsets back; it computed the data-sized deltas relation in two
plan branches — the clip design needs one branch, one big shuffle, no
broadcast, and measured 1.3x faster end-to-end at equal chunk size.)

merge_touching_blocks (interval union) and pileup.pileup_blocks number
their runs with one chunked stitcher, chunked_run_ids.

Partitioning invariance is free: the shuffle aligns events by key, so results
do not depend on input splits (the reference needs dedicated machinery + tests
for this, tests/pileup/SamtoolsTestSuite.scala:50-64).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sequila_spark import schemas as S

DEFAULT_FLAG_MASK = 1796  # pileup/conf/Conf.scala:8
# 16 kb = the BAI linear-index window: deep regions parallelize across
# many chunks (a 1 Mb default once serialized a dense 23 Mb slice onto a
# couple of window tasks), while the per-chunk relation stays tiny even
# at WGS scale (3 Gbp / 16 kb ~ 190k chunk rows).  Short reads clip into
# 1-2 chunks; long-read callers pass a larger chunk_size.
DEFAULT_CHUNK = 16_384


def filter_reads(
    reads: DataFrame,
    flag_mask: int = DEFAULT_FLAG_MASK,
    min_mapq: int = 0,
) -> DataFrame:
    """Read quality filter (pileup/model/AlignmentsRDD.scala:132-145):
    drop null/empty contig, flagged reads (unmapped/secondary/dup/QC-fail —
    mask 1796), inverted coordinates, low mapq."""
    out = reads.where(
        F.col(S.CONTIG).isNotNull()
        & (F.col(S.CONTIG) != "")
        & (F.col(S.START) <= F.col(S.END))
    )
    if flag_mask and S.FLAG in reads.columns:
        out = out.where(F.col(S.FLAG).bitwiseAND(F.lit(flag_mask)) == 0)
    if min_mapq and S.MAPQ in reads.columns:
        out = out.where(F.col(S.MAPQ) >= min_mapq)
    return out


def _advance(field: str, codes: str) -> str:
    """SQL: the fold's ``field`` after the op, advanced by the op's length
    when its code is one of ``codes``."""
    codes_in = ", ".join(f"'{c}'" for c in codes)
    return (
        f"CAST(CASE WHEN substring(op, -1, 1) IN ({codes_in}) "
        f"THEN acc.{field} + CAST(substring(op, 1, length(op) - 1) AS INT) "
        f"ELSE acc.{field} END AS INT)"
    )


# The fold is SQL text: one parse builds it, where the same expression
# tree built through the Column API took about a thousand py4j calls.
# Gapless fast path: single-run CIGARs (e.g. '100M') skip the fold
# entirely (CaseWhen branches evaluate lazily per row).
_CIGAR_BLOCKS_SQL = f"""
CASE WHEN {S.CIGAR} RLIKE '^[0-9]+[M=X]$'
THEN array(named_struct('s', CAST({S.START} AS INT), 'q', 0, 'm', 0,
  'n', CAST(substring({S.CIGAR}, 1, length({S.CIGAR}) - 1) AS INT)))
ELSE aggregate(
  regexp_extract_all({S.CIGAR}, '([0-9]+)([MIDNSHP=X])', 0),
  named_struct('r', CAST({S.START} AS INT), 'q', 0, 'm', 0,
    'blocks', CAST(array() AS ARRAY<STRUCT<s: INT, q: INT, m: INT, n: INT>>)),
  (acc, op) -> named_struct(
    'r', {_advance("r", "MDN=X")},
    'q', {_advance("q", "MIS=X")},
    'm', {_advance("m", "MD=X")},
    'blocks', CASE WHEN substring(op, -1, 1) IN ('M', '=', 'X')
      THEN concat(acc.blocks, array(named_struct('s', acc.r, 'q', acc.q, 'm', acc.m,
        'n', CAST(substring(op, 1, length(op) - 1) AS INT))))
      ELSE acc.blocks END)
).blocks
END"""


def cigar_blocks() -> Column:
    """The one CIGAR walk over the ``cigar`` and ``pos_start`` columns:
    ``array<struct<s, q, m, n>>`` of each aligned block's reference start,
    0-based query offset, MD-space offset and length (Read.scala:27-69).

    M/=/X consume reference and query and emit a block; D/N advance the
    reference; I/S advance the query; H/P consume nothing.  The MD tag
    covers aligned and deleted bases only, so N consumes no MD space.  A
    native fold (aggregate over regexp-extracted ops) — no Python in the
    hot path; a NULL CIGAR gives NULL and ``*`` no blocks."""
    return F.expr(_CIGAR_BLOCKS_SQL)


def aligned_blocks(reads: DataFrame, use_cigar: bool | None = None) -> DataFrame:
    """One row per reference-consuming aligned block of each read:
    (<read columns>, __sq_bs, __sq_be) — the block's first and last
    reference position.

    With a CIGAR column (``use_cigar`` default: on when one exists) the
    blocks come from :func:`cigar_blocks`; without it each read is one
    block from pos_start to pos_end (e.g. physical/fragment coverage that
    ignores deletions)."""
    if use_cigar is None:
        use_cigar = S.CIGAR in reads.columns
    if not use_cigar:
        return reads.select(
            "*",
            F.col(S.START).alias("__sq_bs"),
            F.col(S.END).alias("__sq_be"),
        )
    exploded = reads.select("*", F.explode(cigar_blocks()).alias("__sq_blk"))
    return exploded.select(
        "*",
        F.col("__sq_blk.s").alias("__sq_bs"),
        (F.col("__sq_blk.s") + F.col("__sq_blk.n") - 1).cast("int").alias("__sq_be"),
    ).drop("__sq_blk")


def chunked_run_ids(
    rows: DataFrame, chunk_size: int, key: str | None = None
) -> DataFrame:
    """``rows`` — disjoint (contig, pos_start, pos_end) intervals — with a
    ``run`` column numbering their runs: a row continues the run of the
    row before it (by pos_start, within its contig) when it starts one
    past that row's end and, given ``key``, carries the same ``key``
    value.  Ids are unique per contig.

    Chunked, so no window spans a whole contig: run breaks are found
    inside each (contig, chunk) in parallel, and one aggregate over the
    same pre-partitioned rows gives each chunk's boundary rows and run
    count.  That tiny per-chunk relation decides which chunk-initial runs
    continue the previous non-empty chunk's last run (by its end
    coordinate, so a row spanning many chunks stitches) and offsets the
    local run numbers to global ids; it is broadcast back."""
    b = rows.withColumn("__chunk", F.floor(F.col(S.START) / chunk_size))
    # pre-partition once: the run-break window AND the per-chunk aggregate
    # both cluster on (contig, chunk), so they share this single exchange
    b = b.repartition(F.col(S.CONTIG), F.col("__chunk"))
    w_local = Window.partitionBy(S.CONTIG, "__chunk").orderBy(S.START)
    prev_end = F.lag(S.END).over(w_local)
    brk = prev_end.isNull() | (F.col(S.START) != prev_end + 1)
    if key is not None:
        brk = brk | (F.col(key) != F.lag(key).over(w_local))
    # two projections: a window function result cannot feed another window
    # function within one select
    loc = b.withColumn("__brk", brk.cast("long")).withColumn(
        "__lrun", F.sum("__brk").over(w_local)
    )

    # ONE aggregation over loc yields the whole per-chunk info row (a
    # separate boundary aggregate joined to a run-count aggregate
    # re-evaluates the rows' lineage)
    edges = [
        F.min(S.START).alias("__first"),
        F.max(S.END).alias("__last"),
        F.max("__lrun").alias("__m"),
    ]
    w_chunks = Window.partitionBy(S.CONTIG).orderBy("__chunk")
    cont = F.lag("__last").over(w_chunks) + 1 == F.col("__first")
    if key is not None:
        edges += [
            F.min_by(key, S.START).alias("__first_key"),
            F.max_by(key, S.START).alias("__last_key"),
        ]
        cont = cont & (F.lag("__last_key").over(w_chunks) == F.col("__first_key"))
    info = (
        loc.groupBy(S.CONTIG, "__chunk")
        .agg(*edges)
        .withColumn("__cont", F.coalesce(cont.cast("long"), F.lit(0)))
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum("__m").over(w_chunks.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
            - F.sum("__cont").over(w_chunks.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .select(S.CONTIG, "__chunk", "__offset")
    )
    return loc.join(F.broadcast(info), [S.CONTIG, "__chunk"]).select(
        *rows.columns, (F.col("__offset") + F.col("__lrun")).alias("run")
    )


def merge_touching_blocks(blocks: DataFrame, chunk_size: int = DEFAULT_CHUNK) -> DataFrame:
    """Merge consecutive blocks that touch (next start == prev end + 1)
    into maximal islands, ignoring coverage values — the union-of-intervals
    primitive, stitched across chunks by :func:`chunked_run_ids`."""
    runs = chunked_run_ids(blocks.select(S.CONTIG, S.START, S.END), chunk_size)
    return runs.groupBy(S.CONTIG, "run").agg(
        F.min(S.START).cast("int").alias(S.START),
        F.max(S.END).cast("int").alias(S.END),
    ).select(S.CONTIG, S.START, S.END)


def coverage(
    reads: DataFrame | Reader,
    *,
    mode: str = "blocks",
    window_size: int | None = None,
    use_cigar: bool | None = None,
    flag_mask: int = 0,
    min_mapq: int = 0,
    chunk_size: int = DEFAULT_CHUNK,
    ref_bases: DataFrame | None = None,
    fuse: bool | None = None,
) -> DataFrame:
    """Depth of coverage over alignment-shaped rows.

    mode='blocks'  -> (contig, pos_start, pos_end, coverage int) merged runs
    mode='bases'   -> (contig, pos_start, pos_end, coverage) one row per base
                      (pos_start == pos_end)
    mode='windows' -> fixed-length windows with the arithmetic mean of
                      per-base coverage (docs/source/function/function.rst);
                      requires window_size

    ``flag_mask``/``min_mapq`` apply the reference's read filter when set
    (callers may pre-filter instead).  ``ref_bases`` — a (contig, pos, ref)
    relation (sources.read_fasta_bases) — attaches the reference base in
    bases mode, matching the reference Coverage row schema
    (utvf/ResolveTableValuedFunctionsSeq.scala:239).

    ``reads`` may also be a sources.bam.Reader, a reader call's plan (the
    SQL TVFs pass one narrowed to a sample).

    ``fuse`` (default auto): when ``reads`` is a read_bam_native or
    full-column read_cram_native relation by plan identity
    (sources.bam.reader_of: the reader's result, or a view or
    ``spark.table`` of it; a transformed relation misses), or a Reader,
    the plan is the fused decode->events reader (Reader.events +
    coverage_from_events) over the spans or containers the reader call
    planned — same rows (pinned by tests/test_coverage.py), ~10x fewer
    shuffled rows, zero string rendering, the way the reference fuses
    coverage into its scan (pileup/PileupStrategy.scala:37-56).  Nothing
    is planned or broadcast again.  ``fuse=False`` forces the declarative
    plan; ``fuse=True`` raises when there is no reader relation to fuse.
    """
    if mode not in ("blocks", "bases", "windows"):
        raise ValueError(f"unsupported mode={mode!r}")
    if mode == "windows" and not window_size:
        raise ValueError("mode='windows' requires window_size")

    from sequila_spark.sources.bam import Reader, reader_of

    src = None if fuse is False else reader_of(reads)
    if src is not None and src.kind == "cram":
        if src.options["columns"] is not None:
            src = None  # only a full-column CRAM relation is routed
        elif use_cigar is False:
            # gapless spans: the declarative plan needs pos_end, not
            # blocks — a column-pruned re-read of the plan (qname/tag/seq/
            # qual rendering and Arrow transfer never happen; pinned by
            # test_cram_coverage_gapless_prunes_decode)
            reads, src = src.rows(columns=[S.FLAG, S.CONTIG, S.START, S.END, S.MAPQ]), None

    cols = src.options["columns"] if src is not None else None

    def has(c: str) -> bool:
        return cols is None or c in cols

    fusable = (
        src is not None
        and use_cigar is not False
        # aligned-block semantics require the cigar walk
        and has(S.CIGAR)
        # the declarative filter is a no-op when the column is absent —
        # the fused reader must not filter where the unfused plan cannot
        and (flag_mask == 0 or has(S.FLAG))
        and (min_mapq == 0 or has(S.MAPQ))
    )
    if fuse is True and not fusable:
        raise ValueError(
            "fuse=True requires a read_bam_native or full-column "
            "read_cram_native relation, a view of one or a Reader (with "
            "cigar/flag/mapq available for the requested filters)"
        )
    if fusable:
        # decode -> clipped coverage events inside the decode task, from
        # the reader's own plan: zero per-record strings.  Events identity
        # vs the declarative plan is pinned by tests/test_coverage.py and
        # tests/test_cram_native.py::test_cram_coverage_fused_events.
        return coverage_from_events(
            src.events(chunk_size, flag_mask, min_mapq),
            chunk_size=chunk_size,
            mode=mode,
            window_size=window_size,
            ref_bases=ref_bases,
        )

    if isinstance(reads, Reader):
        reads = reads.rows()
    if flag_mask or min_mapq:
        reads = filter_reads(reads, flag_mask=flag_mask, min_mapq=min_mapq)

    blk = aligned_blocks(reads, use_cigar=use_cigar).select(
        F.col(S.CONTIG), F.col("__sq_bs").alias("bs"), F.col("__sq_be").alias("be")
    )

    # Clip each block at chunk boundaries, so each (contig, chunk) group is
    # self-contained: a block [bs, be] contributes to every chunk it
    # touches, with start/end clamped into that chunk.  Short reads clip
    # into one chunk almost always (two at a boundary); the duplication
    # factor is 1 + block_len/chunk_size.
    c_lo = F.floor((F.col("bs") - 1) / chunk_size)
    c_hi = F.floor((F.col("be") - 1) / chunk_size)
    per_chunk = blk.select(
        S.CONTIG, "bs", "be", F.explode(F.sequence(c_lo, c_hi)).alias("chunk")
    )
    cbs = F.greatest(F.col("bs"), (F.col("chunk") * chunk_size + 1).cast("int"))
    cbe = F.least(F.col("be"), ((F.col("chunk") + 1) * chunk_size).cast("int"))
    events = per_chunk.select(
        S.CONTIG,
        "chunk",
        F.explode(
            F.array(
                F.struct(cbs.alias("pos"), F.lit(1).alias("delta")),
                F.struct((cbe + 1).alias("pos"), F.lit(-1).alias("delta")),
            )
        ).alias("ev"),
    ).select(
        S.CONTIG, "chunk", F.col("ev.pos").alias("pos"), F.col("ev.delta").alias("delta")
    )

    deltas = _events_to_deltas(events, mode)
    return _deltas_to_coverage(
        deltas,
        chunk_size=chunk_size,
        mode=mode,
        window_size=window_size,
        ref_bases=ref_bases,
    )


def _events_to_deltas(events: DataFrame, mode: str) -> DataFrame:
    """Net per-(contig, chunk, pos) deltas.  In bases/windows mode the
    events are pre-partitioned by (contig, chunk), so the groupBy here AND
    the prefix-sum window downstream share ONE exchange
    (HashPartitioning(contig, chunk) satisfies both clusterings — the same
    collapse as _pileup_sparse; measured 0.83x on coverage_windows,
    identical rows).  Blocks mode deliberately keeps the plain groupBy:
    its interior/merged branches both consume the window output, and the
    post-aggregation exchange is the materialization point AQE stage
    reuse shares between them — collapsing it made each branch re-run
    the aggregation (measured 1.19x SLOWER)."""
    if mode != "blocks":
        events = events.repartition(F.col(S.CONTIG), F.col("chunk"))
    return (
        events.groupBy(S.CONTIG, "chunk", "pos")
        .agg(F.sum("delta").alias("delta"))
        .where(F.col("delta") != 0)
    )


def coverage_from_events(
    events: DataFrame,
    *,
    chunk_size: int = DEFAULT_CHUNK,
    mode: str = "blocks",
    window_size: int | None = None,
    ref_bases: DataFrame | None = None,
) -> DataFrame:
    """Coverage from a pre-clipped (contig, chunk, pos, delta) event
    relation — the output of sources.read_bam_coverage_events, which
    clips blocks at chunk boundaries and pre-aggregates deltas INSIDE the
    decode task.  ``chunk_size`` must match the reader's (the clip
    boundaries define the self-contained chunks); a mismatch would
    silently leave boundary splits unmerged, so every event row is
    asserted to lie inside its chunk's range — one comparison per row,
    raising at execution time on the first inconsistent row."""
    if mode not in ("blocks", "bases", "windows"):
        raise ValueError(f"unsupported mode={mode!r}")
    if mode == "windows" and not window_size:
        raise ValueError("mode='windows' requires window_size")
    in_chunk = (F.col("pos") > F.col("chunk") * chunk_size) & (
        F.col("pos") <= (F.col("chunk") + 1) * chunk_size + 1
    )
    # assert_true returns NULL on success, so the filter passes every
    # valid row; an `| lit(True)` variant would let Catalyst constant-fold
    # the assertion away entirely
    events = events.where(
        F.assert_true(
            in_chunk,
            F.lit(
                f"coverage_from_events: event outside its chunk — the "
                f"events were clipped with a different chunk_size than "
                f"{chunk_size}"
            ),
        ).isNull()
    )
    deltas = _events_to_deltas(events, mode)
    return _deltas_to_coverage(
        deltas,
        chunk_size=chunk_size,
        mode=mode,
        window_size=window_size,
        ref_bases=ref_bases,
    )


def _deltas_to_coverage(
    deltas: DataFrame,
    *,
    chunk_size: int,
    mode: str,
    window_size: int | None,
    ref_bases: DataFrame | None,
) -> DataFrame:
    """Shared tail: net per-(contig, chunk, pos) deltas -> coverage rows."""
    # ONE window: local cumulative sum + next change point.  The final
    # event of each chunk always has local cum 0 (every clipped block
    # closes inside its chunk), so next_pos null rows carry no coverage.
    w_local = Window.partitionBy(S.CONTIG, "chunk").orderBy("pos")
    local = deltas.select(
        S.CONTIG,
        "chunk",
        "pos",
        F.sum("delta").over(w_local).alias(S.COVERAGE),
        F.lead("pos").over(w_local).alias("next_pos"),
    )
    raw_blocks = local.where(
        (F.col(S.COVERAGE) > 0) & F.col("next_pos").isNotNull()
    ).select(
        S.CONTIG,
        F.col("pos").cast("int").alias(S.START),
        (F.col("next_pos") - 1).cast("int").alias(S.END),
        F.col(S.COVERAGE).cast("int").alias(S.COVERAGE),
    )

    # Re-merge runs the clipping artificially split at a chunk boundary:
    # only rows touching a boundary can participate (<= 2 per chunk —
    # O(|genome|/chunk_size) rows, not data-sized), interior rows pass
    # through untouched.  Within a chunk, consecutive change points differ
    # in coverage by construction (delta != 0), so no interior merging is
    # ever needed.  ONLY blocks mode needs it at all: bases mode explodes
    # every block to single positions (identical base set whether a
    # constant run is split or not), and windows mode weights blocks by
    # window overlap (additive across any split) — both are
    # split-invariant, so they skip the merge stages.
    if mode != "blocks":
        blocks = raw_blocks
        if mode == "bases":
            return _bases_from_blocks(blocks, ref_bases)
        return _windows_from_blocks(blocks, int(window_size))

    at_boundary = (F.col(S.END) % chunk_size == 0) | (
        (F.col(S.START) - 1) % chunk_size == 0
    )
    interior = raw_blocks.where(~at_boundary)
    cand = raw_blocks.where(at_boundary)
    w_merge = Window.partitionBy(S.CONTIG).orderBy(S.START)
    brk = (
        F.lag(S.END).over(w_merge).isNull()
        | (F.col(S.START) != F.lag(S.END).over(w_merge) + 1)
        | (F.col(S.COVERAGE) != F.lag(S.COVERAGE).over(w_merge))
    ).cast("long")
    merged = (
        cand.withColumn("brk", brk)
        .withColumn("run", F.sum("brk").over(w_merge))
        .groupBy(S.CONTIG, "run")
        .agg(
            F.min(S.START).alias(S.START),
            F.max(S.END).alias(S.END),
            F.first(S.COVERAGE).alias(S.COVERAGE),
        )
        .select(S.CONTIG, S.START, S.END, S.COVERAGE)
    )
    return interior.unionByName(merged)


def _bases_from_blocks(blocks: DataFrame, ref_bases: DataFrame | None) -> DataFrame:
    bases = blocks.select(
        S.CONTIG,
        F.explode(F.sequence(F.col(S.START), F.col(S.END))).alias("pos"),
        S.COVERAGE,
    ).select(
        S.CONTIG,
        F.col("pos").cast("int").alias(S.START),
        F.col("pos").cast("int").alias(S.END),
        S.COVERAGE,
    )
    if ref_bases is not None:
        r = ref_bases.select(
            F.col(S.CONTIG).alias("__rc"),
            F.col("pos").alias("__rp"),
            F.col(S.REF).alias(S.REF),
        )
        bases = bases.join(
            r,
            (bases[S.CONTIG] == r["__rc"]) & (bases[S.START] == r["__rp"]),
            "left",
        ).select(S.CONTIG, S.START, S.END, S.REF, S.COVERAGE)
    return bases


def _windows_from_blocks(blocks: DataFrame, w: int) -> DataFrame:
    # windows: weighted by the overlap of each block with each window —
    # blocks explode into the few windows they span, never into bases.
    win_lo = F.floor((F.col(S.START) - 1) / w).cast("long")
    win_hi = F.floor((F.col(S.END) - 1) / w).cast("long")
    per_win = blocks.select(
        S.CONTIG,
        F.col(S.START),
        F.col(S.END),
        F.col(S.COVERAGE),
        F.explode(F.sequence(win_lo, win_hi)).alias("win"),
    )
    wstart = (F.col("win") * w + 1).cast("int")
    wend = ((F.col("win") + 1) * w).cast("int")
    ov = F.least(F.col(S.END), wend) - F.greatest(F.col(S.START), wstart) + 1
    return (
        per_win.groupBy(S.CONTIG, "win")
        .agg((F.sum(F.col(S.COVERAGE) * ov) / w).alias(S.COVERAGE))
        .select(
            S.CONTIG,
            wstart.alias(S.START),
            wend.alias(S.END),
            F.col(S.COVERAGE).cast("double"),
        )
    )
