"""Depth-of-coverage — event-based, fully distributed.

Semantics match the reference's coverage TVF
(pileup/model/Read.scala:27-54 — +1 at alignment-block start, -1 past its
end, for CIGAR ops that consume both read and reference (M, =, X); D/N advance
the reference with no coverage; pileup/model/ContigAggregateRDD.scala:183-232
— running cumulative sum, adjacent equal-coverage runs merged into blocks).
Output blocks are 1-based end-inclusive with coverage > 0.

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

Partitioning invariance is free: the shuffle aligns events by key, so results
do not depend on input splits (the reference needs dedicated machinery + tests
for this, tests/pileup/SamtoolsTestSuite.scala:50-64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
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


def aligned_blocks(reads: DataFrame, use_cigar: bool | None = None) -> DataFrame:
    """One row per reference-consuming aligned block of each read:
    (contig, pos_start, pos_end, <passthrough read columns>).

    With a CIGAR column, M/=/X emit blocks, D/N advance the reference
    without coverage, I/S/H/P consume no reference (Read.scala:27-54).  The
    CIGAR walk is a native fold (aggregate over regexp-extracted ops) — no
    Python in the hot path.

    When the relation carries a ``__blocks`` column (read_bam_native
    ``with_blocks=True`` — blocks computed vectorized at decode time from
    the raw cigar ops), it is exploded directly: same semantics as the
    CIGAR walk, no SQL re-parse.  An EXPLICIT ``use_cigar=False`` still
    wins (whole-span pos_start..pos_end coverage, e.g. physical/fragment
    coverage ignoring deletions) — the fast path only replaces the walk
    it is equivalent to.
    """
    if "__blocks" in reads.columns and use_cigar is not False:
        exploded = reads.select("*", F.explode("__blocks").alias("__sq_blk"))
        return exploded.select(
            "*",
            F.col("__sq_blk.s").alias("__sq_bs"),
            F.col("__sq_blk.e").alias("__sq_be"),
        ).drop("__sq_blk")
    if use_cigar is None:
        use_cigar = S.CIGAR in reads.columns
    if not use_cigar:
        return reads.select(
            "*",
            F.col(S.START).alias("__sq_bs"),
            F.col(S.END).alias("__sq_be"),
        )

    blocks = _cigar_blocks_col()
    exploded = reads.select("*", F.explode(blocks).alias("__sq_blk"))
    return exploded.select(
        "*",
        F.col("__sq_blk.s").alias("__sq_bs"),
        F.col("__sq_blk.e").alias("__sq_be"),
    ).drop("__sq_blk")


def _cigar_blocks_col():
    """``array<struct<s,e>>`` of reference-consuming aligned blocks from the
    CIGAR walk (shared by :func:`aligned_blocks` and the multi-walk
    variant): M/=/X emit, D/N advance, I/S/H/P consume nothing."""
    ops = F.regexp_extract_all(F.col(S.CIGAR), F.lit(r"(\d+)([MIDNSHP=X])"), 0)
    init = F.struct(
        F.col(S.START).cast("int").alias("off"),
        F.expr("CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>)").alias("blocks"),
    )

    def step(acc, op):
        n = F.substring(op, 1, F.length(op) - 1).cast("int")
        code = F.substring(op, -1, 1)
        consumes_ref = code.isin("M", "D", "N", "=", "X")
        emits = code.isin("M", "=", "X")
        new_blocks = F.when(
            emits,
            F.concat(
                acc["blocks"],
                F.array(
                    F.struct(
                        acc["off"].alias("s"), (acc["off"] + n - 1).cast("int").alias("e")
                    )
                ),
            ),
        ).otherwise(acc["blocks"])
        new_off = F.when(consumes_ref, acc["off"] + n).otherwise(acc["off"]).cast("int")
        return F.struct(new_off.alias("off"), new_blocks.alias("blocks"))

    folded = F.aggregate(ops, init, step)["blocks"]
    # Gapless fast path: single-run CIGARs (e.g. '100M') skip the fold
    # entirely (CaseWhen branches evaluate lazily per row).
    n1 = F.substring(F.col(S.CIGAR), 1, F.length(S.CIGAR) - 1).cast("int")
    gapless = F.array(
        F.struct(
            F.col(S.START).cast("int").alias("s"),
            (F.col(S.START) + n1 - 1).cast("int").alias("e"),
        )
    )
    return F.when(F.col(S.CIGAR).rlike("^[0-9]+[M=X]$"), gapless).otherwise(folded)


def coverage_blocks_walks(
    reads: DataFrame,
    walks: tuple[tuple[str, bool], ...] = (("span", False), ("cigar", True)),
    chunk_size: int = DEFAULT_CHUNK,
    walk_col: str = "walk",
) -> DataFrame:
    """Blocks-mode coverage for SEVERAL block walks of the same reads in ONE
    shared pipeline — row-identical to the union of per-walk
    ``coverage(reads, mode='blocks', use_cigar=uc)`` tagged with the walk
    name, but the input relation is scanned once (both walks' blocks come
    out of one tagged explode), the events cross one aggregation pipeline
    instead of one per walk, and one prefix-sum window / one boundary-merge
    pass serve every walk (guide §2.4: operations keyed the same way share
    the exchange — the walk tag only widens the key, it never changes which
    partition a (contig, chunk) group lands in).

    ``walks`` maps output tag -> use_cigar.  Every stage carries a tinyint
    walk id; the name attaches in the final projection.  A CIGAR walk
    reads the decoder's ``__blocks`` column when the relation carries it,
    as :func:`aligned_blocks` does, instead of re-parsing the CIGAR.
    """
    names = [n for n, _ in walks]
    arrays = []
    has_blocks = "__blocks" in reads.columns
    for i, (_, use_cigar) in enumerate(walks):
        if use_cigar and (has_blocks or S.CIGAR in reads.columns):
            blocks = F.col("__blocks") if has_blocks else _cigar_blocks_col()
            # NOTE: one-arg lambda built by a factory — a `lambda b, i=i`
            # two-parameter form would make F.transform pass the ARRAY
            # INDEX as the second argument, silently shadowing the walk id
            def _tag(i):
                return lambda b: F.struct(
                    F.lit(i).cast("tinyint").alias("w"),
                    b["s"].cast("int").alias("s"),
                    b["e"].cast("int").alias("e"),
                )

            # NULL cigar makes the walk's block array NULL, which would
            # nullify the whole concat and silently drop the read from
            # EVERY walk — coalesce to empty so only this walk skips it
            # (exactly what explode(NULL blocks) does in aligned_blocks)
            arrays.append(
                F.coalesce(
                    F.transform(blocks, _tag(i)),
                    F.expr(
                        "CAST(array() AS "
                        "ARRAY<STRUCT<w: TINYINT, s: INT, e: INT>>)"
                    ),
                )
            )
        else:
            arrays.append(
                F.array(
                    F.struct(
                        F.lit(i).cast("tinyint").alias("w"),
                        F.col(S.START).cast("int").alias("s"),
                        F.col(S.END).cast("int").alias("e"),
                    )
                )
            )
    tagged = reads.select(
        S.CONTIG, F.explode(F.concat(*arrays)).alias("__tb")
    ).select(
        S.CONTIG,
        F.col("__tb.w").alias("__w"),
        F.col("__tb.s").alias("bs"),
        F.col("__tb.e").alias("be"),
    )

    c_lo = F.floor((F.col("bs") - 1) / chunk_size)
    c_hi = F.floor((F.col("be") - 1) / chunk_size)
    per_chunk = tagged.select(
        S.CONTIG, "__w", "bs", "be", F.explode(F.sequence(c_lo, c_hi)).alias("chunk")
    )
    cbs = F.greatest(F.col("bs"), (F.col("chunk") * chunk_size + 1).cast("int"))
    cbe = F.least(F.col("be"), ((F.col("chunk") + 1) * chunk_size).cast("int"))
    events = per_chunk.select(
        S.CONTIG,
        "__w",
        "chunk",
        F.explode(
            F.array(
                F.struct(cbs.alias("pos"), F.lit(1).alias("delta")),
                F.struct((cbe + 1).alias("pos"), F.lit(-1).alias("delta")),
            )
        ).alias("ev"),
    ).select(
        S.CONTIG, "__w", "chunk", F.col("ev.pos").alias("pos"), F.col("ev.delta").alias("delta")
    )
    # Blocks-mode shape (see _events_to_deltas): the groupBy's own exchange
    # is the AQE stage-reuse point between the interior/merged branches.
    deltas = (
        events.groupBy("__w", S.CONTIG, "chunk", "pos")
        .agg(F.sum("delta").alias("delta"))
        .where(F.col("delta") != 0)
    )
    w_local = Window.partitionBy("__w", S.CONTIG, "chunk").orderBy("pos")
    local = deltas.select(
        "__w",
        S.CONTIG,
        "chunk",
        "pos",
        F.sum("delta").over(w_local).alias(S.COVERAGE),
        F.lead("pos").over(w_local).alias("next_pos"),
    )
    raw_blocks = local.where(
        (F.col(S.COVERAGE) > 0) & F.col("next_pos").isNotNull()
    ).select(
        "__w",
        S.CONTIG,
        F.col("pos").cast("int").alias(S.START),
        (F.col("next_pos") - 1).cast("int").alias(S.END),
        F.col(S.COVERAGE).cast("int").alias(S.COVERAGE),
    )
    at_boundary = (F.col(S.END) % chunk_size == 0) | (
        (F.col(S.START) - 1) % chunk_size == 0
    )
    interior = raw_blocks.where(~at_boundary)
    cand = raw_blocks.where(at_boundary)
    w_merge = Window.partitionBy("__w", S.CONTIG).orderBy(S.START)
    brk = (
        F.lag(S.END).over(w_merge).isNull()
        | (F.col(S.START) != F.lag(S.END).over(w_merge) + 1)
        | (F.col(S.COVERAGE) != F.lag(S.COVERAGE).over(w_merge))
    ).cast("long")
    merged = (
        cand.withColumn("brk", brk)
        .withColumn("run", F.sum("brk").over(w_merge))
        .groupBy("__w", S.CONTIG, "run")
        .agg(
            F.min(S.START).alias(S.START),
            F.max(S.END).alias(S.END),
            F.first(S.COVERAGE).alias(S.COVERAGE),
        )
        .select("__w", S.CONTIG, S.START, S.END, S.COVERAGE)
    )
    out = interior.unionByName(merged)
    name = F.element_at(F.array(*[F.lit(n) for n in names]), F.col("__w") + 1)
    return out.select(
        name.alias(walk_col), S.CONTIG, S.START, S.END, S.COVERAGE
    )


def merge_touching_blocks(blocks: DataFrame, chunk_size: int = DEFAULT_CHUNK) -> DataFrame:
    """Merge consecutive blocks that touch (next start == prev end + 1)
    into maximal islands, ignoring coverage values — the union-of-intervals
    primitive.  Two-phase chunked stitching (same design as the prefix
    sum): per-(contig, chunk) run breaks in parallel, a tiny per-chunk
    relation carries offsets and cross-chunk continuation (by boundary
    coordinates of the previous non-empty chunk, so blocks spanning many
    chunks stitch correctly)."""
    b = blocks.select(S.CONTIG, S.START, S.END).withColumn(
        "chunk", F.floor(F.col(S.START) / chunk_size)
    )
    # pre-partition once: the run-break window AND the per-chunk info
    # aggregation below both cluster on (contig, chunk), so they share
    # this single exchange
    b = b.repartition(F.col(S.CONTIG), F.col("chunk"))
    w_local = Window.partitionBy(S.CONTIG, "chunk").orderBy(S.START)
    prev_end = F.lag(S.END).over(w_local)
    brk = (prev_end.isNull() | (F.col(S.START) != prev_end + 1)).cast("long")
    loc = b.withColumn("brk", brk).withColumn("lrun", F.sum("brk").over(w_local))

    # ONE aggregation over loc yields the whole per-chunk info row (the
    # old separate ci-over-b + m-over-loc pair joined back re-evaluated
    # the blocks lineage a third time)
    w_chunks = Window.partitionBy(S.CONTIG).orderBy("chunk")
    info = (
        loc.groupBy(S.CONTIG, "chunk")
        .agg(
            F.min(S.START).alias("first_start"),
            F.max(S.END).alias("last_end"),
            F.max("lrun").alias("m"),
        )
        .withColumn(
            "cont",
            F.coalesce(
                (F.lag("last_end").over(w_chunks) + 1 == F.col("first_start")).cast("long"),
                F.lit(0),
            ),
        )
        .withColumn(
            "adj_offset",
            F.coalesce(
                F.sum("m").over(w_chunks.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
            - F.sum("cont").over(w_chunks.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .select(S.CONTIG, "chunk", "adj_offset")
    )
    return (
        loc.join(F.broadcast(info), [S.CONTIG, "chunk"])
        .withColumn("run", F.col("adj_offset") + F.col("lrun"))
        .groupBy(S.CONTIG, "run")
        .agg(
            F.min(S.START).cast("int").alias(S.START),
            F.max(S.END).cast("int").alias(S.END),
        )
        .select(S.CONTIG, S.START, S.END)
    )


def coverage(
    reads: DataFrame,
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

    ``fuse`` (default auto): when ``reads`` is the UNTRANSFORMED result of
    sources.read_bam_native, the plan is rewritten to the fused
    decode->events reader (read_bam_coverage_events +
    coverage_from_events) — same rows (pinned by
    tests/test_coverage.py), ~10x fewer shuffled rows, zero string
    rendering, the way the reference fuses coverage into its scan
    (pileup/PileupStrategy.scala:37-56).  ``fuse=False`` forces the
    declarative plan; ``fuse=True`` raises if the relation has no reader
    provenance to fuse on.
    """
    if mode not in ("blocks", "bases", "windows"):
        raise ValueError(f"unsupported mode={mode!r}")
    if mode == "windows" and not window_size:
        raise ValueError("mode='windows' requires window_size")

    csrc = getattr(reads, "_sequila_cram_source", None)
    if csrc is not None and fuse is not False and csrc["columns"] is None:
        if use_cigar is not False:
            # FULL CRAM fusion (r13): decode -> clipped coverage events
            # inside the container task — zero per-record strings, the
            # same plan shape as the BAM fusion below.  Events identity
            # vs the declarative plan is pinned by
            # tests/test_cram_native.py::test_cram_coverage_fused_events.
            from sequila_spark.sources.bam import read_cram_coverage_events

            events = read_cram_coverage_events(
                reads.sparkSession,
                csrc["path"],
                ref_path=csrc["ref_path"],
                chunk_size=chunk_size,
                flag_mask=flag_mask,
                min_mapq=min_mapq,
                contig=csrc["contig"],
                start=csrc["start"],
                end=csrc["end"],
            )
            return coverage_from_events(
                events,
                chunk_size=chunk_size,
                mode=mode,
                window_size=window_size,
                ref_bases=ref_bases,
            )
        # use_cigar=False (gapless spans): the declarative plan needs
        # pos_end, not blocks — keep the column-pruned re-read
        # (qname/tag/seq/qual rendering and Arrow transfer still never
        # happen; pinned by test_cram_coverage_prunes_decode)
        from sequila_spark.sources.bam import read_cram_native

        reads = read_cram_native(
            reads.sparkSession,
            csrc["path"],
            ref_path=csrc["ref_path"],
            contig=csrc["contig"],
            start=csrc["start"],
            end=csrc["end"],
            columns=[S.FLAG, S.CONTIG, S.START, S.END, S.MAPQ],
        )

    src = getattr(reads, "_sequila_bam_source", None)
    fusable = (
        src is not None
        and use_cigar is not False
        and src["has_cigar"]
        # the declarative filter is a no-op when the column is absent —
        # the fused reader must not filter where the unfused plan cannot
        and (flag_mask == 0 or src["has_flag"])
        and (min_mapq == 0 or src["has_mapq"])
    )
    if fuse is True and not fusable:
        raise ValueError(
            "fuse=True requires an untransformed read_bam_native relation "
            "(with cigar/flag/mapq available for the requested filters)"
        )
    if fusable and fuse is not False:
        from sequila_spark.sources.bam import read_bam_coverage_events

        events = read_bam_coverage_events(
            reads.sparkSession,
            src["path"],
            chunk_size=chunk_size,
            flag_mask=flag_mask,
            min_mapq=min_mapq,
            chunk=src["chunk"],
        )
        return coverage_from_events(
            events,
            chunk_size=chunk_size,
            mode=mode,
            window_size=window_size,
            ref_bases=ref_bases,
        )

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
