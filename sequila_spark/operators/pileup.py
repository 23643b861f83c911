"""Pileup — per-position base counts, mismatch (alt) maps and base-quality
histograms.

Semantics match the reference's pileup TVF
(utvf/ResolveTableValuedFunctionsSeq.scala:88-109 surface;
pileup/model/Read.scala:56-69 + pileup/MDTagParser.scala:24-53 mismatch
counting; pileup/model/ReadSummary.scala:37-137 quality histograms;
pileup/PileupStrategy.scala:110-118 quality binning).  Deviations documented
in schemas.py: alts are ``map<string,int>`` keyed by 1-char base strings,
quals ``map<string, array<int>>`` indexed by (possibly binned) quality value.

Architecture.  The reference walks each read against the MD tag inside a
custom physical operator.  Here each read's aligned blocks come from
coverage.cigar_blocks — the one CIGAR walk, shared with coverage — and are
exploded to per-base rows with native expressions (substring + split —
stays in whole-stage codegen), the reference base comes from a joined
reference relation (or an expression), and everything else is two hash
aggregations:

  g1 = groupBy(contig, pos, base [, qual_bin]).count()      -- map-side combine
  g2 = groupBy(contig, pos): coverage, countRef, countNonRef,
       alts = map of non-ref base counts, quals = base -> histogram array

At scale this is one shuffle keyed by genomic position — no driver state, no
partition-boundary fix-ups (shuffle alignment replaces
AlignmentsRDD.scala:148-236).  The two sparse plans — mismatches against a
reference expression (_pileup_sparse) and from the MD tag (pileup_md) —
share one tail (_sparse_tail) that counts only mismatch rows and joins them
onto coverage's per-base rows.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sequila_spark import schemas as S
from sequila_spark.operators.coverage import chunked_run_ids, cigar_blocks, filter_reads
from sequila_spark.operators.coverage import coverage as _coverage

RefExpr = Callable[[Column, Column], Column]  # (contig, pos) -> ref base


def _strand_cased(base: Column, reads_cols: list[str], strand_case: bool) -> Column:
    """samtools-style base casing: mismatch bases from reverse-strand reads
    (flag bit 16) render lowercase (SamtoolsConverter caseSensitive=true
    comparison path).  Default (strand_case=False) uppercases everything —
    the reference's case-insensitive common format.

    The casing decision depends only on read-level state (the flag), so
    expand_bases applies this to the WHOLE seq string before the per-char
    split — one UTF8String case op per read instead of one per base
    (165M at sf0.1; measured ~0.4 s off the sparse-pileup filter leg)."""
    if strand_case and S.FLAG in reads_cols:
        return F.when(
            F.col(S.FLAG).bitwiseAND(16) != 0, F.lower(base)
        ).otherwise(F.upper(base))
    return F.upper(base)


def _ci_eq(a: Column, b: Column) -> Column:
    """Case-insensitive string equality.  UTF8_LCASE collation compares
    lowercase-on-the-fly with no per-row UTF8String allocation — measured
    3.76 -> 2.66 s on the 165M-row sparse-pileup mismatch filter at sf0.1
    vs the upper()==upper() form.  Falls back to upper() when the runtime
    has no collation support (Spark < 4.0)."""
    try:
        return F.collate(a, "UTF8_LCASE") == F.collate(b, "UTF8_LCASE")
    except Exception:  # pragma: no cover - pyspark>=4 always has collate
        return F.upper(a) == F.upper(b)


# at most ONE BAQ'd reads relation stays persisted per session: repeated
# pileup(baq=..., mate_overlap=True) calls unpersist the previous call's
# cache here (LRU eviction alone never reclaims disk-spilled blocks of a
# still-referenced plan — same registry pattern as dedup._VERIFY_BCASTS)
_BAQ_CACHE: list = []


def _md_mismatch_offsets(md: Column) -> Column:
    """Fold an MD tag into ``array<struct<o: int, ref: string>>`` — the
    MD-space offset and declared reference base of every mismatch
    (pileup/MDTagParser.scala:24-53 token semantics: numbers advance,
    ``^``-prefixed runs are deletions advancing by their length, bare
    letters are mismatches advancing by one).  All-digit tags (no
    mismatches) skip the fold entirely."""
    tokens = F.regexp_extract_all(md, F.lit(r"([0-9]+|\^[A-Za-z]+|[A-Za-z])"), 1)
    empty = F.expr("CAST(array() AS ARRAY<STRUCT<o: INT, ref: STRING>>)")
    init = F.struct(F.lit(0).cast("int").alias("off"), empty.alias("mism"))

    def step(acc, t):
        is_num = t.rlike("^[0-9]+$")
        is_del = F.substring(t, 1, 1) == "^"
        adv = (
            F.when(is_num, t.cast("int"))
            .when(is_del, F.length(t) - 1)
            .otherwise(F.lit(1))
        )
        new_mism = F.when(is_num | is_del, acc["mism"]).otherwise(
            F.concat(
                acc["mism"],
                F.array(F.struct(acc["off"].alias("o"), F.upper(t).alias("ref"))),
            )
        )
        return F.struct((acc["off"] + adv).cast("int").alias("off"), new_mism.alias("mism"))

    return F.when(md.rlike("^[0-9]+$"), empty).otherwise(
        F.aggregate(tokens, init, step)["mism"]
    )


def mismatches_from_md(
    reads: DataFrame,
    strand_case: bool = False,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Per-mismatch rows (contig, pos, base, ref_base) derived purely from
    the MD tag + CIGAR — no reference genome and no seq-vs-ref comparison
    (the reference's approach, pileup/MDTagParser.scala:24-53): the MD walk
    yields each mismatch's offset and reference base, the CIGAR blocks map
    that offset to the genomic position and the query offset whose seq
    character is the alt base.

    Only rows carrying an MD value contribute (``tag_MD`` column or
    ``tags['MD']``).  Mismatch volume is ~2% of bases, so this explodes
    candidates only — the same sparse property as _pileup_sparse, without
    needing the reference at any position.

    ``passthrough`` — extra read columns carried verbatim onto each
    mismatch row (e.g. the ``ts`` event-time column for streaming
    windows); the extraction stays map-only either way."""
    if "tag_MD" in reads.columns:
        md = F.col("tag_MD")
    elif "tags" in reads.columns:
        md = F.col("tags")["MD"]
    else:
        raise ValueError("reads have neither a tag_MD column nor a tags map")

    keep = [S.CONTIG] + (
        [S.FLAG] if strand_case and S.FLAG in reads.columns else []
    ) + list(passthrough)
    rows = reads.where(md.isNotNull() & (F.col(S.CIGAR) != "*")).select(
        *keep,
        F.col(S.SEQUENCE).alias("__seq"),
        cigar_blocks().alias("__blks"),
        F.explode(_md_mismatch_offsets(md)).alias("__mm"),
    )
    o = F.col("__mm")["o"]
    blk = F.element_at(
        F.filter(
            F.col("__blks"), lambda b: (o >= b["m"]) & (o < b["m"] + b["n"])
        ),
        1,
    )
    alt = F.col("__seq").substr(blk["q"] + (o - blk["m"]) + 1, F.lit(1))
    out = rows.select(
        *keep,
        (blk["s"] + (o - blk["m"])).cast("int").alias("pos"),
        alt.alias("__alt"),
        F.col("__mm")["ref"].alias("ref_base"),
    ).where(F.col("pos").isNotNull())
    return out.select(
        S.CONTIG,
        *passthrough,
        "pos",
        _strand_cased(F.col("__alt"), reads.columns, strand_case).alias("base"),
        "ref_base",
    )


def pileup_md(
    reads: DataFrame,
    *,
    alts: bool = True,
    use_cigar: bool | None = None,
    strand_case: bool = False,
    flag_mask: int = 0,
    min_mapq: int = 0,
) -> DataFrame:
    """Per-position pileup with alts computed PURELY from the MD tag — no
    reference FASTA/relation/expression anywhere (the reference's own
    design: MDTagParser.scala walks MD, never the genome).  Enables pileup
    on seq-thin projections: only mismatch positions ever touch seq, and
    the reference base column comes from the MD declarations.

    Output matches pileup()'s alts mode on (coverage, countRef,
    countNonRef, alts); the ``ref`` column is the MD-declared reference
    base at mismatch positions and NULL at all-ref positions (the MD walk
    cannot know the rest of the genome — callers needing a full ref column
    attach a reference relation instead)."""
    if flag_mask or min_mapq:
        reads = filter_reads(reads, flag_mask=flag_mask, min_mapq=min_mapq)
    if use_cigar is None:
        use_cigar = S.CIGAR in reads.columns

    cov = _coverage(reads, mode="bases", use_cigar=use_cigar).select(
        S.CONTIG, F.col(S.START).alias("pos"), S.COVERAGE
    )
    mism = mismatches_from_md(reads, strand_case=strand_case)
    return _sparse_tail(cov, mism, alts, F.col("ref_base"))


def expand_bases(
    reads: DataFrame,
    with_quals: bool = False,
    use_cigar: bool | None = None,
    strand_case: bool = False,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Explode alignment rows into per-base rows (contig, pos, base [, qual]).

    With ``use_cigar`` (default: auto — on when a cigar column exists) each
    seq index is mapped to its reference position through the CIGAR walk:
    soft-clipped and inserted bases are skipped, deletions/splices jump the
    reference coordinate.  Without it, seq is assumed to align 1:1 from
    pos_start (gapless).  Native expressions only; qual is phred+33.

    ``carry`` names extra read-level columns copied onto every per-base row
    (used by mate-overlap adjustment, which needs read identity).
    """
    if use_cigar is None:
        use_cigar = S.CIGAR in reads.columns
    # Case the WHOLE seq string once per read (see _strand_cased), then
    # split once into a char array — ~3x faster than per-position substr
    # (one pass over the string; substr in a sequence-explode re-scans).
    # slice() drops the regex's trailing empty element.
    cased_seq = _strand_cased(F.col(S.SEQUENCE), reads.columns, strand_case)
    seq_chars = F.slice(F.split(cased_seq, "(?!^)"), 1, F.length(S.SEQUENCE))
    base = lambda c: c  # noqa: E731 — casing already applied string-level

    if use_cigar:
        blocks = cigar_blocks()
        keep = [S.CONTIG] + (
            [S.FLAG] if strand_case and S.FLAG in reads.columns else []
        ) + list(carry)
        blk = reads.select(
            *keep,
            cased_seq.alias("__seq"),
            *([F.col(S.BASEQ).alias("__qs")] if with_quals else []),
            F.explode(blocks).alias("__blk"),
        )
        # Per-block string substring, split to chars, one posexplode:
        # pos = s + i.  Substring-then-split keeps total split work equal to
        # one pass over seq (blocks are disjoint in query space) — measured
        # faster than slicing a pre-split char array through the Generate.
        sub = F.slice(
            F.split(
                F.substring(F.col("__seq"), F.col("__blk.q") + 1, F.col("__blk.n")),
                "(?!^)",
            ),
            1,
            F.col("__blk.n"),
        )
        if with_quals:
            qsub = F.slice(
                F.split(
                    F.substring(F.col("__qs"), F.col("__blk.q") + 1, F.col("__blk.n")),
                    "(?!^)",
                ),
                1,
                F.col("__blk.n"),
            )
            out = blk.select(
                *keep,
                F.col("__blk.s").alias("__s"),
                F.posexplode(F.arrays_zip(sub.alias("b"), qsub.alias("q"))).alias(
                    "__i", "__bq"
                ),
            )
            return out.select(
                F.col(S.CONTIG),
                (F.col("__s") + F.col("__i")).cast("int").alias("pos"),
                base(F.col("__bq.b")).alias("base"),
                (F.ascii(F.col("__bq.q")) - 33).cast("int").alias("qual"),
                *[F.col(c) for c in carry],
            )
        out = blk.select(
            *keep,
            F.col("__blk.s").alias("__s"),
            F.posexplode(sub).alias("__i", "__b"),
        )
        return out.select(
            F.col(S.CONTIG),
            (F.col("__s") + F.col("__i")).cast("int").alias("pos"),
            base(F.col("__b")).alias("base"),
            *[F.col(c) for c in carry],
        )

    keep = [S.CONTIG, S.START] + (
        [S.FLAG] if strand_case and S.FLAG in reads.columns else []
    ) + list(carry)
    if with_quals:
        qual_chars = F.slice(F.split(F.col(S.BASEQ), "(?!^)"), 1, F.length(S.BASEQ))
        zipped = F.arrays_zip(seq_chars.alias("b"), qual_chars.alias("q"))
        out = reads.select(*keep, F.posexplode(zipped).alias("__i", "__bq"))
        return out.select(
            F.col(S.CONTIG),
            (F.col(S.START) + F.col("__i")).cast("int").alias("pos"),
            base(F.col("__bq.b")).alias("base"),
            (F.ascii(F.col("__bq.q")) - 33).cast("int").alias("qual"),
            *[F.col(c) for c in carry],
        )
    out = reads.select(*keep, F.posexplode(seq_chars).alias("__i", "__b"))
    return out.select(
        F.col(S.CONTIG),
        (F.col(S.START) + F.col("__i")).cast("int").alias("pos"),
        base(F.col("__b")).alias("base"),
        *[F.col(c) for c in carry],
    )


def pileup(
    reads: DataFrame | Reader,
    *,
    ref: DataFrame | RefExpr | None = None,
    alts: bool = True,
    quals: bool = False,
    max_qual: int = 40,
    qual_bin_size: int = 1,
    flag_mask: int = 0,
    min_mapq: int = 0,
    use_cigar: bool | None = None,
    strand_case: bool = False,
    strategy: str = "auto",
    mate_overlap: bool = False,
    baq: str | None = None,
    baq_extended: bool = True,
    fuse: bool | None = None,
) -> DataFrame:
    """Per-position pileup rows (pos_start == pos_end == pos), matching the
    pileup TVF's 4 overloads: coverage-only, +alts, +quals, +binSize.

    ``ref`` is either a relation (contig, pos, ref) or a deterministic
    expression builder (contig, pos) -> base.  When None, the most frequent
    base at each position (deterministic tie-break: lexicographically
    smallest) is used as the reference proxy (no-FASTA mode).

    ``use_cigar`` (default auto: on when a cigar column exists) maps each
    seq index through the CIGAR walk so insertions/deletions/soft-clips
    attribute bases to the correct reference positions.  ``strand_case``
    renders mismatch bases from reverse-strand reads lowercase
    (samtools-comparison mode); ref-match counting is always case-folded.

    ``strategy`` pins the physical plan: ``"sparse"`` (mismatch-filtered,
    needs an expression-computable ref and quals=False), ``"dense"``
    (explode every base), or ``"auto"`` (sparse when eligible).  The two
    plans produce identical rows; the sweep's crosscheck uses the dense
    plan as an independent execution at scale factors where the DuckDB
    oracle cannot evaluate the per-base expansion single-node.

    ``mate_overlap=True`` applies samtools' DEFAULT overlap handling (the
    reference engine and the existing golden match ``mpileup -x``, which
    disables it): overlapping mate bases have their qualities combined/
    zeroed per htslib ``tweak_overlap_quality`` — the exact walk semantics
    live in functions/overlap.py (qname-grouped applyInPandas).
    Requires ``quals=True`` (only qualities are affected) and the qname/
    flag/rnext columns; if reads carry a ``__ord`` file-order column
    (read_bam_native(with_ordinal=True)), same-start ties break exactly as
    htslib's stream order does.

    ``baq=<fasta path>`` applies htslib's Base Alignment Quality realignment
    (``sam_prob_realn`` — on by default in samtools mpileup, off only with
    ``-B``) to every read's qualities BEFORE expansion and before the
    mate-overlap tweak, the same order as samtools (realign at read load,
    overlap tweak at pileup push).  ``baq_extended`` selects extended BAQ,
    the samtools default (flag 3 = apply+extend).  Map-only, no new
    shuffle — see functions/baq.py.  With ``mate_overlap=True`` the
    BAQ'd relation is persisted (MEMORY_AND_DISK) so the per-read HMM
    isn't recomputed per overlap branch; a module registry keeps at most
    ONE such cache per session — the next baq+mate_overlap call
    unpersists the previous one.

    ``reads`` may also be a sources.bam.Reader, a reader call's plan (the
    pileup TVF passes one narrowed to a sample).

    ``fuse`` mirrors coverage(): default auto applies the CRAM decode
    prune when ``reads`` is a full-column read_cram_native relation
    by plan identity (sources.bam.reader_of: the reader's result or a view
    of it; a filter or a projection to fewer columns misses) or such a
    Reader: a column-pruned decode of the containers and reference
    broadcast the reader call planned, nothing planned or loaded again.
    ``fuse=False`` keeps the full decode; ``fuse=True`` raises when there
    is no such relation to prune.
    """
    if strategy not in ("auto", "sparse", "dense"):
        raise ValueError(f"unknown pileup strategy: {strategy!r}")

    from sequila_spark.sources.bam import Reader, reader_of

    src = None if fuse is False else reader_of(reads)
    prune = src is not None and src.kind == "cram" and src.options["columns"] is None
    if fuse is True and not prune:
        raise ValueError(
            "fuse=True requires a full-column read_cram_native relation, a "
            "view of one or such a Reader (the prune decodes the reader's plan)"
        )
    if prune:
        # decode pruning (same contract as coverage): pileup never reads
        # tags, and qname/mate fields only under mate_overlap; qual only
        # when quals/baq ask for it — skip their rendering and transfer at
        # the CRAM decode of the reader's own plan
        need = [S.FLAG, S.CONTIG, S.START, S.END, S.MAPQ, S.CIGAR,
                S.SEQUENCE]
        if quals or baq:
            need.append(S.BASEQ)
        if mate_overlap:
            need += [S.QNAME, S.RNEXT, S.PNEXT, S.TLEN]
        reads = src.rows(columns=need)
    elif isinstance(reads, Reader):
        reads = reads.rows()
    if flag_mask or min_mapq:
        reads = filter_reads(reads, flag_mask=flag_mask, min_mapq=min_mapq)

    if baq:
        if not quals:
            raise ValueError("baq only affects base qualities — enable quals=True")
        from sequila_spark.functions.baq import baq_realn_reads

        reads = baq_realn_reads(reads, baq, extended=baq_extended)
        if mate_overlap:
            # mate_overlap_tweak_reads forks this relation into eligible/
            # rest branches (two filters over the same lineage); without a
            # persist the per-read BAQ HMM — the dominant cost of the
            # samtools default-mode path — runs once PER BRANCH.  Cached
            # blocks are read-level (pre-expansion), spill to disk, and
            # evict LRU; this is a same-stage reuse hint, not a pin.  The
            # module registry bounds a long-lived session to ONE cached
            # BAQ relation: the next call unpersists this one.
            from pyspark import StorageLevel

            while _BAQ_CACHE:
                try:
                    _BAQ_CACHE.pop().unpersist(False)
                except Exception:
                    pass  # context already stopped
            reads = reads.persist(StorageLevel.MEMORY_AND_DISK)
            _BAQ_CACHE.append(reads)

    sparse_ok = not quals and callable(ref) and not isinstance(ref, DataFrame)
    if strategy == "sparse" and not sparse_ok:
        raise ValueError(
            "strategy='sparse' needs an expression-computable ref and quals=False"
        )
    if sparse_ok and strategy in ("auto", "sparse"):
        return _pileup_sparse(reads, ref, alts, use_cigar=use_cigar, strand_case=strand_case)

    if mate_overlap:
        if not quals:
            raise ValueError(
                "mate_overlap only affects base qualities — enable quals=True"
            )
        from sequila_spark.functions.overlap import mate_overlap_tweak_reads

        reads = mate_overlap_tweak_reads(reads)

    per_base = expand_bases(
        reads,
        with_quals=quals,
        use_cigar=use_cigar,
        strand_case=strand_case,
    )
    # ONE exchange for the whole dense aggregation pipeline (same collapse
    # as _pileup_sparse, r13): HashPartitioning(contig, pos) satisfies the
    # clustering of groupBy(contig,pos,base[,qual_bin]), of the
    # (contig,pos,base) histogram rollup, of the (contig,pos) ref
    # join/proxy, and of the final (contig,pos,ref) aggregate — without it
    # EnsureRequirements inserts a fresh exchange per aggregation level
    # (3 shuffles of the per-base relation; measured 0.72x/0.88x on the
    # quals/indels slice gates with identical rows).  No explicit
    # partition count, so AQE sizes/coalesces it for the actual volume.
    per_base = per_base.repartition(F.col(S.CONTIG), F.col("pos"))

    group1 = [S.CONTIG, "pos", "base"]
    if quals:
        nbins = max_qual // qual_bin_size + 1
        qb = F.least(
            (F.col("qual") / qual_bin_size).cast("int"), F.lit(nbins - 1)
        ).alias("qual_bin")
        g1 = per_base.groupBy(*group1, qb).agg(F.count("*").alias("cnt"))
        # per (pos, base): histogram array indexed by qual_bin
        hist = F.aggregate(
            F.collect_list(
                F.struct(F.col("qual_bin"), F.col("cnt").cast("int").alias("cnt"))
            ),
            F.array_repeat(F.lit(0), nbins),
            lambda acc, e: F.transform(
                acc,
                lambda v, i: F.when(i == e["qual_bin"], v + e["cnt"]).otherwise(v),
            ),
        )
        g1 = (
            g1.groupBy(S.CONTIG, "pos", "base")
            .agg(F.sum("cnt").alias("cnt"), hist.alias("hist"))
        )
    else:
        g1 = per_base.groupBy(*group1).agg(F.count("*").alias("cnt"))

    # Attach the reference base AFTER the first aggregation: g1 has at most a
    # few rows per position (distinct observed bases), so the ref join/
    # expression touches orders of magnitude fewer rows than per-base would.
    if isinstance(ref, DataFrame):
        refd = ref.select(
            F.col(S.CONTIG).alias("__rc"), F.col("pos").alias("__rp"), F.col(S.REF).alias("__rb")
        )
        g1 = g1.join(
            refd,
            (g1[S.CONTIG] == refd["__rc"]) & (g1["pos"] == refd["__rp"]),
            "left",
        ).select(g1[S.CONTIG], "pos", "base", "cnt", *(["hist"] if quals else []), F.col("__rb").alias("ref_base"))
    elif callable(ref):
        g1 = g1.withColumn("ref_base", ref(F.col(S.CONTIG), F.col("pos")))
    else:
        # No-FASTA mode: the reference proxy is the most frequent observed
        # base per position, ties broken to the lexicographically smallest
        # (deterministic).  One extra tiny aggregation over g1.
        proxy = (
            g1.groupBy(S.CONTIG, "pos", F.upper("base").alias("__ub"))
            .agg(F.sum("cnt").alias("__bc"))
            .groupBy(S.CONTIG, "pos")
            .agg(
                F.element_at(
                    F.array_sort(
                        F.collect_list(
                            F.struct((-F.col("__bc")).alias("nc"), F.col("__ub"))
                        )
                    ),
                    1,
                )["__ub"].alias("ref_base")
            )
        )
        g1 = g1.join(proxy, [S.CONTIG, "pos"])

    is_ref = _ci_eq(F.col("base"), F.col("ref_base"))
    aggs = [
        F.sum("cnt").cast("int").alias(S.COVERAGE),
        F.sum(F.when(is_ref, F.col("cnt")).otherwise(0)).cast("int").alias(S.COUNT_REF),
        F.sum(F.when(~is_ref, F.col("cnt")).otherwise(0)).cast("int").alias(S.COUNT_NONREF),
    ]
    if alts:
        aggs.append(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.when(~is_ref, F.struct(F.col("base"), F.col("cnt").cast("int").alias("cnt")))
                    )
                )
            ).alias(S.ALTS)
        )
    if quals:
        aggs.append(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct(F.col("base"), F.col("hist"))))
            ).alias(S.QUALS)
        )

    out = g1.groupBy(S.CONTIG, "pos", "ref_base").agg(*aggs)
    cols = [
        F.col(S.CONTIG),
        F.col("pos").cast("int").alias(S.START),
        F.col("pos").cast("int").alias(S.END),
        F.col("ref_base").alias(S.REF),
        F.col(S.COVERAGE),
        F.col(S.COUNT_REF),
        F.col(S.COUNT_NONREF),
    ]
    if alts:
        cols.append(F.col(S.ALTS))
    if quals:
        cols.append(F.col(S.QUALS))
    return out.select(*cols)


def pileup_blocks(p: DataFrame, chunk_size: int = 100_000) -> DataFrame:
    """Block-compress per-position pileup rows into the reference's native
    output shape (CommonPileupFormat; SamtoolsConverter.generateCompressed
    Output semantics; golden: the reference's own sequila.csv dump):
    maximal runs of consecutive positions with equal coverage and no
    mismatches merge into one row whose ``ref`` is the run's reference
    bases concatenated; mismatch positions stay single rows carrying their
    alts (and quals when present).

    Runs are numbered by coverage.chunked_run_ids (keyed on coverage) —
    the chunked stitcher merge_touching_blocks uses, with no
    single-task-per-contig window.
    """
    has_quals = S.QUALS in p.columns
    # NOTE (r15, measured): do NOT persist p here.  Its consumers'
    # upstream shuffles canonicalize identically, so AQE runtime exchange
    # reuse already dedupes the heavy pileup lineage; an explicit persist
    # added a materialization barrier and measured 6.4x SLOWER on the
    # sliced gate (0.27s -> 1.7s interleaved A/B) with identical rows.
    has_alts = F.coalesce(F.col(S.COUNT_NONREF), F.lit(0)) > 0
    alt_rows = p.where(has_alts)
    af = p.where(~has_alts).select(S.CONTIG, S.START, S.END, S.REF, S.COVERAGE)
    runs = (
        chunked_run_ids(af, chunk_size, key=S.COVERAGE)
        .groupBy(S.CONTIG, "run")
        .agg(
            F.min(S.START).cast("int").alias(S.START),
            F.max(S.END).cast("int").alias(S.END),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col(S.START),
                                F.coalesce(F.col(S.REF), F.lit("")).alias("r"),
                            )
                        )
                    ),
                    lambda x: x["r"],
                ),
            ).alias(S.REF),
            F.min(S.COVERAGE).cast("int").alias(S.COVERAGE),
        )
        .select(
            S.CONTIG,
            S.START,
            S.END,
            S.REF,
            S.COVERAGE,
            F.lit(None).cast("map<string,int>").alias(S.ALTS),
            *(
                [F.lit(None).cast("map<string,array<int>>").alias(S.QUALS)]
                if has_quals
                else []
            ),
        )
    )
    singles = alt_rows.select(
        S.CONTIG,
        S.START,
        S.END,
        S.REF,
        S.COVERAGE,
        (
            F.col(S.ALTS)
            if S.ALTS in p.columns
            else F.lit(None).cast("map<string,int>").alias(S.ALTS)
        ),
        *([F.col(S.QUALS)] if has_quals else []),
    )
    return runs.unionByName(singles)


def _pileup_sparse(
    reads: DataFrame,
    ref: RefExpr,
    alts: bool,
    use_cigar: bool | None = None,
    strand_case: bool = False,
) -> DataFrame:
    """Fast path for alts-mode pileup with an expression-computable
    reference: the same sparse-mismatch design as the reference's MD-tag
    walk (pileup/MDTagParser.scala:24-53 — matching bases never materialize
    as per-base records).

      coverage    <- event-based coverage blocks exploded to positions
                     (|changes| << |bases| rows through the shuffle)
      alt counts  <- per-base rows FILTERED to base != ref before the
                     shuffle (mismatch rate ~2%, so ~50x less shuffle I/O)
      countRef    =  coverage - countNonRef

    Output is identical to the dense path (verified by the oracle parity
    suite); only the plan differs.
    """
    if use_cigar is None:
        use_cigar = S.CIGAR in reads.columns
    cov = _coverage(reads, mode="bases", use_cigar=use_cigar).select(
        S.CONTIG, F.col(S.START).alias("pos"), S.COVERAGE
    )

    # Explode all bases map-side, filter to mismatches pre-shuffle.  (An
    # array-lambda prefilter before the explode was measured 2x SLOWER —
    # higher-order-function evaluation beats Generate on per-element cost.)
    per_base = expand_bases(
        reads, with_quals=False, use_cigar=use_cigar, strand_case=strand_case
    )
    # collation-based case-insensitive compare: no per-row UTF8String
    # allocation on the 165M-row hot filter (see _ci_eq)
    mism = per_base.where(~_ci_eq(F.col("base"), ref(F.col(S.CONTIG), F.col("pos"))))
    return _sparse_tail(
        cov, mism.select(S.CONTIG, "pos", "base"), alts, ref(F.col(S.CONTIG), F.col("pos"))
    )


def _sparse_tail(cov: DataFrame, mism: DataFrame, alts: bool, ref: Column) -> DataFrame:
    """The tail both sparse pileups share: mismatch rows (contig, pos,
    base[, ref_base]) counted per (contig, pos, base), rolled up per
    (contig, pos) into countNonRef (and alts) — ``ref_base``, when
    present, carried through both as its max — then left-joined onto the
    per-base coverage rows (contig, pos, coverage): countRef = coverage -
    countNonRef.  ``ref`` is the output ref column over the joined rows."""
    # ONE shuffle for both aggregations below: HashPartitioning(contig,pos)
    # satisfies the clustering of groupBy(contig,pos,base) AND of the
    # (contig,pos) rollup, so EnsureRequirements inserts no second
    # exchange (two exchanges of the mismatch set collapse to one)
    mism = mism.repartition(F.col(S.CONTIG), F.col("pos"))
    carried = [F.max("ref_base").alias("ref_base")] if "ref_base" in mism.columns else []
    g1 = mism.groupBy(S.CONTIG, "pos", "base").agg(
        F.count("*").cast("int").alias("cnt"), *carried
    )
    alt_agg = [F.sum("cnt").cast("int").alias(S.COUNT_NONREF), *carried]
    if alts:
        alt_agg.append(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct(F.col("base"), F.col("cnt"))))
            ).alias(S.ALTS)
        )
    alt_pos = g1.groupBy(S.CONTIG, "pos").agg(*alt_agg)

    joined = cov.join(alt_pos, [S.CONTIG, "pos"], "left")
    nonref = F.coalesce(F.col(S.COUNT_NONREF), F.lit(0)).cast("int")
    cols = [
        F.col(S.CONTIG),
        F.col("pos").cast("int").alias(S.START),
        F.col("pos").cast("int").alias(S.END),
        ref.alias(S.REF),
        F.col(S.COVERAGE).cast("int").alias(S.COVERAGE),
        (F.col(S.COVERAGE) - nonref).cast("int").alias(S.COUNT_REF),
        nonref.alias(S.COUNT_NONREF),
    ]
    if alts:
        # dense path yields an empty map (not null) at all-ref positions
        cols.append(
            F.coalesce(
                F.col(S.ALTS), F.expr("map()").cast("map<string,int>")
            ).alias(S.ALTS)
        )
    return joined.select(*cols)
