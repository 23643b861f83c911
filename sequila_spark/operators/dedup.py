"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash.

Extends the reference's surface (BASELINE.json north star).  Design goals:

 - **Scale**: candidate generation is always an equi-join (shingle join or
   LSH band join) that Catalyst shuffles by key — never an all-pairs cross
   join; exact verification runs only on candidates.
 - **Determinism**: shingle hashes are a fixed-base Horner polynomial over
   character codes (pure integer arithmetic, identical in Spark SQL and
   DuckDB); MinHash permutations use fixed (a_i, b_i) literals mod a prime.
   Every result is reproducible and oracle-checkable — no engine-specific
   hash functions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

SHINGLE_K = 8
_BASE = 131
# Coefficients reduced mod a Mersenne prime so the flat-sum Horner hash can
# NEVER overflow int64: max term = (2^31-2) * max_codepoint(0x10FFFF) ~ 2.4e15,
# x 8 terms ~ 1.9e16 << 2^63.  Unreduced 131^7 * codepoint overflows on
# non-ASCII text — a hard ARITHMETIC_OVERFLOW error under Spark 4's default
# ANSI mode and in DuckDB, and (with ANSI off) wraparound-negative hashes
# whose `%` sign semantics differ between engines.  Non-negative hashes make
# every downstream `%` (Spark/Java, DuckDB, numpy) agree by construction.
_COEF_P = (1 << 31) - 1
_COEFS = [pow(_BASE, i, _COEF_P) for i in range(SHINGLE_K)]
MINHASH_P = 1_000_003
NUM_PERM = 16
BANDS = 4
ROWS_PER_BAND = NUM_PERM // BANDS
# fixed permutation parameters (deterministic, shared with oracles)
PERM_A = [(7919 * (i + 1)) % MINHASH_P for i in range(NUM_PERM)]
PERM_B = [(104729 * (i + 1)) % MINHASH_P for i in range(NUM_PERM)]
SIMHASH_BITS = 16


def _shingle_terms(expr: str, i_var: str) -> str:
    """Horner hash of the k-char shingle starting at position ``i_var`` of
    ``expr`` — a portable SQL fragment (ascii/substr/integer literals only)."""
    return " + ".join(
        f"CAST({c} AS BIGINT) * ascii(substr({expr}, {i_var} + {j}, 1))"
        for j, c in enumerate(_COEFS)
    )


def shingle_hash_exprs(expr: str = "text") -> tuple[str, str]:
    """(spark_sql, duckdb_sql) producing the LIST of shingle hashes of a
    text column — identical values, dialect-specific list builders."""
    terms = _shingle_terms(expr, "i")
    spark = (
        f"transform(sequence(1, greatest(length({expr}) - {SHINGLE_K - 1}, 1)),"
        f" i -> {terms})"
    )
    duck = (
        f"list_transform(range(1, greatest(length({expr}) - {SHINGLE_K - 1}, 1) + 1),"
        f" i -> {terms})"
    )
    return spark, duck


def doc_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct (id, shingle-hash) pairs — the base relation for jaccard /
    minhash.  One explode + distinct; shuffle keyed by shingle downstream.

    Hash values are exactly shingle_hash_exprs' portable form (the DuckDB
    oracle recomputes them via substr), but evaluated over a per-row ascii
    ARRAY: element_at is O(1) where substr re-walks the string to the
    offset, so the window sweep drops from O(len·k·len) to O(len·k) —
    measured ~9x faster on the documents corpus with identical output
    (try_element_at past the end coalesces to 0, matching ascii('') on
    the substr path for texts shorter than one shingle)."""
    return doc_shingles_raw(df, id_col, text_col).distinct()


def doc_shingles_raw(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shingle-hash) pairs BEFORE the distinct — for callers that
    inject a repartition between explode and distinct so the dedup
    exchange is shared with the next shingle-keyed stage
    (ngram_jaccard_pairs plan='collapsed')."""
    # The trailing `0 * __sq_n` term is identically zero for real text but
    # propagates NULL for NULL text — matching the substr form (and the
    # DuckDB oracle), where ascii(substr(NULL,..)) makes the hash NULL so
    # null-text docs never equi-join (they must not alias empty-string
    # docs, whose hash is 0).
    terms = " + ".join(
        f"CAST({c} AS BIGINT) * coalesce(try_element_at(__sq_ch, i + {j}), 0)"
        for j, c in enumerate(_COEFS)
    ) + " + 0 * CAST(__sq_n AS BIGINT)"
    expr = (
        f"transform(sequence(1, greatest(__sq_n - {SHINGLE_K - 1}, 1)),"
        f" i -> {terms})"
    )
    base = df.select(
        F.col(id_col),
        F.transform(
            F.split(F.col(text_col), "(?!^)"), lambda ch: F.ascii(ch)
        ).alias("__sq_ch"),
        F.length(text_col).alias("__sq_n"),
    )
    return base.select(F.col(id_col), F.explode(F.expr(expr)).alias("sh"))


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Hash-groupBy exact dedup: one row per duplicated content with the
    group size and the representative (minimum) id."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.min(id_col).alias("rep_id"),
        )
        .where(F.col("n_copies") > 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    order: str = "rarity",
    verify: str = "auto",
    plan: str = "collapsed",
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs with **prefix filtering**
    (AllPairs/PPJoin family): two sets with Jaccard >= t must share at least
    one of each other's ⌊(1-t)·|set|⌋+1 globally-rarest shingles, so the
    candidate join runs only on those prefixes — hot common shingles never
    join.  Candidates are then verified with exact |A∩B| via a full shingle
    join restricted to candidate pairs.  EXACT results (the filter is
    lossless); the DuckDB oracle computes the naive formulation and must
    match.  Returns (id_1, id_2, jaccard) with id_1 < id_2.

    ``order`` picks the shared global shingle order the prefixes are taken
    under — the PPJoin theorems hold for ANY total order, rarity-first just
    minimizes candidates.  ``"rarity"`` breaks frequency ties ascending;
    ``"rarity_rev"`` descending, which relocates every equal-frequency
    prefix boundary and positional-filter rank while provably preserving
    the result — the sweep's crosscheck pairs it with ``verify='join'``
    (see minhash_dedup_pairs) for an independent execution at scale
    factors where the naive formulation cannot materialize.

    ``plan`` picks the physical shape of the rarity-ranking prologue —
    identical rows either way (both orders are the same total order):

    * ``"collapsed"`` (default, r14): the shingle relation crosses TWO
      exchanges total before the prefix join — repartition('sh') lets the
      (id, sh) distinct AND a count-over-Window(sh) frequency share one
      exchange (HashPartitioning(sh) satisfies the {id, sh} clustering),
      then one exchange by id computes the rank AND the per-doc size in
      the same Window sort.  At any scale this halves the shuffled volume
      of the biggest relation; on overhead-bound corpora it removes three
      stage barriers and two joins outright.
    * ``"classic"`` — separate freq/sizes groupBys joined back (the
      r4-r13 shape); kept as the independent-plan crosscheck target."""
    if order not in ("rarity", "rarity_rev"):
        raise ValueError(f"unknown prefix order: {order!r}")
    if plan not in ("collapsed", "classic"):
        raise ValueError(f"unknown plan: {plan!r}")
    _release_prior_caches()
    tie = F.col("sh") if order == "rarity" else F.col("sh").desc()
    if plan == "collapsed":
        # distinct + frequency under ONE exchange keyed by sh...
        sh = (
            doc_shingles_raw(df, id_col, text_col)
            .repartition(F.col("sh"))
            .distinct()
        )
        withf = sh.withColumn(
            "f", F.count("*").over(Window.partitionBy("sh"))
        )
        # ...then rank and per-doc size under ONE exchange keyed by id.
        # NOT persisted (r15, adjudicated by interleaved commit A/B):
        # caching any full shingle-sized relation
        # (the r14 sh cache, or r15's first attempt at caching THIS
        # ranked relation to make the verify exchange-free) costs more
        # in cache-write bandwidth than the one exchange it saves —
        # the same finding as PROFILE_dedup_minhash_r15 ("persisting the
        # 1.45M-row relation cost ~2.2s more than generating it") and
        # the pileup_blocks 6.4x persist regression.  Only the ~20%
        # probe prefix below is cached.
        wdoc = Window.partitionBy(id_col)
        ranked = withf.select(
            id_col,
            "sh",
            F.row_number().over(wdoc.orderBy(F.col("f"), tie)).alias("rk"),
            F.count("*").over(wdoc).alias("n"),
        )
    else:
        sh = _persist_tracked(doc_shingles(df, id_col, text_col))
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))

        # global rarity order: (frequency, shingle) — deterministic
        freq = sh.groupBy("sh").agg(F.count("*").alias("f"))
        ranked = sh.join(freq, "sh").withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.col("f"), tie)
            ),
        )
        ranked = ranked.join(sizes, id_col)

    # Asymmetric PPJoin prefixes (Xiao et al. 2008): every doc PROBES with
    # its ⌊(1-t)n⌋+1 rarest shingles but is INDEXED only under its
    # n-⌈2t/(1+t)·n⌉+1 rarest — for J>=t the first shared shingle (in the
    # shared global order) falls inside the probe prefix of the larger doc
    # AND the index prefix of the smaller, so joining probe×index under a
    # strict (size, id) ordering is lossless while shrinking the join's
    # hot side ~(1-t)/(1+t)/(1-t) = 1/(1+t)x and halving pair orders.
    # The 1e-9 slacks keep double rounding from tightening the exact
    # rational bounds.
    # +1e-9: (1-t) in doubles can round below the exact rational (0.2 ->
    # 0.19999...), shortening the floor by one at exact multiples — a
    # one-too-short probe prefix is LOSSY at the boundary; one-too-long
    # only adds candidates
    # The index prefix is a SUBSET of the probe prefix for any t >= 0
    # (n - ceil(2t/(1+t)·n) <= floor((1-t)·n) since their gap is
    # t·n·(1-t)/(1+t) >= 0), so ONE persisted pruned relation serves both
    # join sides — without this, each side of the self-join re-executed
    # the whole shingle->frequency->rank pipeline (profiled as the
    # dominant leg of the query, r14).  The cache is the ~20% prefix,
    # never a data-sized relation (see the ranked-relation note above).
    probe = _persist_tracked(
        ranked.where(
            F.col("rk") <= F.floor((1.0 - threshold) * F.col("n") + 1e-9) + 1
        )
    )
    two_t = 2.0 * threshold / (1.0 + threshold)
    index = probe.where(
        F.col("rk")
        <= F.col("n") - F.ceil(F.lit(two_t) * F.col("n") - 1e-9) + 1
    )
    p = probe.select(
        F.col(id_col).alias("id_p"), "sh",
        F.col("rk").alias("rk_p"), F.col("n").alias("n_p"),
    )
    i = index.select(
        F.col(id_col).alias("id_i"), "sh",
        F.col("rk").alias("rk_i"), F.col("n").alias("n_i"),
    )
    matches = p.join(i, "sh").where(
        (
            (F.col("n_i") < F.col("n_p"))
            | ((F.col("n_i") == F.col("n_p")) & (F.col("id_i") < F.col("id_p")))
        )
        # size filter: J>=t forces n_small >= t*n_large (pure pruning)
        & (F.col("n_i") >= F.lit(threshold) * F.col("n_p") - 1e-9)
    )

    # positional filter, counting form: both docs rank shingles by the
    # SAME global order, so every shared shingle beyond the last counted
    # match sits after it in both rankings.  Hence overlap <= (#matches)
    # + min(n_p - max rk_p, n_i - max rk_i), which must reach
    # ceil(t/(1+t)*(n_p+n_i)) for Jaccard >= t — lossless, and strictly
    # stronger than the single-match bound on low-entropy corpora where
    # many docs share a few common prefix shingles.
    # -1e-9: double rounding above an exact-integer product would push
    # ceil one higher and prune an exact-threshold pair the verify (and
    # the oracle) keep
    alpha = F.ceil(
        F.lit(threshold) / (1.0 + threshold) * (F.col("n_p") + F.col("n_i"))
        - 1e-9
    )
    cands = (
        matches.groupBy("id_p", "id_i")
        .agg(
            F.count("*").alias("__cnt"),
            F.max("rk_p").alias("__mrk_p"),
            F.max("rk_i").alias("__mrk_i"),
            F.first("n_p").alias("n_p"),
            F.first("n_i").alias("n_i"),
        )
        .where(
            F.col("__cnt")
            + F.least(
                F.col("n_p") - F.col("__mrk_p"), F.col("n_i") - F.col("__mrk_i")
            )
            >= alpha
        )
        .select(
            F.least("id_p", "id_i").alias("id_1"),
            F.greatest("id_p", "id_i").alias("id_2"),
        )
    )

    if plan == "collapsed":
        # Verify from the RAW shingle rows, no cache and no distinct:
        # collect_set dedups per doc inside the aggregate (map-side
        # partials included — the minhash r14 trick), so the verify leg
        # is shingle regeneration (map-only, measured ~0.15 s — cheap)
        # plus the one id-keyed exchange of already-deduped partial
        # sets.  Sharing a cached relation with the candidate pipeline
        # instead was measured SLOWER both ways (r14 sh cache, r15
        # ranked cache — see the A/B note above).
        mode = verify
        if mode == "auto":
            # EXACT distinct-shingle count at prefix-cache cost: the
            # ranked relation's per-doc `n` IS that doc's distinct-set
            # size and every non-empty doc has >= 1 probe row, so
            # sum(first(n)) over the persisted ~20% prefix equals
            # count(distinct (id, sh)).  The previous raw-row upper
            # bound was fail-safe but over-counted by the within-doc
            # repeat factor (x1.39 at sf1: 19.4M raw vs 13.9M distinct
            # against the 16.8M-row budget), demoting to the join path
            # exactly at the scale where the replicated fast path pays
            # most (measured 22.7 s broadcast vs 38.4 s join at sf1).
            # This job also fronts the probe materialization the main
            # action needs anyway — net jobs are unchanged (the raw
            # count() job it replaces regenerated every shingle).
            n_sh = (
                probe.groupBy(id_col)
                .agg(F.first("n").alias("n"))
                .agg(F.sum("n"))
                .collect()[0][0]
                or 0
            )
            mode = "broadcast" if n_sh <= _verify_bcast_row_budget() else "join"
        return _verify_jaccard(
            doc_shingles_raw(df, id_col, text_col),
            cands, threshold, id_col, mode=mode,
        )
    return _verify_jaccard(sh, cands, threshold, id_col, mode=verify)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    _shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: m_i = min over shingles of
    (a_i * (sh mod P) + b_i) mod P.  One shuffle (groupBy id)."""
    sh = _shingles if _shingles is not None else doc_shingles(df, id_col, text_col)
    x = F.col("sh") % MINHASH_P
    aggs = [
        F.min((PERM_A[i] * x + PERM_B[i]) % MINHASH_P).cast("long").alias(f"mh{i}")
        for i in range(NUM_PERM)
    ]
    return sh.groupBy(id_col).agg(*aggs)


#: band-row cap for broadcasting one side of the LSH band self-join —
#: ~60 B/row (band int, ~40 B key string, id), so 2M rows ≈ 120 MB on the
#: executors.  Past the cap the join falls back to the shuffle plan that
#: scales with executors; under it, the join needs NO exchange at all and
#: only the pair-distinct shuffles (two stage barriers saved — measured
#: ~0.6 s of the 1.27 s cands leg at sf0.1, PROFILE_dedup_minhash_r15).
_BAND_BCAST_MAX_ROWS = 2_000_000


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str = "doc_id",
    broadcast_side: bool = False,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature are candidates.
    Equi-join on the (band, band-key) pair (shuffle by band value),
    distinct pairs.  No cross join anywhere.  Band rows come from ONE
    posexplode projection of the signature relation — not a 16-way union,
    which would re-evaluate the (expensive, 128-min) signature aggregate
    once per band branch per join side.  ``broadcast_side=True`` (caller
    knows the doc count is under _BAND_BCAST_MAX_ROWS) broadcast-hints
    the build side, eliding both join exchanges."""
    keys = F.array(
        *[
            F.concat_ws(
                ",",
                *[F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
            )
            for b in range(BANDS)
        ]
    )
    tagged = signatures.select(
        F.col(id_col).alias("id"), F.posexplode(keys).alias("band", "bkey")
    )
    a = tagged.select("band", "bkey", F.col("id").alias("id_1"))
    b_ = tagged.select("band", "bkey", F.col("id").alias("id_2"))
    if broadcast_side:
        b_ = F.broadcast(b_)
    return (
        a.join(b_, ["band", "bkey"])
        .where(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify: str = "auto",
) -> DataFrame:
    """MinHash+LSH candidates, verified with exact Jaccard on the candidate
    set only.  Output (id_1, id_2, jaccard) — a (probabilistic-recall,
    exact-precision) near-dup pair list.

    ``verify`` pins the verification execution: ``"broadcast"`` (replicated
    per-doc set table + mapInPandas), ``"join"`` (broadcast-hash joins +
    Arrow-batched pandas UDF — the path that scales when the corpus
    outgrows one broadcast), or ``"auto"`` (broadcast within the byte
    budget).  Both produce identical rows; the sweep's crosscheck runs one
    against the other at scale factors where the DuckDB oracle cannot walk
    the shared-shingle pair space single-node.

    Plan note (r14): the shingle relation is used RAW (pre-distinct) —
    min-over-duplicates equals min-over-set, and both verify paths dedup
    inside collect_set — so the pipeline's former largest exchange (the
    (id, sh) distinct of every shingle row) is gone entirely: signatures
    shuffle only map-side-combined partial minima, verify shuffles only
    map-side-deduped partial sets.

    Plan note (r15, PROFILE_dedup_minhash_r15): the signatures and the
    verify's per-doc sets are BOTH ``groupBy(id)`` aggregates of the same
    shingle rows, so they now compute in ONE combined aggregation — one
    scan, one exchange — and only its doc-count-sized output persists.
    The previous shape cached the full shingle-ROW relation to share it
    between the two aggregations; profiling showed writing that cache
    cost ~16x more than regenerating the shingles (2.4 s vs 0.15 s at
    sf0.1), i.e. the cache was the query's single largest leg.  The
    auto-mode byte budget now reads the EXACT distinct-shingle count from
    the cached aggregate (sum of set sizes) instead of the raw-row upper
    bound."""
    _release_prior_caches()
    x = F.col("sh") % MINHASH_P
    combined = _persist_tracked(
        doc_shingles_raw(df, id_col, text_col)
        .groupBy(id_col)
        .agg(
            *[
                F.min((PERM_A[i] * x + PERM_B[i]) % MINHASH_P)
                .cast("long")
                .alias(f"mh{i}")
                for i in range(NUM_PERM)
            ],
            F.array_sort(F.collect_set("sh")).alias("shset"),
        )
    )
    # ONE action materializes the cache and yields both budget inputs:
    # the doc count gates the band-join broadcast, the exact
    # distinct-shingle count gates the verify broadcast
    n_docs, n_sh = combined.agg(
        F.count("*"), F.sum(F.size("shset"))
    ).collect()[0]
    if verify == "auto":
        verify = (
            "broadcast"
            if (n_sh or 0) <= _verify_bcast_row_budget()
            else "join"
        )
    cands = lsh_candidate_pairs(
        combined.select(id_col, *[f"mh{i}" for i in range(NUM_PERM)]),
        id_col,
        broadcast_side=n_docs * BANDS <= _BAND_BCAST_MAX_ROWS,
    )
    return _verify_jaccard(
        None, cands, threshold, id_col, mode=verify,
        sets=combined.select(id_col, "shset"),
    )


def _intersect_size_batch():
    """Arrow-batched exact set-intersection size — integer result, so no
    determinism trade-off vs the JVM array_intersect expression it
    replaces (which was ~10x slower on candidate-heavy low-entropy
    corpora).  Inputs are SORTED unique arrays (array_sort happens
    JVM-side in _verify_jaccard), so each pair costs one vectorized
    searchsorted merge instead of np.intersect1d's two sorts — measured
    ~3x less per-pair time on 240k-candidate batches."""

    @F.pandas_udf("int")
    def udf(a: pd.Series, b: pd.Series) -> pd.Series:
        out = np.zeros(len(a), dtype=np.int32)
        for i, (x, y) in enumerate(zip(a, b)):
            if x is None or y is None or len(x) == 0 or len(y) == 0:
                continue
            xa = np.asarray(x, dtype=np.int64)
            ya = np.asarray(y, dtype=np.int64)
            if len(xa) > len(ya):  # search the shorter in the longer
                xa, ya = ya, xa
            idx = np.searchsorted(ya, xa)
            idx[idx == len(ya)] = len(ya) - 1
            out[i] = int(np.count_nonzero(ya[idx] == xa))
        return pd.Series(out, dtype="int32")

    return udf


# Replicated-verify broadcast budget, expressed in BYTES and converted to a
# row cap: each shingle row is an 8-byte int64 payload, and the collect ->
# dict-of-numpy build transiently holds ~4x that (Arrow batches + pandas
# frame + numpy copies), so the row budget is bytes / (8 * 4).  At the
# default 512 MB that is 16 Mi shingle rows — past it, the join fallback
# below produces identical results without any driver materialization.
_VERIFY_BCAST_MAX_BYTES = 512 << 20
_VERIFY_BYTES_PER_ROW = 8 * 4  # int64 payload x transient-copy safety factor


def _verify_bcast_row_budget() -> int:
    return _VERIFY_BCAST_MAX_BYTES // _VERIFY_BYTES_PER_ROW


# Most-recent verify broadcast per process: repeated dedup calls in one
# session previously accumulated executor-side broadcast blocks with no
# release.  Each new verify unpersists the prior broadcast (non-blocking;
# Spark re-ships it automatically in the unlikely case a still-pending
# DataFrame from an earlier call executes afterwards).
_VERIFY_BCASTS: list = []

# Same lifetime contract for the cached DataFrames (shingle relation,
# pruned prefix): each top-level dedup call releases the PRIOR call's
# persisted relations before registering its own.  Unpersist is
# non-blocking and lossless — a still-referenced DataFrame from an
# earlier call recomputes lazily (correct, just uncached), so callers
# that interleave two calls' results should collect the first before
# issuing the second.
_CACHED_DFS: list = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    _CACHED_DFS.append(df.persist())
    return df


def _release_prior_caches() -> None:
    while _CACHED_DFS:
        try:
            _CACHED_DFS.pop().unpersist(False)
        except Exception:
            pass  # context already stopped


def _verify_jaccard(
    sh: DataFrame | None, cands: DataFrame, threshold: float, id_col: str,
    mode: str = "auto", sets: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs.

    Input is EITHER ``sh`` (the raw (id, sh) shingle rows — the per-doc
    sets are aggregated here) or ``sets`` (a pre-aggregated
    (id, shset sorted-array) relation — r15: minhash computes it in the
    same single pass as the signatures, so no shingle-row relation need
    exist, let alone be cached).

    Fast path (replicated hash verify): when the per-doc set table fits
    the broadcast regime, it ships to executors ONCE as a Python
    broadcast and a mapInPandas pass walks the narrow (id_1, id_2)
    candidate list — without this, a candidate-heavy corpus pays the
    Arrow boundary per PAIR (each doc's array re-serialized once per
    candidate it appears in: measured ~1 GB shipped for 240k candidates
    over 5k docs, ~5x the fast path's wall time).  The per-pair cost is
    one vectorized searchsorted merge over the pre-sorted arrays.

    Fallback (same results): past the broadcast budget, per-doc arrays
    attach via broadcast-hash joins and the merge runs in an Arrow-
    batched pandas UDF — the formulation that scales with executors when
    the corpus itself outgrows one broadcast."""
    if mode not in ("auto", "broadcast", "join"):
        raise ValueError(f"unknown verify mode: {mode!r}")
    if mode == "auto":
        if sets is not None:
            # exact distinct-shingle count from the cached aggregate —
            # cheap, and tighter than the raw-row upper bound
            n_sh = sets.agg(F.sum(F.size("shset"))).collect()[0][0] or 0
        else:
            n_sh = sh.count()  # callers persist sh, so this reuses the cache
        mode = "broadcast" if n_sh <= _verify_bcast_row_budget() else "join"
    if mode == "broadcast":
        # Arrow collect (toArrow, r15): the per-doc arrays are sliced as
        # views of the ListArray's ONE flat int64 values buffer — no
        # pandas object column, no per-row numpy allocation (toPandas
        # measured 0.78 s vs ~0.1 s for the same 1.45 M elements), and
        # never boxed Python ints (the Row-based collect held tens of
        # bytes per shingle transiently at the cap)
        atbl = (
            sets if sets is not None
            else sh.groupBy(id_col).agg(
                F.array_sort(F.collect_set("sh")).alias("shset")
            )
        ).toArrow()
        ids = atbl.column(id_col).to_numpy(zero_copy_only=False)
        lcol = atbl.column("shset").combine_chunks()
        offs = lcol.offsets.to_numpy()
        vals = lcol.values.to_numpy(zero_copy_only=False).astype(
            np.int64, copy=False
        )
        table = {
            ids[i]: vals[offs[i]:offs[i + 1]]
            for i in range(len(ids))
            if offs[i + 1] > offs[i]
        }
        while _VERIFY_BCASTS:
            try:
                _VERIFY_BCASTS.pop().unpersist(False)
            except Exception:
                pass  # context already stopped
        bc = cands.sparkSession.sparkContext.broadcast(table)
        _VERIFY_BCASTS.append(bc)
        out_schema = T.StructType(
            [
                cands.schema["id_1"],
                cands.schema["id_2"],
                T.StructField("jaccard", T.DoubleType()),
            ]
        )

        def gen(batches):
            t = bc.value
            for pdf in batches:
                i1 = pdf["id_1"].to_numpy()
                i2 = pdf["id_2"].to_numpy()
                jac = np.empty(len(pdf), dtype=np.float64)
                keep = np.zeros(len(pdf), dtype=bool)
                for i in range(len(pdf)):
                    xa = t.get(i1[i])
                    ya = t.get(i2[i])
                    if xa is None or ya is None:
                        continue  # doc without shingles: join path drops it
                    if len(xa) > len(ya):
                        xa, ya = ya, xa
                    # size prefilter (lossless): c <= |small| so
                    # J <= |small|/|large| — skip the merge outright
                    if len(xa) < threshold * len(ya):
                        continue
                    idx = np.searchsorted(ya, xa)
                    idx[idx == len(ya)] = len(ya) - 1
                    c = int(np.count_nonzero(ya[idx] == xa))
                    jac[i] = c / (len(xa) + len(ya) - c)
                    keep[i] = jac[i] >= threshold
                yield pd.DataFrame(
                    {"id_1": i1[keep], "id_2": i2[keep], "jaccard": jac[keep]}
                )

        return cands.mapInPandas(gen, schema=out_schema)
    # n from the deduped set (not count(*)), so callers may pass the raw
    # pre-distinct shingle relation — collect_set dedups inside the
    # aggregate, map-side included
    if sets is None:
        sets = sh.groupBy(id_col).agg(
            F.array_sort(F.collect_set("sh")).alias("shset"),
        )
    sets = sets.withColumn("n", F.size("shset"))
    s1 = sets.select(
        F.col(id_col).alias("id_1"), F.col("shset").alias("s1"), F.col("n").alias("n1")
    )
    s2 = sets.select(
        F.col(id_col).alias("id_2"), F.col("shset").alias("s2"), F.col("n").alias("n2")
    )
    shared = _intersect_size_batch()(F.col("s1"), F.col("s2"))
    return (
        cands.join(F.broadcast(s1), "id_1")
        .join(F.broadcast(s2), "id_2")
        # size filter (lossless): J>=t forces min(n1,n2) >= t*max(n1,n2),
        # pruned JVM-side before any array ships into the Arrow verify
        .where(
            F.least("n1", "n2").cast("double")
            >= F.lit(threshold) * F.greatest("n1", "n2") - 1e-9
        )
        .withColumn("__c", shared)
        .select(
            "id_1",
            "id_2",
            (F.col("__c").cast("double") / (F.col("n1") + F.col("n2") - F.col("__c"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def dedup_components(
    pairs: DataFrame,
    id_cols: tuple[str, str] = ("id_1", "id_2"),
    max_iter: int = 20,
) -> DataFrame:
    """Connected components of the near-dup pair graph: (id, rep_id) with
    rep = the component's minimum id — the "keep one per cluster" step
    that completes pairwise dedup.

    Distributed min-label propagation WITH pointer doubling: each round
    (1) takes the min label among graph neighbors (one join against the
    symmetrized edge list), then (2) jumps pointers — rep <- rep's own
    rep — which squares label-path lengths, so convergence is
    O(log diameter) rounds, not O(diameter): a 1M-hop chain fixpoints in
    ~20 rounds (the default max_iter bounds diameter ~2^20 even for
    pathological chain graphs; near-dup graphs converge in 3-5).  Labels
    are localCheckpoint()ed each round to keep lineage flat; the rep
    monotonically decreases and always names a node of the same
    component, so the fixpoint is the component minimum.  Deterministic.
    """
    a, b = id_cols
    half = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges = (
        half.unionByName(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()  # materialize once — every round re-joins edges
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("rep", F.col("id"))
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("rep").alias("nrep")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nrep").alias("nbr_rep"))
        )
        stepped = labels.join(nbr_min, labels["id"] == nbr_min["src"], "left").select(
            "id",
            F.least(F.col("rep"), F.coalesce(F.col("nbr_rep"), F.col("rep"))).alias(
                "rep"
            ),
        )
        # pointer doubling: rep <- min(rep, rep-of-rep).  Every rep is a
        # node id, so the self-join always resolves; one extra shuffle per
        # round buys exponential path compression.
        new_labels = (
            stepped.alias("s")
            .join(
                stepped.select(
                    F.col("id").alias("rep"), F.col("rep").alias("rep2")
                ).alias("j"),
                "rep",
            )
            .select(F.col("id"), F.least(F.col("rep"), F.col("rep2")).alias("rep"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.rep") != F.col("o.rep"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(f"dedup_components: no fixpoint after {max_iter} rounds")
    return labels.select(F.col("id"), F.col("rep").alias("rep_id"))


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> Column:
    """Per-doc 16-bit SimHash over shingle hashes: bit j set iff the majority
    of shingles have bit j set (strictly more ones than zeros)."""
    sh = doc_shingles(df, id_col, text_col)
    bit_sums = [
        F.sum(F.shiftright(F.col("sh"), j).bitwiseAND(1) * 2 - 1).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = sh.groupBy(id_col).agg(*bit_sums)
    value = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(0)
        value = bit if value is None else value + bit
    return agg.select(id_col, value.cast("int").alias("simhash"))
