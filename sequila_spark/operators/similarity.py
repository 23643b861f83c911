"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k (queries × corpus — the query side is
small, so this is a broadcast join).  Scale path: hyperplane-LSH bucketing,
where only same-bucket pairs are scored — candidate generation becomes an
equi-join on the bucket key and the cross product never materializes.

Determinism (oracle-checkable): embeddings are quantized to integers
(floor(x * 1e6) after exact float->double widening), dot products and norms
are exact integer sums, and the final cosine is a fixed sequence of IEEE
double ops — bit-identical in Spark and DuckDB.  Ranking ties break on
neighbor id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

QUANT_SCALE = 1_000_000
# multi-table hyperplane LSH: recall 1-(1-p^PLANES)^TABLES for per-plane
# agreement p = 1 - theta/pi; 6 planes x 8 tables gives ~0.9 recall at
# cosine 0.8 while pruning most of the corpus per query.  Verified
# empirically at sf1 (RECALL_r14.json, tools/ann_recall.py): measured
# recall@10 exceeds this closed form at every (planes, tables) grid
# point — the formula is a lower bound in practice because the
# deterministic planes + real neighbor geometry correlate favorably.
N_PLANES = 6
N_TABLES = 8
_PLANE_MOD = 1_000_003
# below this corpus size the quadratic bucket work is cheaper in the JVM
# than the per-group Python invocations of the grid engine
_GRID_MIN_VECS = 5_000
# below this corpus size the (id, vec) projection is NOT persisted: the
# 2-3 downstream re-evaluations of a tiny subplan are cheaper than the
# cache-materialization job.  At/above it, the projection persists and the
# registry below drops the previous call's cache (leak fix — LRU eviction
# never reclaims disk-spilled blocks of a still-referenced plan).
_PROJ_PERSIST_MIN_VECS = 2_048
_PROJ_CACHE: list = []

# Vector re-attach broadcast gate (ann_topk_lsh): planner-statistics bytes
# below which the corpus-vector relation is broadcast-hinted for the
# candidate re-attach join.  Read from the optimized plan's sizeInBytes —
# the same statistic autoBroadcastJoinThreshold consults, so the gate
# costs NO job; parquet-backed lineages estimate from file size.  Past
# the gate the join is left to the planner/AQE (shuffles when the corpus
# outgrows one broadcast — the 100 TB path).
_VEC_BCAST_MAX_BYTES = 256 << 20


def _hint_if_small(df: DataFrame) -> DataFrame:
    from sequila_spark.planutil import plan_stats

    size, _ = plan_stats(df)
    if size is None:
        return df
    return F.broadcast(df) if size <= _VEC_BCAST_MAX_BYTES else df


def quantized(col):
    """array<float> -> array<bigint>, q_i = floor(double(x_i) * 1e6)."""
    return F.transform(col, lambda x: F.floor(x.cast("double") * QUANT_SCALE).cast("long"))


def quantized_unit(col):
    """array<float> -> array<bigint> on the UNIT sphere: q_i =
    floor(x_i / ||x|| * 1e6) with the norm in float64 (one left-fold
    aggregate — fixed evaluation order, deterministic).  Zero-norm
    vectors fall back to plain quantization.  The spherical-IVF input:
    L2 on these vectors is monotone in angle, so k-means partitions by
    DIRECTION — the metric cosine search actually ranks by — instead of
    conflating direction with magnitude."""
    n2 = F.aggregate(
        F.transform(col, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when(
        n2 > 0,
        F.transform(
            col,
            lambda x: F.floor(x.cast("double") / F.sqrt(n2) * QUANT_SCALE).cast("long"),
        ),
    ).otherwise(quantized(col))


def _renorm_int(c):
    """Rescale an integer centroid back onto the radius-1e6 sphere
    (floor(c_i / ||c|| * 1e6)) — the spherical k-means step that keeps
    every Lloyd round's centroids comparable by angle.  Exact int64
    squares (components <= 1e6, so sums < 2^63 up to ~9e6 dims), one
    float64 divide + floor per component: deterministic."""
    n2 = F.aggregate(
        F.transform(c, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return F.when(
        n2 > 0,
        F.transform(
            c,
            lambda x: F.floor(
                x.cast("double") / F.sqrt(n2.cast("double")) * QUANT_SCALE
            ).cast("long"),
        ),
    ).otherwise(c)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def _norm2(a):
    return F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by quantized cosine; excludes self.
    Output: (query_id, neighbor_id, rank, cosine).  The query relation is
    broadcast — corpus is scanned once, no shuffle of the corpus."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        quantized(F.col(vec_col)).alias("cv"),
        _norm2(quantized(F.col(vec_col))).alias("cn"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantized(F.col(vec_col)).alias("qv"),
        _norm2(quantized(F.col(vec_col))).alias("qn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.try_divide(
                _dot(F.col("qv"), F.col("cv")).cast("double"),
                F.sqrt(F.col("qn").cast("double")) * F.sqrt(F.col("cn").cast("double")),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int"), "cosine")
    )


def cosine_dup_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: str = "lsh",
    pair_blocks: int = 16,
    broadcast_budget_bytes: int = 256 << 20,
    engine: str = "auto",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_1, id_2, cosine) with
    id_1 < id_2 and cosine >= threshold.

    ``candidates='lsh'`` (default, the 100 TB path): candidate pairs come
    from the multi-table hyperplane-LSH buckets — per table an equi-join on
    the bucket key, so the corpus cross product never materializes and the
    plan contains no nested-loop/cartesian node.  Exact cosine verifies each
    candidate.  Recall < 1 by LSH design (a pair hashed apart in every table
    is never compared); the bucket arithmetic is integer-deterministic, so
    results are exactly reproducible (and DuckDB-oracle-checkable).

    Skew hazard: the per-bucket candidate count is quadratic in the bucket
    population, so one dense bucket (measured: 5.1k of 20k sf1 vectors in a
    single 6-bit bucket → 13M of 183M candidate rows) would pin its whole
    quadratic blow-up on the one task owning that join key.  The pair join
    is therefore **block-salted**: the probe side replicates ``pair_blocks``
    ways and the build side lands in block ``xxhash64(id) mod pair_blocks``
    (hashed, so any id type — string uuid or integer — salts evenly), so a
    bucket of n rows becomes ``pair_blocks`` keys of ~n·(n/pair_blocks)
    pairs each — bounded per-task work at any bucket density, the same
    equi-join shape AQE/skew-join can already handle for moderate skew.

    A pair colliding in several tables is kept only in its FIRST shared
    table — a map-side filter over the two rows' carried bucket arrays that
    replaces a ``.distinct()`` shuffle of the (much larger) candidate set.

    Two engines, identical results (pinned against each other by test):

    * ``engine='grid'`` — the corpus-quadratic path.  Needs an INTEGRAL id
      column (the broadcast index is sorted int64).  When the broadcast
      payload fits ``broadcast_budget_bytes`` (n·(dim+T+1)·8 bytes: the
      quantized matrix plus the bucket matrix and norms — ~12 MB for
      20k×64) AND the quantized values are small enough that a float64
      matmul is exact (max|q|²·dim < 2⁵³ — true for any unit-ish embedding
      at 1e-6 quantization, 6.4e13 vs 9.0e15 at dim 64), the whole
      per-bucket pair grid runs as a blocked **dgemm** against a REPLICATED
      matrix: each salted (table, bucket, blk) group computes
      ``mat[P] @ mat[B].T`` (one BLAS call — no per-pair gather, no JVM
      pair rows), thresholds the grid, and only the surviving pairs pay
      the first-shared-table dedup and cross the Arrow boundary.
      Integer-valued float64 dgemm plus the same norm-product division
      reproduces the expression path IEEE-exactly.
    * ``engine='join'`` — the JVM salted pair join + two vector-attach
      joins + native expression cosine.  No driver collect, no broadcast:
      scales with executors when the corpus outgrows one broadcast (same
      budgeted pattern as dedup.py's verify stage), and has far lower
      constant cost on small corpora (no per-group Python invocation).

    ``engine='auto'`` picks grid when the corpus is big enough that the
    quadratic bucket work dominates (≥ ``_GRID_MIN_VECS`` vectors) and the
    broadcast/exactness gates hold; otherwise join.  ``pair_blocks`` is
    capped at ~n/1250 so a small corpus is not shredded into thousands of
    near-empty salt groups.

    ``candidates='all_pairs'``: exact brute-force self-join — O(n²), only
    for small corpora / recall measurement in tests.

    NOT lazy: the LSH path runs engine-choice probes eagerly at call time
    (one combined aggregate over a minimal (id, vec) projection — corpus
    row count, dim, max quantized magnitude) and, on the grid path,
    collects that projection to build the replicated matrix.  Corpora of
    >= ``_PROJ_PERSIST_MIN_VECS`` rows persist the projection
    (MEMORY_AND_DISK) so the corpus subplan is evaluated once for the
    downstream legs; the module registry unpersists the previous call's
    projection, so at most one cached projection is held per session.
    Smaller corpora skip the persist entirely (the re-evaluations are
    cheaper than the materialization job).  Pass an already-cached corpus
    if you need to control its storage level yourself.
    """
    if candidates not in ("lsh", "all_pairs"):
        raise ValueError(f"unsupported candidates={candidates!r}")
    if engine not in ("auto", "grid", "join"):
        raise ValueError(f"unsupported engine={engine!r}")
    e = corpus.select(
        F.col(id_col).alias("id"),
        quantized(F.col(vec_col)).alias("v"),
        _norm2(quantized(F.col(vec_col))).alias("n2"),
    )
    if candidates == "all_pairs":
        a = e.select(F.col("id").alias("id_1"), F.col("v").alias("v1"), F.col("n2").alias("n1"))
        b = e.select(F.col("id").alias("id_2"), F.col("v").alias("v2"), F.col("n2").alias("n2"))
        return (
            a.join(b, F.col("id_1") < F.col("id_2"))
            .select(
                "id_1",
                "id_2",
                F.try_divide(
                    _dot(F.col("v1"), F.col("v2")).cast("double"),
                    F.sqrt(F.col("n1").cast("double")) * F.sqrt(F.col("n2").cast("double")),
                ).alias("cosine"),
            )
            .where(F.col("cosine") >= threshold)
        )

    # One Arrow pass computes all table buckets; posexplode to
    # (table, bucket) rows.  The full per-table bucket array rides along
    # (~90 B/row — the shuffle stays |corpus|·N_TABLES-sized, probe side
    # ×pair_blocks), which makes everything after the join map-side: the
    # first-shared-table filter dedupes cross-table hits without a
    # .distinct() shuffle, and only the surviving id pairs reach the
    # cosine stage.
    from pyspark import StorageLevel

    buckets = _buckets_batch()
    # minimal projection every downstream leg (bucket explode, probe
    # aggregate, grid collect, join-engine vector attach) derives from
    proj = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    spark = corpus.sparkSession
    # ONE combined engine-choice probe: row count, dim, and the max
    # quantized magnitude (dgemm exactness gate) in a single pass (was
    # three separate driver jobs, each re-evaluating an uncached corpus)
    probe_row = proj.agg(
        F.count("*").alias("n"),
        F.first(F.size("vec"), ignorenulls=True).alias("d"),
        F.max(
            F.array_max(F.transform(quantized(F.col("vec")), F.abs))
        ).alias("m"),
    ).first()
    n_vecs = probe_row["n"] or 0
    dim = probe_row["d"] or 0
    qmax = probe_row["m"] or 0
    # Persist the projection only when the corpus is big enough that
    # re-evaluating its subplan per downstream leg (2-3 reads) costs more
    # than the cache materialization job — a few-hundred-row corpus pays
    # a measurable fixed persist cost for nothing (measured: the r9
    # persist-before-probe version cost the sf0.1 bench query ~0.7 s it
    # never earned back).  Trade-off owned deliberately: a LARGE corpus
    # now evaluates its subplan twice (probe, then cache fill on the
    # first downstream action) where persist-before-probe evaluated it
    # once — callers with an expensive upstream plan should pass an
    # already-cached corpus.  The module registry
    # unpersists the PREVIOUS call's projection (including disk-spilled
    # blocks LRU eviction never reclaims), so a long-lived session calling
    # this over many corpora holds at most one cached projection — same
    # pattern as dedup._VERIFY_BCASTS.
    if n_vecs >= _PROJ_PERSIST_MIN_VECS:
        while _PROJ_CACHE:
            try:
                _PROJ_CACHE.pop().unpersist(False)
            except Exception:
                pass  # context already stopped
        proj = proj.persist(StorageLevel.MEMORY_AND_DISK)
        _PROJ_CACHE.append(proj)
    ebt = proj.select(
        "id", buckets(F.col("vec")).alias("bs")
    ).select("id", "bs", F.posexplode("bs").alias("table", "bucket"))
    pair_blocks = max(1, min(pair_blocks, (n_vecs or 0) // 1250 or 1))
    # the blk salt hashes the id, so any id type (string uuid, long)
    # partitions the build side; the grid engine additionally needs
    # integral ids (searchsorted against an int64 index)
    blk_of_id = F.pmod(F.xxhash64(F.col("id")), F.lit(pair_blocks)).cast("int")
    integral_id = isinstance(
        corpus.schema[id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    if engine == "grid" and not integral_id:
        # an explicit grid request must not silently downgrade
        raise ValueError(
            f"engine='grid' needs an integral id column, got "
            f"{corpus.schema[id_col].dataType.simpleString()!r} — use "
            f"engine='join' (or 'auto') for non-numeric ids"
        )
    # broadcast payload = mat (n·dim·8) + bmat (n·T·8) + norms (n·8)
    use_grid = (
        engine != "join"
        and bool(n_vecs and dim)
        and integral_id
        and (engine == "grid" or n_vecs >= _GRID_MIN_VECS)
        and n_vecs * (dim + N_TABLES + 1) * 8 <= broadcast_budget_bytes
        # float64 dgemm over integer-valued inputs is exact only while
        # every partial sum stays below 2^53 (qmax from the combined
        # probe — computed distributed, before any driver collect)
        and float(qmax) ** 2 * dim < float(1 << 53)
    )
    if use_grid:
        # Replicated-matrix path: the pair blow-up never materializes as
        # JVM rows at all.  The shuffle moves only |corpus|·T·(G+1) id
        # rows into (table, bucket, blk) groups; inside each group one
        # BLAS dgemm scores the whole probe×build grid, the threshold
        # prunes it, and only the survivors pay the first-shared-table
        # dedup (bucket-matrix compare) and the Arrow trip back.
        id_vec = (
            proj.select("id", "vec", buckets(F.col("vec")).alias("bs"))
            .toPandas()
            .sort_values("id")
        )
        ids = id_vec["id"].to_numpy(dtype=np.int64)
        if np.unique(ids).size != ids.size:
            # searchsorted over a sorted index maps a duplicated id to one
            # arbitrary row's vector for EVERY probe/build occurrence —
            # silently diverging from the join engine, which scores each
            # row.  An explicit grid request fails loudly; auto falls back.
            if engine == "grid":
                raise ValueError(
                    f"engine='grid' requires unique values in {id_col!r} "
                    "(the broadcast index maps each id to one vector); "
                    "deduplicate the corpus or use engine='join'"
                )
            use_grid = False
    if use_grid:
        mat = np.stack(
            [
                np.floor(np.asarray(x, dtype=np.float64) * QUANT_SCALE)
                for x in id_vec["vec"]
            ]
        )
        bmat = np.stack([np.asarray(x, dtype=np.int64) for x in id_vec["bs"]])
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        # the broadcast lives until the returned DataFrame's last
        # execution — Spark's ContextCleaner reclaims it once the plan
        # (and this closure) are garbage-collected
        bc = spark.sparkContext.broadcast((ids, mat, bmat, norms))

        build = ebt.select(
            "table",
            "bucket",
            blk_of_id.alias("blk"),
            "id",
            F.lit(0).alias("probe"),
        )
        probe = ebt.select(
            "table",
            "bucket",
            F.explode(F.sequence(F.lit(0), F.lit(pair_blocks - 1))).alias("blk"),
            "id",
            F.lit(1).alias("probe"),
        )

        def gen(key, pdf):
            table = int(key[0])
            b_ids, b_mat, b_bmat, b_norms = bc.value
            p = np.searchsorted(
                b_ids, pdf.loc[pdf["probe"] == 1, "id"].to_numpy(dtype=np.int64)
            )
            b = np.searchsorted(
                b_ids, pdf.loc[pdf["probe"] == 0, "id"].to_numpy(dtype=np.int64)
            )
            out_1 = [np.array([], dtype=np.int64)]
            out_2 = [np.array([], dtype=np.int64)]
            out_c = [np.array([], dtype=np.float64)]
            if len(p) and len(b):
                bm_t = np.ascontiguousarray(b_mat[b].T)
                b_id = b_ids[b]
                bn = b_norms[b]
                for s in range(0, len(p), 4096):  # bound the grid to ~len(b)*32MB
                    ps = p[s : s + 4096]
                    cos = (b_mat[ps] @ bm_t) / np.outer(b_norms[ps], bn)
                    hit = (cos >= threshold) & (b_ids[ps][:, None] < b_id[None, :])
                    ii, jj = np.nonzero(hit)
                    if len(ii) == 0:
                        continue
                    gi, gj = ps[ii], b[jj]
                    # first shared table == this group's table
                    # (cross-table dedup, survivors only)
                    first = (b_bmat[gi] == b_bmat[gj]).argmax(axis=1)
                    k = first == table
                    out_1.append(b_ids[gi[k]])
                    out_2.append(b_ids[gj[k]])
                    out_c.append(cos[ii[k], jj[k]])
            return pd.DataFrame(
                {
                    "id_1": np.concatenate(out_1),
                    "id_2": np.concatenate(out_2),
                    "cosine": np.concatenate(out_c),
                }
            )

        return (
            build.unionByName(probe)
            .groupBy("table", "bucket", "blk")
            .applyInPandas(gen, "id_1 long, id_2 long, cosine double")
        )

    first_shared = F.array_position(
        F.zip_with("bs1", "bs2", lambda x, y: x == y), F.lit(True)
    )
    build = ebt.select(
        F.col("id").alias("id_2"),
        F.col("bs").alias("bs2"),
        "table",
        "bucket",
        blk_of_id.alias("blk"),
    )
    # ebt is an Arrow-UDF output with no stats, so the planner never picks
    # a broadcast on its own; under the same row budget as dedup.py's band
    # join (~90 B/row) the hint elides BOTH join exchanges.  Past the cap
    # the shuffle plan stands — the 100 TB path.
    if n_vecs * N_TABLES <= 2_000_000:
        build = F.broadcast(build)
    pairs = (
        ebt.select(
            F.col("id").alias("id_1"),
            F.col("bs").alias("bs1"),
            "table",
            "bucket",
            F.explode(F.sequence(F.lit(0), F.lit(pair_blocks - 1))).alias("blk"),
        )
        .join(build, ["table", "bucket", "blk"])
        .where((F.col("id_1") < F.col("id_2")) & (first_shared == F.col("table") + 1))
        .select("id_1", "id_2")
    )

    ev = proj.select(
        "id",
        quantized(F.col("vec")).alias("v"),
        _norm2(quantized(F.col("vec"))).alias("n2"),
    )
    # Expression cosine kept deliberately: an Arrow-batched cosine was
    # tried here (r15) and measured ~2x SLOWER — the candidate relation
    # arrives as array cells that pandas materializes one numpy object
    # per row, and that conversion tax exceeds the interpreted-HOF cost
    # it removes (unlike dedup.py's set verify, which slices ONE flat
    # Arrow buffer).
    return (
        pairs.join(
            ev.select(F.col("id").alias("id_1"), F.col("v").alias("v1"), F.col("n2").alias("n1")),
            "id_1",
        )
        .join(
            ev.select(F.col("id").alias("id_2"), F.col("v").alias("v2"), F.col("n2").alias("n2")),
            "id_2",
        )
        .select(
            "id_1",
            "id_2",
            F.try_divide(
                _dot(F.col("v1"), F.col("v2")).cast("double"),
                F.sqrt(F.col("n1").cast("double")) * F.sqrt(F.col("n2").cast("double")),
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


IVF_LISTS = 16
IVF_ITERS = 2
IVF_PROBES = 4


def _l2_int(a, b):
    """Exact integer squared L2 between two bigint vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _centroid_arr(centroids):
    """Collapse the tiny (list_id, c) relation to ONE row holding
    array<struct<list_id,c>> sorted by list_id.  crossJoining this single
    broadcast row lets nearest-centroid selection run ROW-LOCALLY as an
    array expression — the r14 shape crossJoined the corpus x n_lists and
    then paid a full hashpartitioning(id) Exchange + Window just to argmin
    over the n_lists copies of every vector (guide 2.4: the decision needs
    no data movement at all)."""
    return F.broadcast(
        centroids.agg(
            F.array_sort(F.collect_list(F.struct("list_id", "c"))).alias("_cents")
        )
    )


def _dists(vec_col, cents_col):
    """array<struct<d2,list_id>> of exact int64 distances to each centroid;
    struct order (d2, list_id) makes lexicographic min/sort reproduce the
    old Window orderBy('d2', 'list_id') tie-break exactly."""
    return F.transform(
        cents_col,
        lambda t: F.struct(
            _l2_int(vec_col, t["c"]).alias("d2"), t["list_id"].alias("list_id")
        ),
    )


def _nearest(e: DataFrame, centroids) -> DataFrame:
    """Assign each vector to its nearest centroid (ties -> smallest
    list_id); centroids is a tiny broadcast relation (list_id, c).
    Row-local argmin: no shuffle of the corpus (array_min over the
    per-centroid distance structs == the old window's rk=1 row)."""
    return (
        e.crossJoin(_centroid_arr(centroids))
        .select(
            "id",
            F.array_min(_dists(F.col("v"), F.col("_cents")))["list_id"].alias("list_id"),
            "v",
        )
    )


def _ivf_build(e: DataFrame, n_lists: int, iters: int, spherical: bool = False):
    """(assignment, centroids) for a deterministic integer-k-means IVF.

    Seeds are the ``n_lists`` smallest ids — picked with orderBy().limit()
    (plans as TakeOrderedAndProject: a per-partition top-K plus a driver
    merge, never a single-task global window over the corpus).  ``iters``
    Lloyd iterations keep centroids as floor-divided integer vectors
    (sum div count), so every step is exact integer arithmetic — the index
    is bit-reproducible across runs/cluster sizes (no RNG, no float
    accumulation order).  ``iters=0`` is the SQL-expressible seeded variant
    (assignment to nearest seed) used by the oracle-gated driver query.
    The returned centroids are the ones that PRODUCED the assignment, so
    probing is consistent with list membership.

    ``spherical=True`` renormalizes each Lloyd round's mean centroid back
    onto the radius-1e6 sphere (spherical k-means) — pair it with
    ``quantized_unit`` inputs so assignment L2 is monotone in ANGLE,
    the quantity cosine retrieval ranks by."""
    seeds = e.orderBy("id").limit(n_lists)
    # number the 16 seed rows (window over a tiny relation, not the corpus)
    seeds = seeds.withColumn(
        "list_id", F.row_number().over(Window.orderBy("id")) - 1
    ).select("list_id", F.col("v").alias("c"))
    centroids = F.broadcast(seeds)
    for _ in range(iters):
        assigned = _nearest(e, centroids)
        sums = (
            assigned.select("list_id", F.posexplode(F.col("v")).alias("dim", "x"))
            .groupBy("list_id", "dim")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .groupBy("list_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("dim", F.expr("s div n").alias("m")))
                    ),
                    lambda t: t["m"],
                ).alias("c")
            )
        )
        if spherical:
            sums = sums.select("list_id", _renorm_int(F.col("c")).alias("c"))
        centroids = F.broadcast(sums)
    return _nearest(e, centroids), centroids


def ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = IVF_LISTS,
    iters: int = IVF_ITERS,
    spherical: bool = False,
) -> DataFrame:
    """IVF (inverted-file) assignment — see _ivf_build.  Returns
    (id, list_id, v): the corpus partitioned into inverted lists.  Centroid
    recomputation aggregates per-dimension sums (a groupBy over exploded
    (list, dim, value) triples — one shuffle per iteration, tiny)."""
    qz = quantized_unit if spherical else quantized
    e = corpus.select(F.col(id_col).alias("id"), qz(F.col(vec_col)).alias("v"))
    assigned, _ = _ivf_build(e, n_lists, iters, spherical)
    return assigned


def ivf_index_save(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = IVF_LISTS,
    iters: int = IVF_ITERS,
    spherical: bool = False,
) -> None:
    """Materialize the IVF index once: the assignment (id, list_id, v)
    parquet-PARTITIONED BY list_id — so a probe of p lists prunes to p
    directories at scan time — plus the producing centroids under
    ``<path>/centroids``.  Build once per corpus version, then serve every
    query batch from the saved index (`ivf_topk(index_path=...)`) instead
    of re-running k-means per call."""
    qz = quantized_unit if spherical else quantized
    e = corpus.select(F.col(id_col).alias("id"), qz(F.col(vec_col)).alias("v"))
    assigned, cents = _ivf_build(e, n_lists, iters, spherical)
    # the centroid lineage embeds every Lloyd iteration and feeds BOTH
    # writes (the final _nearest inside `assigned`, and the centroid
    # table itself) — persist it so the k-means build runs once, not once
    # per write action
    cents = cents.persist()
    try:
        cents.count()
        assigned.write.partitionBy("list_id").parquet(f"{path}/lists")
        cents.select("list_id", "c").write.parquet(f"{path}/centroids")
    finally:
        cents.unpersist()


def ivf_index_load(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(assignment, centroids) back from ivf_index_save output."""
    return (
        spark.read.parquet(f"{path}/lists"),
        spark.read.parquet(f"{path}/centroids"),
    )


def ivf_topk(
    corpus: DataFrame | None,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = IVF_PROBES,
    n_lists: int = IVF_LISTS,
    iters: int = IVF_ITERS,
    index_path: str | None = None,
    spherical: bool = False,
) -> DataFrame:
    """IVF approximate top-k: each query probes its n_probes nearest
    inverted lists and scores only those lists' vectors (equi-join on
    list_id — candidate cost scales with probed-list occupancy, not corpus
    size).  Deterministic end to end; recall tested against cosine_topk.

    ``index_path`` serves from an index materialized by ivf_index_save —
    the scale pattern: the k-means build is paid once per corpus version,
    and the list_id partitioning means each query batch SCANS only the
    probed lists (partition pruning, no full-corpus pass).  ``corpus`` is
    ignored (may be None) when an index_path is given — pass the SAME
    ``spherical`` the index was saved with (list vectors and probe
    geometry must agree)."""
    qz = quantized_unit if spherical else quantized
    if index_path is not None:
        index, cents = ivf_index_load(queries.sparkSession, index_path)
    else:
        if corpus is None:
            raise ValueError("ivf_topk needs a corpus or an index_path")
        e = corpus.select(F.col(id_col).alias("id"), qz(F.col(vec_col)).alias("v"))
        index, cents = _ivf_build(e, n_lists, iters, spherical)
    cents = cents.select("list_id", F.col("c"))
    q = queries.select(F.col(id_col).alias("query_id"), qz(F.col(vec_col)).alias("qv"))
    # Row-local probe pick (no per-query Window shuffle): sort the tiny
    # distance array and take the n_probes head — identical ordering and
    # tie-break to the old row_number <= n_probes.
    probes = (
        q.crossJoin(_centroid_arr(cents))
        .select(
            "query_id",
            "qv",
            F.explode(
                F.slice(F.array_sort(_dists(F.col("qv"), F.col("_cents"))), 1, n_probes)
            ).alias("p"),
        )
        .select("query_id", "qv", F.col("p.list_id").alias("list_id"))
    )
    # The probe side is (queries x n_probes) — the module contract (same as
    # cosine_topk / ann_topk_lsh) is that the QUERY side is the small one,
    # so broadcast it: the corpus-sized index is never shuffled (the r14
    # plan SortMergeJoined here, exchanging BOTH sides by list_id).  The
    # cosine is the NATIVE integer expression (exact int64 dot/norms, the
    # op sequence _cosine_batch mimics — identical rows, no ArrowEvalPython
    # over the probed-list stream; guide 4.1).
    cosine = F.try_divide(
        _dot(F.col("qv"), F.col("cv")).cast("double"),
        F.sqrt(_norm2(F.col("qv")).cast("double"))
        * F.sqrt(_norm2(F.col("cv")).cast("double")),
    )
    scored = (
        F.broadcast(probes)
        .join(index.select("list_id", F.col("id").alias("neighbor_id"), F.col("v").alias("cv")), "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int"), "cosine")
    )


def plane_coef(plane: int, dim: int):
    """Deterministic pseudo-random hyperplane coefficient in
    [-(P-1)/2, (P-1)/2]: ((plane*997 + dim) * 2654435761) mod P - (P-1)/2."""
    return ((plane * 997 + dim) * 2654435761) % _PLANE_MOD - (_PLANE_MOD - 1) // 2


def lsh_bucket(vec_col, table: int) -> F.Column:
    """Hyperplane-LSH bucket id for one table: bit p = 1 iff
    dot(plane_{table,p}, v) > 0 over the quantized vector.  Plane
    coefficients are generated inline from (global plane index, dim) —
    pure integer arithmetic, portable and deterministic."""
    qv = quantized(vec_col)
    half = (_PLANE_MOD - 1) // 2

    def coef_lambda(g: int):
        return lambda x, i: x * (((F.lit(g * 997) + i) * 2654435761) % _PLANE_MOD - half)

    bucket = F.lit(0)
    for p in range(N_PLANES):
        dot = F.aggregate(
            F.zip_with(qv, F.sequence(F.lit(0), F.size(qv) - 1), coef_lambda(table * N_PLANES + p)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(0)
    return bucket.cast("long")


def _buckets_batch(n_planes: int | None = None, n_tables: int | None = None):
    """Arrow-vectorized multi-table bucket computation: one integer matmul
    per batch instead of n_tables*n_planes expression-tree aggregates per
    row.  Same arithmetic as lsh_bucket (int64 exact) — results identical,
    just computed in numpy.  (n_planes, n_tables) default to the module
    operating point; tools/ann_recall.py sweeps them."""
    half = (_PLANE_MOD - 1) // 2
    n_p = N_PLANES if n_planes is None else n_planes
    n_t = N_TABLES if n_tables is None else n_tables

    @F.pandas_udf("array<long>")
    def udf(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        v = np.stack(
            [np.floor(np.asarray(x, dtype=np.float64) * QUANT_SCALE).astype(np.int64) for x in vec]
        )
        dim = v.shape[1]
        g = np.arange(n_t * n_p, dtype=np.int64)[:, None]
        d = np.arange(dim, dtype=np.int64)[None, :]
        planes = ((g * 997 + d) * 2654435761) % _PLANE_MOD - half
        bits = (v @ planes.T) > 0  # (n, T*P)
        weights = np.tile(1 << np.arange(n_p, dtype=np.int64), n_t)
        per_plane = bits.astype(np.int64) * weights[None, :]
        buckets = per_plane.reshape(len(v), n_t, n_p).sum(axis=2)
        return pd.Series(list(buckets))

    return udf


def _probe_buckets_batch(n_planes: int, n_tables: int, n_flip: int):
    """Arrow-vectorized MULTI-PROBE bucket computation for the query side
    (Lv et al. 2007, multi-probe LSH): per table, the base bucket plus
    ``n_flip`` perturbed buckets, each flipping ONE plane bit in
    ascending order of |dot| margin — the planes the query was closest
    to, i.e. the flips most likely to recover a near neighbor that fell
    on the other side.  Output is a flat array of n_tables*(1+n_flip)
    bucket ids, table index = position div (1+n_flip); with n_flip=0 it
    reduces bit-for-bit to _buckets_batch.  Multi-probe buys recall at
    FIXED index size (the corpus side still stores one bucket per
    table) — the scale-relevant direction, since tables multiply index
    storage but probes only multiply query-side join rows."""
    half = (_PLANE_MOD - 1) // 2
    n_probe = 1 + n_flip

    @F.pandas_udf("array<long>")
    def udf(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        v = np.stack(
            [np.floor(np.asarray(x, dtype=np.float64) * QUANT_SCALE).astype(np.int64) for x in vec]
        )
        dim = v.shape[1]
        g = np.arange(n_tables * n_planes, dtype=np.int64)[:, None]
        d = np.arange(dim, dtype=np.int64)[None, :]
        planes = ((g * 997 + d) * 2654435761) % _PLANE_MOD - half
        dots = (v @ planes.T).reshape(len(v), n_tables, n_planes)
        bits = (dots > 0).astype(np.int64)
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        base = (bits * weights[None, None, :]).sum(axis=2)  # (n, T)
        out = np.empty((len(v), n_tables, n_probe), dtype=np.int64)
        out[:, :, 0] = base
        if n_flip:
            order = np.argsort(np.abs(dots), axis=2, kind="stable")
            for f in range(n_flip):
                out[:, :, 1 + f] = base ^ (1 << order[:, :, f])
        return pd.Series(list(out.reshape(len(v), -1)))

    return udf


def _cosine_batch():
    """Arrow-vectorized quantized cosine: exact int64 dot/norms, then the
    same float64 op sequence as the expression path (IEEE-identical).
    Zero-norm vectors yield NULL, not NaN — Spark orders NaN ABOVE every
    double (it would win a cosine-desc top-k!), while SQL NULL sorts last
    under desc on both engines, matching try_divide and the oracle."""

    @F.pandas_udf("double")
    def udf(qv: pd.Series, cv: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype=np.float64)
        a = np.stack([np.asarray(x, dtype=np.int64) for x in qv])
        b = np.stack([np.asarray(x, dtype=np.int64) for x in cv])
        dot = np.einsum("ij,ij->i", a, b).astype(np.float64)
        na = np.sqrt(np.einsum("ij,ij->i", a, a).astype(np.float64))
        nb = np.sqrt(np.einsum("ij,ij->i", b, b).astype(np.float64))
        denom = na * nb
        out = np.divide(dot, denom, out=np.full(len(dot), np.nan), where=denom > 0)
        return pd.Series(pd.array(out, dtype="Float64"))

    return udf


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int | None = None,
    n_flip: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates = union over n_tables of same-bucket
    pairs (each an equi-join on the bucket key — the cross product never
    materializes), exact-rank on candidates.  Bucket hashing and candidate
    scoring run as Arrow-batched numpy (integer-exact, so results match the
    declarative oracle bit-for-bit).  Recall is probabilistic — expected
    1-(1-p^n_planes)^n_tables for per-plane agreement p = 1 - theta/pi —
    measured against cosine_topk by tools/ann_recall.py and tested at the
    (N_PLANES, N_TABLES) default operating point.

    ``n_flip`` enables multi-probe (Lv et al. 2007): each query probes,
    per table, its base bucket PLUS n_flip perturbed buckets flipping the
    lowest-|margin| plane bits — recall rises at fixed index size, with
    query-side join rows (not corpus storage) paying for it.  n_flip=0 is
    the exact r14 behavior; the measured frontier lives in
    RECALL_r15.json."""
    # Single Arrow pass per relation computes all table buckets; explode to
    # (table, bucket) rows and one equi-join generates candidates for every
    # table at once (the query side is tiny and broadcasts).  The collision
    # stream is kept NARROW (ids + the small bucket arrays only): the
    # quantized vectors do NOT ride the join.  An earlier r15 shape carried
    # both vectors through the collision stream to skip the re-attach
    # joins; at sf1 (7.7M collision rows x ~1.2 KB carried vs ~100 B
    # narrow) that inflated the hot path ~10x and measured 13.7-20.6 s vs
    # 3.9-5.6 s for this shape (guide 2.1: shuffle/stream fewer bytes —
    # per-row payload scales with collision count, the re-attach joins
    # scale with the corpus).  A pair colliding in several tables is kept
    # only in its FIRST shared table by a map-side filter, so the
    # .distinct() Exchange of the candidate set never returns; the vectors
    # re-attach to the deduped survivors via the broadcast query relation
    # and a stats-gated corpus join, and the cosine is the NATIVE integer
    # expression (the exact op sequence _cosine_batch mimics; row-identity
    # measured at sf0.1 and sf1) — the COLLISION-SCALED ArrowEvalPython is
    # gone (guide 4.1; the only Arrow nodes left are the bucket-projection
    # matmuls, which run once per corpus/query row, not per candidate
    # pair), which also removes the ~80 s cold-start Python-worker tail
    # the bench's single-cold-run rule was recording at sf1.
    n_p = N_PLANES if n_planes is None else n_planes
    n_t = N_TABLES if n_tables is None else n_tables
    if not 0 <= n_flip <= n_p:
        raise ValueError(f"n_flip must be in [0, n_planes]: {n_flip}")
    n_probe = 1 + n_flip
    buckets = _buckets_batch(n_planes, n_tables)
    ct = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        buckets(F.col(vec_col)).alias("bs"),
    ).select("neighbor_id", "bs", F.posexplode("bs").alias("table", "bucket"))
    probes = _probe_buckets_batch(n_p, n_t, n_flip)
    qt = (
        queries.select(
            F.col(id_col).alias("query_id"),
            probes(F.col(vec_col)).alias("pbs"),
        )
        .select(
            "query_id", "pbs", F.posexplode("pbs").alias("pos", "bucket")
        )
        .select(
            "query_id",
            "pbs",
            (F.col("pos") / n_probe).cast("int").alias("table"),
            "bucket",
        )
    )
    # First table where the corpus bucket is in the query's probe set for
    # that table.  Within one table all probe buckets are distinct (bit
    # flips of distinct planes), so a pair collides at most once per
    # table and exactly one row survives the table == first_shared filter.
    if n_flip == 0:
        # one probe per table: "bucket in probe set" degenerates to
        # elementwise equality — zip_with + array_position costs ~1/4 of
        # the general filter(slice/array_contains) form, which measured
        # ~12 s on 7.7M collision rows at sf1
        first_shared = (
            F.array_position(
                F.zip_with(F.col("bs"), F.col("pbs"), lambda x, y: x == y),
                True,
            )
            - 1
        )
    else:
        first_shared = F.filter(
            F.sequence(F.lit(0), F.lit(n_t - 1)),
            lambda t: F.array_contains(
                F.slice(F.col("pbs"), t * n_probe + 1, n_probe),
                F.element_at(F.col("bs"), t + 1),
            ),
        )[0]
    cands = (
        ct.join(F.broadcast(qt), ["table", "bucket"])
        .where(
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("table") == first_shared)
        )
        .select("query_id", "neighbor_id")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), quantized(F.col(vec_col)).alias("qv")
    )
    cv = _hint_if_small(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            quantized(F.col(vec_col)).alias("cv"),
        )
    )
    cosine = F.try_divide(
        _dot(F.col("qv"), F.col("cv")).cast("double"),
        F.sqrt(_norm2(F.col("qv")).cast("double"))
        * F.sqrt(_norm2(F.col("cv")).cast("double")),
    )
    scored = (
        cands.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int"), "cosine")
    )
