"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline (native higher-order
functions — zip_with dot product, aggregate norms; JVM-side, no Python), and
an LSH-bucketed variant (random-hyperplane signs) as the 100TB scale path:
buckets shrink the candidate set from |corpus| to |bucket|, the final exact
re-rank runs only inside buckets.
"""
from __future__ import annotations

from functools import lru_cache

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d == 0, F.lit(0.0)).otherwise(dot(a, b) / d)


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     qid_col: str = "qid", qvec_col: str = "qvec") -> DataFrame:
    """Exact cosine top-k per query. The (small) query side is broadcast —
    the corpus streams through one map stage, then a per-query top-k window.

    Returns (qid, vec_id, cos_sim, rank), rank 1..k, ties broken by vec_id
    (deterministic).

    Both sides' norms are projected ONCE before the cross join — the
    inline cosine() would re-fold norm(vec) per query and norm(qvec) per
    corpus row (measured r7: for q queries that triples the per-pair HOF
    work). The value is bit-identical: same left-folds, same operation
    order, one dot product per pair."""
    from docext_spark.session import fanout_small
    vn = fanout_small(vectors).withColumn("_vn", norm(F.col(vec_col)))
    qn = queries.withColumn("_qn", norm(F.col(qvec_col)))
    denom = F.col("_vn") * F.col("_qn")
    cos = F.when(denom == 0, F.lit(0.0)).otherwise(
        dot(F.col(vec_col), F.col(qvec_col)) / denom)
    scored = (vn.crossJoin(F.broadcast(qn))
              .select(F.col(qid_col), F.col(id_col),
                      F.round(cos, 6).alias("cos_sim")))
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def _dim_guard(vec: Column, dim: int) -> Column:
    """Fail the job loudly if a vector's length differs from the declared
    LSH dimension — a silent mismatch would null-pad every zip_with dot
    product, collapse all sign bits to '0', and degrade the bucketed path
    into one giant O(n²) bucket."""
    ok = F.assert_true(
        F.size(vec) == dim,
        F.concat(F.lit(f"LSH dim mismatch: declared dim={dim}, got length "),
                 F.size(vec).cast("string")))
    return F.when(ok.isNull(), vec)


def banded_signatures(df: DataFrame, col: str, dim: int, n_planes: int,
                      n_tables: int, impl: str = "udf") -> DataFrame:
    """(… original columns …, bucket) — one row per (row, table): the
    multi-table hyperplane bucket assignment shared by embedding_near_dups
    and lsh_topk (single source for the seed scheme / bucket format, so the
    two paths cannot drift).

    ``impl='udf'`` (default, the 100 TB path) computes the sign bits in an
    Arrow-batched pandas UDF that regenerates the seeded planes worker-side
    — ZERO plane literals in the plan, so a production 4096-dim × 8-plane ×
    4-table config adds nothing to analysis/codegen. ``impl='literal'``
    inlines the planes as expressions — kept as the SQL-oracle twin (DuckDB
    replays the same literals) and the parity gate for the UDF path. The
    two are BIT-IDENTICAL, not approximately equal: the UDF reproduces
    Catalyst's left-fold double summation exactly (see _signatures_udf),
    asserted in tests at several dims."""
    if impl == "literal":
        sigs = F.array(*[
            F.struct(F.lit(t).alias("tbl"),
                     hyperplane_signature(
                         F.col(col),
                         deterministic_planes(dim, n_planes, seed=42 + 7919 * t))
                     .alias("sig"))
            for t in range(n_tables)])
        exploded = F.explode(sigs)
    elif impl == "udf":
        udf = _signatures_udf(dim, n_planes, n_tables)
        exploded = F.explode(udf(F.col(col).cast("array<double>")))
    else:
        raise ValueError(f"unknown impl: {impl!r} (udf | literal)")
    return (df.withColumn("b", exploded)
              .withColumn("bucket",
                          F.concat_ws(":", F.col("b.tbl").cast("string"),
                                      F.col("b.sig")))
              .drop("b"))


@lru_cache(maxsize=8)
def planes_matrix(dim: int, n_planes: int, n_tables: int):
    """(n_tables·n_planes, dim) float64 matrix of the seeded hyperplanes —
    the worker-side twin of deterministic_planes, same seed scheme. Cached
    (a worker regenerates once per config, not once per Arrow batch);
    treat the returned array as read-only."""
    import numpy as np
    rows = []
    for t in range(n_tables):
        rows.extend(deterministic_planes(dim, n_planes, seed=42 + 7919 * t))
    return np.asarray(rows, dtype=np.float64)


def _signatures_udf(dim: int, n_planes: int, n_tables: int):
    """Arrow-batched signature UDF: vec → array<struct<tbl:int,sig:string>>
    (one entry per table). Planes are regenerated from the seed ONCE per
    worker (cheap, deterministic) instead of shipping k×dim literals
    through every plan.

    Bit-parity with the literal path is exact by construction: Catalyst's
    ``aggregate(zip_with(v, p, *), 0.0, +)`` is a sequential left fold of
    IEEE-754 double mul/add, and ``np.cumsum`` over the elementwise product
    performs the same operations in the same order (numpy's pairwise-sum
    shortcut applies to ``sum``, not ``cumsum``), so every sign bit —
    including near-zero dots — matches. Degenerate inputs mirror the
    literal path exactly too: a NULL or wrong-length vector folds to a
    null dot, and ``when(null >= 0)`` falls to '0'; a NaN dot (NaN
    element, or inf−inf arising mid-fold) compares ``NaN >= 0`` as TRUE
    under Spark's NaN-greatest ordering, so the bit is '1' — hence the
    ``| isnan`` below (plain numpy ``>=`` would say False and silently
    split buckets between the two paths)."""
    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.pandas.functions import pandas_udf

    out_t = T.ArrayType(T.StructType([
        T.StructField("tbl", T.IntegerType()),
        T.StructField("sig", T.StringType())]))
    zero_sig = "0" * n_planes

    @pandas_udf(out_t)
    def sigs(vecs: pd.Series) -> pd.Series:
        planes = planes_matrix(dim, n_planes, n_tables)   # lru-cached
        out = []
        vals = [None if v is None else np.asarray(v, dtype=np.float64)
                for v in vecs]
        ok_idx = [i for i, v in enumerate(vals)
                  if v is not None and len(v) == dim]
        bits = None
        if ok_idx:
            mat = np.stack([vals[i] for i in ok_idx])      # (m, dim)
            # left-fold dot per plane: cumsum of the elementwise product
            # (exact Catalyst order); loop over planes bounds peak memory
            # at one (m, dim) product buffer
            sgn = np.empty((len(ok_idx), planes.shape[0]), dtype=bool)
            for j in range(planes.shape[0]):
                d = np.cumsum(mat * planes[j], axis=1)[:, -1]
                sgn[:, j] = (d >= 0) | np.isnan(d)   # Spark: NaN >= 0 → true
            bits = {row_i: sgn[mi] for mi, row_i in enumerate(ok_idx)}
        for i, v in enumerate(vals):
            if bits is not None and i in bits:
                s = bits[i]
                out.append([
                    {"tbl": t,
                     "sig": "".join("1" if s[t * n_planes + j] else "0"
                                    for j in range(n_planes))}
                    for t in range(n_tables)])
            else:
                # null / wrong-length vec: the literal path's dot is null
                # and when(null >= 0) falls to '0' — mirror it
                out.append([{"tbl": t, "sig": zero_sig}
                            for t in range(n_tables)])
        return pd.Series(out)

    return sigs


def embedding_near_dups(vectors: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        exact: bool = False, n_planes: int = 8,
                        n_tables: int = 4,
                        dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos_sim ≥ τ).

    Default (exact=False) is the scale path: hyperplane-LSH with
    OR-amplification over ``n_tables`` independent plane sets — a pair is a
    candidate if it collides in ANY table, so recall for cosine≥τ pairs is
    1 - (1 - (1 - acos(τ)/π)^n_planes)^n_tables. Candidates are deduped
    BEFORE the exact re-rank so a pair's cosine is computed once, and only
    (id, bucket) flows through the candidate shuffle (vectors rejoin after).
    ``dim`` is required: planes must match the embedding length (a guard in
    the plan raises on mismatch rather than silently degenerating).

    exact=True is the O(n²) oracle baseline — never the default, so pipeline
    code cannot silently inherit a cartesian self-join."""
    if not exact and dim is None:
        raise ValueError(
            "embedding_near_dups(exact=False) requires dim= (the embedding "
            "length): hyperplanes of the wrong dimension silently null-pad "
            "every dot product and collapse all vectors into one bucket")
    from docext_spark.session import fanout_small
    v = fanout_small(vectors).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"))
    if exact:
        a = v.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
        b = v.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
        cand = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        return (cand.withColumn("cos_sim",
                                F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6))
                    .filter(F.col("cos_sim") >= threshold)
                    .select("id_a", "id_b", "cos_sim").distinct())
    v = v.withColumn("vec", _dim_guard(F.col("vec"), dim))
    banded = banded_signatures(v, "vec", dim, n_planes, n_tables) \
        .select("id", "bucket")
    a = banded.withColumnRenamed("id", "id_a")
    b = banded.withColumnRenamed("id", "id_b")
    cand = (a.join(b, "bucket")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").distinct())
    va = v.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = v.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (cand.join(va, "id_a").join(vb, "id_b")
                .withColumn("cos_sim",
                            F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6))
                .filter(F.col("cos_sim") >= threshold)
                .select("id_a", "id_b", "cos_sim"))


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH signature: one sign bit per plane, packed into
    a string key ('1'/'0' chars) with the planes INLINED as expressions.
    This is the SQL-oracle / parity-twin shape — production signatures go
    through _signatures_udf (impl='udf'), which keeps k×dim floats out of
    the plan entirely."""
    bits = [F.when(dot(vec, F.array(*[F.lit(float(x)) for x in p])) >= 0,
                   F.lit("1")).otherwise(F.lit("0"))
            for p in planes]
    return F.concat(*bits)


def deterministic_planes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Seeded pseudo-random hyperplanes (pure Python, reproducible)."""
    import random
    rng = random.Random(seed)
    return [[rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def ivf_assign(vectors: DataFrame, centroids: list[tuple[int, list[float]]],
               vec_col: str = "embedding", probe: int = 1) -> DataFrame:
    """IVF coarse quantization with INLINED centroid literals — kept for
    tiny k (SQL-oracle documentation shape) and as the parity twin for
    ivf_assign_broadcast, which is the production default used by ivf_topk
    and kmeans_fit (a k=4096×dim=64 quantizer inlined here would bloat
    every plan that embeds the assignment). probe>1 assigns each vector to
    its `probe` nearest lists for higher recall."""
    dists = F.array(*[
        F.struct(
            (-cosine(F.col(vec_col),
                     F.array(*[F.lit(float(x)) for x in cvec]))).alias("negsim"),
            F.lit(cid).alias("cid"))
        for cid, cvec in centroids])
    nearest = F.slice(F.array_sort(dists), 1, probe)
    return vectors.withColumn("ivf_list",
                              F.explode(F.transform(nearest, lambda s: s["cid"])))


def centroids_to_df(spark, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """(cid, cvec) centroid table for the broadcast assignment path — built
    via Arrow (pandas) so the local relation stays JVM-side."""
    import pandas as pd
    pdf = pd.DataFrame({"cid": [c for c, _ in centroids],
                        "cvec": [[float(x) for x in v] for _, v in centroids]})
    return spark.createDataFrame(pdf, "cid int, cvec array<double>")


def _packed_centroids(cdf: DataFrame) -> DataFrame:
    """One-row frame holding ALL centroids as a sorted array of
    (cid, cvec, cn) structs, cn = norm(cvec) precomputed once per centroid
    — the broadcast payload for map-only nearest-centroid scoring."""
    return (cdf.select(F.struct(F.col("cid"), F.col("cvec"),
                                norm(F.col("cvec")).alias("cn")).alias("c"))
               .agg(F.sort_array(F.collect_list("c")).alias("_cents")))


def _centroid_negsim(vec: Column, vn: Column) -> Column:
    """array<struct<negsim,cid>> over the broadcast ``_cents`` column:
    per-centroid -cosine with the row's norm ``vn`` computed ONCE (the
    generic cosine() re-folds norm(vec) for every centroid — k× redundant
    work; the value is bit-identical, same left-fold, same operation
    order)."""
    def score(c):
        d = vn * c["cn"]
        cos = F.when(d == 0, F.lit(0.0)).otherwise(dot(vec, c["cvec"]) / d)
        return F.struct((-cos).alias("negsim"), c["cid"].alias("cid"))
    return F.transform(F.col("_cents"), score)


def ivf_assign_broadcast(vectors: DataFrame, cdf: DataFrame,
                         vec_col: str = "embedding",
                         probe: int = 1) -> DataFrame:
    """IVF assignment against a BROADCAST centroid table — the real-k
    quantizer shape (k=4096 × dim=64 inlined literals would bloat every
    plan that embeds the assignment; as a broadcast relation the centroids
    ship to executors once). The centroids travel as ONE array row
    (BroadcastNestedLoopJoin of a single-row relation — the correct shape
    for nearest-centroid: every row must score ALL k centroids, so there
    is no equi-key to hash on), and the argmin/arg-top-probe runs as a
    map-only array expression per row: NO k-way row expansion and NO
    groupBy shuffle at all (the former shape exploded each vector into k
    scored rows and re-aggregated them with the full embedding array as
    part of the grouping key — measured r7). Tie-break matches ivf_assign
    exactly: struct ordering on (negsim, cid) → lowest cid."""
    # NOTE: no cast on vec_col — norm/dot must see the exact input type the
    # former cosine() call saw, so every fold is bit-identical
    packed = _packed_centroids(cdf)
    scored = (vectors
              .withColumn("_vn", norm(F.col(vec_col)))
              .crossJoin(F.broadcast(packed)))
    arr = _centroid_negsim(F.col(vec_col), F.col("_vn"))
    if probe == 1:
        out = scored.withColumn("ivf_list", F.array_min(arr)["cid"])
    else:
        out = scored.withColumn(
            "ivf_list",
            F.explode(F.transform(F.slice(F.array_sort(arr), 1, probe),
                                  lambda s: s["cid"])))
    return out.drop("_vn", "_cents")


def deterministic_centroids(vectors: DataFrame, n_lists: int = 8,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """Seeded centroid init: the n_lists lowest-id vectors (deterministic;
    kmeans_fit refines them with Lloyd's iterations). SQL-replayable (the
    ann_ivf_topk oracle pins it), but collapses when low ids are co-located
    — prefer farthest_point_centroids for a real quantizer fit."""
    rows = (vectors.orderBy(id_col).limit(n_lists)
            .select(vec_col).collect())
    return [(i, [float(x) for x in r[0]]) for i, r in enumerate(rows)]


def farthest_point_centroids(vectors: DataFrame, n_lists: int = 8,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """Deterministic kmeans++-style farthest-point init: start from the
    lowest-id NON-ZERO vector, then repeatedly take the not-yet-chosen
    vector maximizing the cosine distance to its nearest already-chosen
    centroid (ties broken by lowest id). Unlike lowest-id init this cannot
    collapse when low ids are co-located in one region (the
    adversarial-ordering failure mode).

    Robustness (code-review findings): zero-norm vectors are EXCLUDED —
    cosine carries no direction for them, a zero seed would sit at
    distance 1 from everything including itself and the tie-break would
    re-pick it forever; chosen ids are excluded explicitly so no vector
    can seed twice. Distances are computed against the BROADCAST
    chosen-centroid table (no k×dim plan literals). Still O(n_lists)
    sequential passes — a coarse-quantizer init (k up to a few hundred);
    for larger k this raises rather than silently running k full scans
    (use init='lowest' or supply trained centroids). Returns fewer than
    n_lists centroids if the corpus has fewer distinct non-zero vectors."""
    if n_lists > 512:
        raise ValueError(
            f"farthest-point seeding is {n_lists} sequential corpus passes "
            "at n_lists=" f"{n_lists} — use init='lowest' or pass "
            "precomputed centroids for quantizers this large")
    v = (vectors.select(F.col(id_col).alias("id"),
                        F.col(vec_col).cast("array<double>").alias("vec"))
         .filter(norm(F.col("vec")) > 0))
    first = v.orderBy("id").limit(1).collect()
    if not first:
        raise ValueError("no non-zero vectors to seed from")
    cents = [[float(x) for x in first[0]["vec"]]]
    chosen_ids = [first[0]["id"]]
    for _ in range(n_lists - 1):
        cdf = centroids_to_df(vectors.sparkSession, list(enumerate(cents)))
        # map-only min-distance over the packed centroid array (same
        # single-row broadcast shape as ivf_assign_broadcast — no k-way
        # row expansion, no groupBy shuffle; values bit-identical)
        packed = _packed_centroids(cdf)
        scored = (v.filter(~F.col("id").isin(chosen_ids))
                  .withColumn("_vn", norm(F.col("vec")))
                  .crossJoin(F.broadcast(packed)))
        dist = F.array_min(F.transform(
            F.col("_cents"),
            lambda c: 1 - F.when(F.col("_vn") * c["cn"] == 0, F.lit(0.0))
                           .otherwise(dot(F.col("vec"), c["cvec"])
                                      / (F.col("_vn") * c["cn"]))))
        rows = (scored.select("id", "vec", dist.alias("_d"))
                .orderBy(F.desc("_d"), "id").limit(1).collect())
        if not rows:
            break
        cents.append([float(x) for x in rows[0]["vec"]])
        chosen_ids.append(rows[0]["id"])
    return list(enumerate(cents))


def kmeans_fit(vectors: DataFrame, dim: int, n_lists: int = 8,
               iters: int = 5, id_col: str = "vec_id",
               vec_col: str = "embedding",
               init: str = "farthest") -> list[tuple[int, list[float]]]:
    """Distributed Lloyd's k-means over the embedding column (cosine
    assignment, mean update) — a real IVF coarse-quantizer fit, pure
    DataFrame ops. Each iteration is one pass: assign every vector to its
    nearest centroid via the BROADCAST centroid table (real-k safe — no
    k×dim literals in the plan) and re-aggregate per-dimension means
    map-side. The only driver materialization is k centroid rows per
    iteration. Empty clusters keep their previous centroid. Deterministic:
    ``init='farthest'`` (default) is farthest-point seeding —
    lowest-id init (``init='lowest'``) collapses clusters when low ids are
    co-located; no sampling anywhere."""
    if init == "farthest":
        cents = farthest_point_centroids(vectors, n_lists, id_col, vec_col)
    elif init == "lowest":
        cents = deterministic_centroids(vectors, n_lists, id_col, vec_col)
    else:
        raise ValueError(f"unknown init: {init!r} (farthest | lowest)")
    # keep the id in the frame: ivf_assign_broadcast groups by all columns,
    # and duplicate vectors must each contribute to their cluster's mean
    v = vectors.select(F.col(id_col).alias("_kid"),
                       F.col(vec_col).cast("array<double>").alias("vec"))
    for _ in range(iters):
        cdf = centroids_to_df(vectors.sparkSession, cents)
        assigned = ivf_assign_broadcast(v, cdf, "vec", probe=1)
        # exact decimal sums, not F.avg(double): double partials accumulate
        # in scheduling-dependent order, and a 1-ulp centroid wobble can
        # flip a borderline assignment next iteration — the quantizer must
        # be bit-stable at any parallelism (r5 verdict #1 sweep)
        means = (assigned.groupBy("ivf_list")
                 .agg(F.count(F.lit(1)).alias("n"),
                      *[F.sum(F.element_at(F.col("vec"), i + 1)
                              .cast("decimal(28,12)")).alias(f"s{i}")
                        for i in range(dim)]))
        new = {int(r["ivf_list"]): [float(r[f"s{i}"]) / r["n"]
                                    for i in range(dim)]
               for r in means.collect()}
        cents = [(cid, new.get(cid, old)) for cid, old in cents]
    return cents


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
             n_lists: int = 8, probe: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding", qid_col: str = "qid",
             qvec_col: str = "qvec",
             centroids: list[tuple[int, list[float]]] | None = None) -> DataFrame:
    """IVF approximate top-k: corpus bucketed into inverted lists by nearest
    centroid; a query scans only its `probe` nearest lists. At 100TB the
    corpus is written bucketed by ivf_list so a query prunes to
    probe/n_lists of the data. Pass ``centroids`` from kmeans_fit for a
    trained quantizer; the DEFAULT init is deterministic farthest-point
    seeding — lowest-id init (deterministic_centroids) collapses the lists
    when low ids are co-located in one region, and is kept only as the
    SQL-oracle twin (callers pass it explicitly).

    Assignment runs against the BROADCAST centroid table (real-k safe; see
    ivf_assign_broadcast) — the plan is BroadcastNestedLoopJoin for the
    all-centroids scoring plus a BroadcastHashJoin for the probed-list
    corpus×query join below."""
    cents = centroids or farthest_point_centroids(vectors, n_lists,
                                                  id_col, vec_col)
    cdf = centroids_to_df(vectors.sparkSession, cents)
    from docext_spark.session import fanout_small
    v = ivf_assign_broadcast(fanout_small(vectors), cdf, vec_col, probe=1) \
        .withColumn("_vn", norm(F.col(vec_col)))
    q = ivf_assign_broadcast(queries.withColumnRenamed(qvec_col, "_qv"), cdf,
                             "_qv", probe=probe) \
        .withColumnRenamed("_qv", qvec_col) \
        .withColumn("_qn", norm(F.col(qvec_col)))
    # norms projected once per side (bit-identical to the inline cosine —
    # same folds, same order; one dot per probed pair)
    denom = F.col("_vn") * F.col("_qn")
    cos = F.when(denom == 0, F.lit(0.0)).otherwise(
        dot(F.col(vec_col), F.col(qvec_col)) / denom)
    scored = (v.join(F.broadcast(q), "ivf_list")
              .select(F.col(qid_col), F.col(id_col),
                      F.round(cos, 6).alias("cos_sim")))
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def lsh_topk(vectors: DataFrame, queries: DataFrame, dim: int, k: int = 5,
             n_planes: int = 8, n_tables: int = 1, id_col: str = "vec_id",
             vec_col: str = "embedding", qid_col: str = "qid",
             qvec_col: str = "qvec") -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket in
    ANY of ``n_tables`` independent plane sets (OR-amplification), exact
    cosine re-rank inside the union of buckets. A candidate colliding in
    several tables is deduped before scoring (max_by keeps one row per
    (qid, vec_id)), so amplification raises recall without rescoring."""
    v = banded_signatures(vectors, vec_col, dim, n_planes, n_tables)
    q = banded_signatures(queries, qvec_col, dim, n_planes, n_tables)
    scored = (v.join(F.broadcast(q), "bucket")
              .select(F.col(qid_col), F.col(id_col),
                      F.round(cosine(F.col(vec_col), F.col(qvec_col)), 6)
                       .alias("cos_sim"))
              .groupBy(qid_col, id_col)
              .agg(F.max("cos_sim").alias("cos_sim")))
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))
