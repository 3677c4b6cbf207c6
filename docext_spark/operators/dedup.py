"""Deduplication operators for the large-scale training-data pipeline.

All distributed-first designs:
  * exact: hash-groupBy on the normalized-text sha256 fingerprint — one
    shuffle on a short key, trivially scales.
  * n-gram Jaccard: distinct-shingle explode → self-join on shingle →
    per-pair intersection counts → Jaccard. The shingle join is the scale
    path (candidate pairs only materialize for co-occurring shingles, never
    the O(n²) cross product).
  * MinHash + LSH: per-doc signature = min over the distinct shingles of
    seeded sha256 (engine-independent hex min) or xxhash64, map-side →
    band → bucket groupBy → candidate pairs. The curate path verifies
    inside the same fold (lsh_verified_pairs): bucket rows carry each
    member's shingle set and the in-bucket pairs are scored before they
    are flattened, so no pair rows are shuffled; the fold moves one
    shingle set per document and band instead of one row per candidate
    pair, and over-cap buckets are dropped before their sets are collected.
  * SimHash: 64-bit signature pUDF + hamming-band bucketing.
  * embedding cosine near-dup / ANN: see similarity.py.
"""
from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, IntegralType, StringType,
                               StructField, StructType)
from pyspark.sql.window import Window

from docext_spark.operators.textops import fingerprint, minhash_component, word_shingles
from docext_spark.session import _per_jvm


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) texts: (fingerprint, dup_count,
    doc_ids sorted). Only groups with >1 member. The normalize+sha256 map
    stage fans out small inputs first (degenerate scan parallelism —
    session.fanout_small; a no-op at scale)."""
    from docext_spark.session import fanout_small
    pre = fanout_small(df.select(F.col(id_col), F.col(text_col)))
    return (pre.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
              .groupBy("fp")
              .agg(F.count(F.lit(1)).alias("dup_count"),
                   F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
              .filter(F.col("dup_count") > 1))


def _normalized_docs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _norm): the small-input fan-out (session.fanout_small), then
    the normalized text projected once — Catalyst does not CSE the
    normalization regex through the higher-order shingle expression."""
    from docext_spark.operators.textops import normalized
    from docext_spark.session import fanout_small
    raw = fanout_small(df.select(F.col(id_col).alias("id"),
                                 F.col(text_col).alias("_txt")))
    return raw.select("id", normalized(F.col("_txt")).alias("_norm"))


def shingle_table(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingle) distinct pairs.

    Dedup happens map-side via array_distinct BEFORE the explode — per-doc
    shingles are already unique, so no shuffle is needed (a .distinct()
    after explode would shuffle the full shingle table). Normalization is
    projected once first (3x faster: Catalyst does not CSE the regex
    through the higher-order shingle expression), AFTER a small-input
    fan-out (session.fanout_small) so the regex + shingle construction can
    use every core when the scan's effective parallelism is degenerate."""
    pre = _normalized_docs(df, id_col, text_col)
    return pre.select(
        "id",
        F.explode(F.array_distinct(
            word_shingles(F.col("_norm"), n, pre_normalized=True)))
         .alias("shingle"))


def hot_keys(df: DataFrame, key_cols: list[str], cap: int) -> DataFrame:
    """Keys whose row count exceeds ``cap``, with the count — the
    observability primitive for the caps on quadratic candidate groups
    (hot shingles, hot LSH buckets, hot winnow fingerprints, hot simhash
    bands). The caps themselves are ``size(ids) <= cap`` filters inside
    each grouped fold; this counts what a cap dropped with the exact
    grouping the cap used, so the default caps are AUDITABLE, not silent
    (ADVICE r3 — a silent default cap changes reported similarity values
    with no runtime signal). The flood-guard queries use it to report
    the pair mass their caps dropped."""
    return (df.groupBy(*key_cols)
              .agg(F.count(F.lit(1)).alias("n_refs"))
              .filter(F.col("n_refs") > cap))


DEFAULT_MAX_DOC_FREQ = 1000
DEFAULT_MAX_BUCKET_SIZE = 1000


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  threshold: float = 0.5,
                  max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard ≥ threshold.

    Returns (id_a, id_b, inter, union, jaccard) with id_a < id_b.
    ``max_doc_freq`` caps hot shingles: shingles present in more than that
    many docs are dropped before the self-join AND excluded from the set
    sizes, i.e. the result is exact Jaccard over the non-ubiquitous
    shingles. The cap is ON BY DEFAULT (a shingle in >1000 docs is
    boilerplate, and uncapped it is a quadratic candidate bucket at 100TB);
    pass ``max_doc_freq=None`` to explicitly opt out. Uncapped, per-doc set
    sizes are computed map-side from the base table
    (size(array_distinct(...)) — no shuffle, no cache of the exploded
    shingle table, which at 100TB is ~10x the input and must never be
    persisted)."""
    sh = shingle_table(df, id_col, text_col, n)
    # co-occurrence via per-shingle member grouping (same single-compute
    # combination shape as _banded_pairs: the shingle pipeline runs once,
    # not once per self-join side, and the doc-freq cap is a size filter
    # on the grouped frame instead of a hot-key aggregate + anti-join)
    groups = (sh.groupBy("shingle")
                .agg(F.sort_array(F.collect_list("id")).alias("ids")))
    if max_doc_freq is not None:
        groups = groups.filter(F.size("ids") <= max_doc_freq)
        # per-doc set sizes over the SURVIVING shingles only (the capped
        # Jaccard is exact over non-ubiquitous shingles): re-explode the
        # kept groups — one extra narrow shuffle of (id) rows
        sizes = (groups.select(F.explode("ids").alias("id"))
                 .groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles")))
    else:
        from docext_spark.operators.textops import normalized
        pre = df.select(F.col(id_col).alias("id"),
                        normalized(F.col(text_col)).alias("_norm"))
        sizes = pre.select(
            "id",
            F.size(F.array_distinct(
                word_shingles(F.col("_norm"), n, pre_normalized=True)))
             .alias("n_shingles"))
    inter = (groups
             .select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
             .groupBy(F.col("p.id_a").alias("id_a"),
                      F.col("p.id_b").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("inter")))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("nb"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("union", F.col("na") + F.col("nb") - F.col("inter"))
            .withColumn("jaccard", F.round(F.col("inter") / F.col("union"), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "inter", "union", "jaccard"))


def jaccard_for_pairs(df: DataFrame, pairs: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard computed ONLY for the given candidate (id_a, id_b)
    pairs — the verify stage after LSH. Per-doc shingle sets are built
    map-side (array_distinct over the shingle expression, no shuffle,
    bounded by document length) and joined to the pair list, so the cost
    is O(|pairs|), never the full shingle self-join (which would make the
    verify step as expensive as the thing LSH exists to avoid)."""
    from docext_spark.operators.textops import normalized
    # project the normalization ONCE before the higher-order shingle
    # expression (Catalyst does not CSE the regex through HOFs — the
    # measured 3x rule in word_shingles' docstring, same pattern as
    # shingle_table)
    pre = df.select(F.col(id_col).alias("id"),
                    normalized(F.col(text_col)).alias("_norm"))
    sets = pre.select("id", _shingle_set(n))
    sa = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sha"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("shb"))
    return (pairs.select("id_a", "id_b").join(sa, "id_a").join(sb, "id_b")
            .withColumn("inter", F.size(F.array_intersect("sha", "shb")))
            .withColumn("union",
                        F.size("sha") + F.size("shb") - F.col("inter"))
            .withColumn("jaccard", F.round(F.col("inter") / F.col("union"), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "inter", "union", "jaccard"))


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_hashes: int = 16,
                       n: int = 3, engine: str = "sha256") -> DataFrame:
    """(id, sig_0..sig_{k-1}) MinHash signature columns, one row per
    document with at least one shingle. Map-only — no explode, no
    shuffle: engine='xxhash64' is the production hash (native XXH64, a
    long min folded over the document's distinct shingle set); 'sha256'
    is the engine-independent oracle hash (hex-string min)."""
    return _signed_sets(df, id_col, text_col, num_hashes, n, engine).select(
        "id", *[f"sig_{s}" for s in range(num_hashes)])


def _signed_sets(df: DataFrame, id_col: str, text_col: str,
                 num_hashes: int, n: int, engine: str) -> DataFrame:
    """(id, sh, sig_0..sig_{k-1}): each document's distinct shingle set
    and its MinHash signature, for documents with at least one shingle —
    the one signature path behind minhash_signatures, lsh_banded and
    lsh_verified_pairs. A caller that drops ``sh`` does not compute it on
    the sha256 path (column pruning)."""
    pre = _normalized_docs(df, id_col, text_col)
    sh = _shingle_set(n)
    if engine == "sha256":
        # Arrow-batched worker-side path (guide §4.2): tokenizing,
        # shingling, sha256 and the per-slice running mins all happen in
        # one pass over each document inside a pandas UDF — hashlib's
        # sha256 is C code, so the per-shingle constant is far below the
        # JVM expression chain this replaces (measured r7 on 2.6M
        # shingles at sf1.0: sha2 expr 4.5s + 8×substring 4.5s +
        # SortAggregate 2s + explode/shuffle ≈ 11.3s → ~1s worker-side).
        # No explode, no shuffle: signatures are map-only per document.
        # Bit-parity with the SQL oracle holds because sha256 bytes are
        # engine-independent and Python's str min over fixed-width ASCII
        # hex equals UTF8String binary min. Documents whose normalized
        # text is empty produce no shingles: the UDF returns NULL for
        # them and they are filtered on the UDF's output — the UDF is
        # marked non-deterministic so the optimizer neither duplicates
        # the evaluation below the filter (guide §4.4) nor pushes a
        # normalized-text predicate below the fan-out exchange onto the
        # degenerate scan side (measured r7: the pushed filter re-ran the
        # full normalization regex single-task).
        udf = _minhash_sha_udf(num_hashes, n).asNondeterministic()
        sigs = (pre.select("id", sh, udf(F.col("_norm")).alias("_sigs"))
                   .filter(F.col("_sigs").isNotNull()))
        return sigs.select("id", "sh", *[F.col("_sigs")[s].alias(f"sig_{s}")
                                         for s in range(num_hashes)])
    return pre.select("id", sh).select("id", "sh",
                                       _signature_row(num_hashes, engine))


@_per_jvm
def _shingle_set(n: int) -> Column:
    """``sh``: the distinct word-n-gram shingles of the ``_norm`` column."""
    return F.array_distinct(word_shingles(F.col("_norm"), n,
                                          pre_normalized=True)).alias("sh")


@_per_jvm
def _signature_row(num_hashes: int, engine: str) -> Column:
    """The sig_0..sig_{k-1} row of a long-engine signature over ``sh``.
    Each component is a fold over the set; a document without shingles
    gets no row through inline(NULL) (a Filter here would be pushed below
    the fan-out exchange and re-run the normalization on the scan side)."""
    sig = F.struct(*[_set_min_hash(F.col("sh"), s, engine).alias(f"sig_{s}")
                     for s in range(num_hashes)])
    return F.inline(F.when(F.size("sh") > 0, F.array(sig)))


_LONG_MAX = (1 << 63) - 1


def _set_min_hash(sh: Column, seed: int, engine: str) -> Column:
    """One MinHash component folded over a shingle-set column — the min
    of minhash_component over the set for a LONG engine (the fold starts
    at LONG_MAX, which no xxhash64 value exceeds)."""
    return F.aggregate(sh, F.lit(_LONG_MAX),
                       lambda acc, x: F.least(
                           acc, minhash_component(x, seed, engine)))


def _minhash_sha_udf(num_hashes: int, n: int):
    """pandas UDF: normalized text → array of ``num_hashes`` MinHash
    components (8-hex-char strings), the worker-side twin of the
    sha256 minhash_component expression chain. Shingling replicates
    word_shingles on pre-normalized text exactly: single-space tokens
    (normalization guarantees no empty tokens), texts shorter than ``n``
    tokens yield the whole text as one shingle. Duplicate shingles are NOT
    deduped — a min is unaffected by duplicates, so array_distinct would
    be pure cost here."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    n_digests = (num_hashes + 7) // 8
    prefixes = [f"{d}|".encode() for d in range(n_digests)]
    # slice offsets per digest: digest d carries components d*8 .. d*8+7
    slices_by_digest = [[(8 * (s % 8), s) for s in range(num_hashes)
                         if s // 8 == d] for d in range(n_digests)]

    @pandas_udf(T.ArrayType(T.StringType()))
    def sigs(norms: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import hashlib
        sha = hashlib.sha256
        for batch in norms:
            out = []
            for norm in batch:
                if not norm:
                    # empty normalized text → no shingles → no signature
                    # row (the caller filters these out)
                    out.append(None)
                    continue
                toks = norm.split(" ")
                if len(toks) < n:
                    shingles = [norm]
                else:
                    shingles = [" ".join(toks[i:i + n])
                                for i in range(len(toks) - n + 1)]
                mins = [None] * num_hashes
                for s in shingles:
                    b = s.encode("utf-8")
                    for d in range(n_digests):
                        h = sha(prefixes[d] + b).hexdigest()
                        for off, si in slices_by_digest[d]:
                            v = h[off:off + 8]
                            m = mins[si]
                            if m is None or v < m:
                                mins[si] = v
                out.append(mins)
            yield pd.Series(out)

    return sigs


def lsh_plan(threshold: float, num_hashes: int = 16) -> dict:
    """Pick (bands, rows) for a target Jaccard threshold: a pair with
    similarity s collides with probability 1-(1-s^r)^b, an S-curve whose
    inflection sits near (1/b)^(1/r) — choose the divisor pair of
    num_hashes whose curve threshold is closest to the target (the
    standard MinHash-LSH tuning rule; see Leskovec/Rajaraman/Ullman,
    Mining of Massive Datasets §3.4). Pure driver-side arithmetic."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    best = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        t = (1.0 / b) ** (1.0 / r)
        if best is None or abs(t - threshold) < abs(best[2] - threshold):
            best = (b, r, t)
    return {"bands": best[0], "rows_per_band": best[1],
            "curve_threshold": round(best[2], 4)}


def _banded(signed: DataFrame, num_hashes: int, bands: int, engine: str,
            *carry: str) -> DataFrame:
    """(id, *carry, band, key) over a _signed_sets frame: band b hashes
    signature components b*r .. b*r+r-1 (r = num_hashes // bands) with
    the signature's engine. The one banding scheme behind lsh_banded and
    lsh_verified_pairs, so their bucket sets cannot drift."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}) "
            "or trailing signature components would be silently unused")
    return (signed.select("id", *carry, _band_keys(num_hashes, bands, engine))
                  .select("id", *carry, F.col("bk.band").alias("band"),
                          F.col("bk.key").alias("key")))


@_per_jvm
def _band_keys(num_hashes: int, bands: int, engine: str) -> Column:
    """``bk``: one struct(band, key) row per band of the sig_* columns."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"sig_{s}")
                for s in range(b * rows_per_band, (b + 1) * rows_per_band)]
        key = (F.xxhash64(*cols) if engine == "xxhash64"
               else F.sha2(F.concat_ws("|", *cols), 256))
        band_cols.append(F.struct(F.lit(b).alias("band"), key.alias("key")))
    return F.explode(F.array(*band_cols)).alias("bk")


def lsh_banded(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", num_hashes: int = 16,
               bands: int = 4, n: int = 3,
               engine: str = "sha256") -> DataFrame:
    """(id, band, key) bucket assignments — the LSH table before the
    candidate self-join. Exposed so flood diagnostics (bucket-size
    histograms, hot-bucket audits) share the exact banding scheme with
    lsh_candidate_pairs and cannot drift from it."""
    return _banded(_signed_sets(df, id_col, text_col, num_hashes, n, engine),
                   num_hashes, bands, engine)


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", num_hashes: int = 16,
                        bands: int = 4, n: int = 3,
                        engine: str = "sha256",
                        max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE
                        ) -> DataFrame:
    """MinHash-LSH candidate pairs: signature → bands of rows=k/bands →
    bucket join on (band, band_key). Returns distinct (id_a, id_b).

    The band key is hashed with the same engine as the signature: one
    xxhash64 over the band's components in the production path (long key —
    narrower shuffle than the 64-char hex), sha256-of-concat in the oracle
    path (replayable in SQL).

    ``max_bucket_size`` guards the remaining skew vector at 100TB: a bucket
    of B identical-signature docs yields B²/2 candidate pairs, so one
    1M-member bucket (mass-duplicated boilerplate) is 5·10^11 pairs on one
    key. Oversized buckets are dropped by the same ``size(ids) <= cap``
    filter on the grouped bucket fold as the hot-shingle cap. The guard is ON BY DEFAULT (pass
    ``max_bucket_size=None`` to explicitly opt out): a bucket of >1000
    near-identical docs is a flood, not recall — the default config must
    survive templated floods without a config flag. Run EXACT dedup first
    (plans/curate.py ordering) so byte-identical docs never reach this
    stage — the cap then only trims pathological near-identical floods."""
    return _banded_pairs(
        lsh_banded(df, id_col, text_col, num_hashes, bands, n, engine),
        max_bucket_size)


def lsh_buckets(banded: DataFrame) -> DataFrame:
    """(band, key, ids) — bucket membership folded to one row per bucket,
    member ids sorted ascending. The single source for both candidate-pair
    generation and flood diagnostics (bucket sizes = size(ids)), so the two
    cannot drift and the expensive signature pipeline below the groupBy is
    computed once instead of once per self-join side (measured r7: the
    pre-AQE plan for the join formulation carried the full scan→sha256→
    SortAggregate subtree once PER SIDE plus once per hot-key aggregate)."""
    return (banded.groupBy("band", "key")
                  .agg(F.sort_array(F.collect_list("id")).alias("ids")))


def _bucket_pairs(ids: Column) -> Column:
    """All (ids[i], ids[j]) i<j combinations of a sorted member array —
    id_a < id_b holds by construction. Array HOFs over a MATERIALIZED
    column attribute (O(1) access per element; never over a computed
    subtree, which Catalyst re-evaluates per lambda invocation)."""
    return F.flatten(F.transform(
        ids,
        lambda x, i: F.transform(
            F.slice(ids, i + F.lit(2), F.size(ids)),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))


def _banded_pairs(banded: DataFrame,
                  max_bucket_size: int | None) -> DataFrame:
    """Candidate pairs via per-bucket combination generation: groupBy
    (band, key) → sorted member list → in-bucket (i<j) pairs → distinct.

    This replaces the former bucket self-join (a ⋈ b on (band, key) with
    id_a < id_b): the pair SET is identical, but the banded table — and the
    whole minhash/shingle pipeline beneath it — is computed ONCE instead of
    once per join side, and the bucket-size cap becomes a size(ids) filter
    on the already-grouped frame instead of a separate hot-key aggregation
    plus broadcast anti-join (two more copies of the pipeline). At 100 TB
    the shape is the same single shuffle on (band, key); per-bucket work is
    O(B²) pairs either way, bounded by the default cap."""
    buckets = lsh_buckets(banded)
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    return (buckets
            .select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
            .select("p.id_a", "p.id_b").distinct())


def lsh_verified_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_hashes: int = 16,
                       bands: int = 4, n: int = 3, engine: str = "sha256",
                       threshold: float = 0.5,
                       max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE
                       ) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard inside one bucket
    fold: (id_a, id_b, inter, union, jaccard), id_a < id_b — the same rows
    as ``jaccard_for_pairs(df, lsh_candidate_pairs(df, ...))`` with the
    same arguments (ids must be unique, as for that pair of operators).

    Each document's distinct shingle set is computed once, beside its
    signature (_signed_sets, shared with lsh_banded). Bucket rows carry
    struct(id, shingle set); the in-bucket i<j pairs are scored and
    filtered before the flatten, so no candidate-pair row is shuffled or
    joined. The shuffles are the (band, key) fold, which moves one
    shingle set per document and band, and the distinct over the verified
    pairs (a pair can pass in several bands, and is scored in each). The
    two-step path instead moves the set table once per join side plus one
    set per candidate pair, so which form shuffles fewer bytes depends on
    the corpus: the fused one when candidates far outnumber documents, as
    under a templated flood. Measured on 4 vCPUs (num_hashes=8, bands=4),
    the fused form was the faster one on the corpora tried: a templated
    flood of 2,455 documents (157,453 candidates, 255 verify), and 2,040
    random 600- and 2,000-token documents with no flood (40 candidates;
    3.3 vs 4.7 s and 7.9 vs 9.2 s), where the two-step path also builds
    the shingle sets a second time for its joins.

    ``max_bucket_size`` is the same flood cap as lsh_candidate_pairs. It
    applies to the banded rows, before the fold: a count over a (band,
    key) window shares the fold's exchange, so an over-cap bucket's rows
    are dropped before their shingle sets are collected into one row (the
    window buffer spills; a collected flood bucket would not).

    The shingle-set, signature, band-key and in-bucket verify expressions
    are built once per JVM for each argument set and reused by later calls
    (session._per_jvm); the sha256 signature's pandas UDF is built on
    every call."""
    banded = _banded(_signed_sets(df, id_col, text_col, num_hashes, n,
                                  engine), num_hashes, bands, engine, "sh")
    if max_bucket_size is not None:
        members = F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
        banded = (banded.withColumn("_members", members)
                        .filter(F.col("_members") <= max_bucket_size))
    buckets = (banded.groupBy("band", "key")
                     .agg(F.sort_array(F.collect_list(F.struct("id", "sh")))
                           .alias("ms")))
    return (buckets
            .select(_verified_pairs_row(threshold))
            .select("p.id_a", "p.id_b", "p.inter",
                    (F.col("p.n") - F.col("p.inter")).alias("union"))
            .distinct()
            .withColumn("jaccard", F.round(F.col("inter") / F.col("union"), 6)))


@_per_jvm
def _verified_pairs_row(threshold: float) -> Column:
    """``p``: one row per (ids[i], ids[j]) i<j pair of the sorted
    struct(id, sh) member array ``ms`` whose rounded Jaccard reaches
    ``threshold``, as struct(id_a, id_b, inter, n) with n = |sh_a| + |sh_b|
    (so union = n - inter). Same rounding as jaccard_for_pairs; ``ms`` must
    be a materialized column (see _bucket_pairs)."""
    ms = F.col("ms")

    def scored(x, y):
        return F.struct(x["id"].alias("id_a"), y["id"].alias("id_b"),
                        F.size(F.array_intersect(x["sh"], y["sh"]))
                         .alias("inter"),
                        (F.size(x["sh"]) + F.size(y["sh"])).alias("n"))

    def verified(p):
        return F.round(p["inter"] / (p["n"] - p["inter"]), 6) >= threshold

    return F.explode(F.flatten(F.transform(
        ms,
        lambda x, i: F.filter(
            F.transform(F.slice(ms, i + F.lit(2), F.size(ms)),
                        lambda y: scored(x, y)),
            verified)))).alias("p")


# Pair lists of at most this many rows are labelled on the driver (two id
# columns of 2**20 rows are ~16 MB of int64); see duplicate_clusters.
_LOCAL_EDGES = 1 << 20


def _not_converged(max_iter: int) -> RuntimeError:
    # silent non-convergence would return WRONG components (labels not yet
    # propagated across long paths) — fail loudly instead; real dedup
    # components are near-cliques, so hitting this means the input is not
    # a near-dup pair list (or max_iter was lowered)
    return RuntimeError(
        f"duplicate_clusters did not converge in max_iter={max_iter} "
        "rounds (component diameter exceeds max_iter); raise max_iter")


def duplicate_clusters(pairs: DataFrame, id_a: str = "id_a",
                       id_b: str = "id_b", max_iter: int = 20) -> DataFrame:
    """Connected components over a near-duplicate pair list →
    (doc_id, cluster_id, is_keeper), cluster_id = min id in the component,
    is_keeper marks the one representative to retain (the fuzzy-dedup
    end-stage: candidate pairs → verified pairs → components → keep-one).

    Min-label propagation: each round every vertex takes the min of its own
    and its neighbors' labels; converges in O(component diameter) rounds —
    dedup components are near-cliques (diameter ≤ 3-4 in practice), so this
    beats the O(log n) star-contraction variants on constant factors.

    The pair list is localCheckpoint'ed once, then gated on its size: up to
    ``_LOCAL_EDGES`` (2**20) pairs with integral or string ids and no NULL
    id are collected (one Arrow collect, no Python worker) and propagated
    in numpy on the driver — the same Jacobi rounds, convergence test and
    ``max_iter`` guard as the distributed path, so both return the same
    rows and schema. The gate is exact because it counts the rows it
    collected (``limit(_LOCAL_EDGES + 1)``), not an optimizer estimate.
    Larger lists run the rounds distributed: each round is one shuffle
    join against the PAIR list (tiny next to the corpus — only docs that
    dedup at all appear here), and labels are localCheckpoint'ed per round
    so the iterative plan never accumulates lineage. Each distributed round
    runs ~6 Spark jobs under AQE; the driver pass runs at most 3 in all,
    which halved the curate workload's jobs per op (38 → 19)."""
    # the pair list is read by the gate and re-joined every distributed
    # round — materialize it ONCE (it is tiny next to the corpus), or each
    # read would re-execute the entire upstream pair-generation plan (LSH +
    # jaccard verify in the curate path) through the lazy lineage
    uv = (pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
          .localCheckpoint(eager=True))
    edges = uv.union(uv.select(F.col("v").alias("u"), F.col("u").alias("v")))
    node = edges.schema["u"]
    if isinstance(node.dataType, (IntegralType, StringType)):
        local = uv.limit(_LOCAL_EDGES + 1).toPandas()
        if (len(local) <= _LOCAL_EDGES
                and not local.isna().to_numpy().any()):
            return _local_clusters(pairs.sparkSession, local, node, max_iter)
    labels = (edges.select(F.col("u").alias("node")).distinct()
              .withColumn("lbl", F.col("node"))
              .localCheckpoint(eager=True))
    converged = False
    for _ in range(max_iter):
        nbr_min = (edges.join(labels.withColumnRenamed("node", "u"), "u")
                   .groupBy(F.col("v").alias("node"))
                   .agg(F.min("lbl").alias("nbr_lbl")))
        # the convergence flag is folded into the SAME frame that carries
        # the new labels, and the checkpoint is LAZY: the single
        # any(_chg) aggregation below is the action that materializes the
        # checkpoint blocks AND returns the convergence signal — one action
        # per round instead of a materialize-action plus a compare-action
        # (AQE still runs each of its shuffle and broadcast stages as its
        # own Spark job: ~6 per round on a small pair list)
        new_labels = (labels.join(nbr_min, "node", "left")
                      .select("node", F.col("lbl").alias("_old"),
                              F.least(F.col("lbl"),
                                      F.coalesce("nbr_lbl", "lbl"))
                               .alias("lbl"))
                      .withColumn("_chg", F.col("lbl") != F.col("_old"))
                      .drop("_old")
                      .localCheckpoint(eager=False))
        changed = new_labels.agg(F.max("_chg")).first()[0]
        # note: localCheckpoint blocks are owned by the block manager, not
        # the cache manager — dropping the reference here lets the
        # ContextCleaner reclaim the previous round's blocks (an explicit
        # unpersist() would be a silent no-op on a checkpointed frame).
        # The narrow _chg projection below is computed from the
        # checkpointed blocks, never by re-running the join.
        labels = new_labels.select("node", "lbl")
        if not changed:
            converged = True
            break
    if not converged:
        raise _not_converged(max_iter)
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("lbl").alias("cluster_id"),
                         (F.col("node") == F.col("lbl")).alias("is_keeper"))


def _local_clusters(spark, local: pd.DataFrame, node: StructField,
                    max_iter: int) -> DataFrame:
    """duplicate_clusters' rounds in numpy over a collected (u, v) pair
    list: node ids map to their rank in sorted order (so the min rank is
    the min id), and each round is the same Jacobi update over both edge
    directions, vectorized — no per-row Python."""
    ids, src = np.unique(np.concatenate([local["u"].to_numpy(),
                                         local["v"].to_numpy()]),
                         return_inverse=True)
    # src holds the u ranks then the v ranks, so src[i] → dst[i] is u → v
    # for the first half and v → u for the second: both edge directions
    dst = np.roll(src, len(local))
    rank = np.arange(len(ids))
    lbl = rank
    for _ in range(max_iter):
        new = lbl.copy()
        np.minimum.at(new, dst, lbl[src])
        if np.array_equal(new, lbl):
            break
        lbl = new
    else:
        raise _not_converged(max_iter)
    schema = StructType([StructField("doc_id", node.dataType, node.nullable),
                         StructField("cluster_id", node.dataType,
                                     node.nullable),
                         StructField("is_keeper", BooleanType(),
                                     node.nullable)])
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "cluster_id": ids[lbl],
                      "is_keeper": lbl == rank}), schema)


def winnow_fingerprint_table(df: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """(id, fp) winnowing fingerprints (per-doc unique by construction —
    the kernel dedupes first-seen). Exposed so flood diagnostics share the
    exact fingerprinting with winnow_overlap_pairs."""
    from docext_spark.operators.extract import winnow_udf
    from docext_spark.session import fanout_small
    pre = fanout_small(df.select(F.col(id_col).alias("id"),
                                 F.col(text_col).alias("_txt")))
    return pre.select("id", F.explode(winnow_udf(F.col("_txt"))).alias("fp"))


def winnow_overlap_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", min_shared: int = 2,
                         max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ
                         ) -> DataFrame:
    """Substring-level near-dup candidates via winnowing fingerprints
    (MOSS): docs sharing ≥ min_shared fingerprints copied a substring of
    length ≥ k+window-1. Join shape identical to the shingle path —
    candidates only materialize through shared fingerprints.

    ``max_doc_freq`` caps hot fingerprints exactly like jaccard_pairs caps
    hot shingles, and is ON BY DEFAULT (``None`` is the explicit opt-out):
    one boilerplate substring shared by 1M docs is one fingerprint key with
    5·10^11 candidate pairs on it — the same quadratic vector the shingle
    and LSH paths already guard. shared_fps then counts co-occurrences of
    NON-ubiquitous fingerprints only (a substring every doc contains is
    boilerplate, not copying evidence)."""
    fps = winnow_fingerprint_table(df, id_col, text_col)
    # same single-compute grouped-combination shape as jaccard_pairs /
    # _banded_pairs; the doc-freq cap is a group-size filter
    groups = (fps.groupBy("fp")
                 .agg(F.sort_array(F.collect_list("id")).alias("ids")))
    if max_doc_freq is not None:
        groups = groups.filter(F.size("ids") <= max_doc_freq)
    return (groups
            .select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
            .groupBy(F.col("p.id_a").alias("id_a"),
                     F.col("p.id_b").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("shared_fps"))
            .filter(F.col("shared_fps") >= min_shared))


def simhash_banded(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", band_bits: int = 16) -> DataFrame:
    """(id, sim, band, key) simhash band-bucket assignments — exposed (like
    lsh_banded) so flood diagnostics share the exact banding scheme with
    simhash_near_dups."""
    from docext_spark.operators.extract import simhash_udf
    from docext_spark.session import fanout_small
    pre = fanout_small(df.select(F.col(id_col).alias("id"),
                                 F.col(text_col).alias("_txt")))
    sigs = pre.select("id", simhash_udf(F.col("_txt")).alias("sim"))
    bands = 64 // band_bits
    mask = (1 << band_bits) - 1

    def _signed(v: int) -> int:  # keep the mask literal in int64 range
        return v - (1 << 64) if v >= (1 << 63) else v

    band_cols = [F.struct(
        F.lit(i).alias("band"),
        F.col("sim").bitwiseAND(F.lit(_signed(mask << (i * band_bits)))).alias("key"))
        for i in range(bands)]
    return (sigs.select("id", "sim", F.explode(F.array(*band_cols)).alias("bk"))
                .select("id", "sim", "bk.band", "bk.key"))


def simhash_near_dups(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", band_bits: int = 16,
                      max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE
                      ) -> DataFrame:
    """SimHash near-dup candidates: 64-bit signature (pUDF), bucketed by
    4 bands of band_bits (two docs within hamming distance 3 share ≥1 band).
    Returns distinct candidate (id_a, id_b, sim_a, sim_b).

    ``max_bucket_size`` caps hot (band, key) buckets exactly like the
    MinHash-LSH path and is ON BY DEFAULT (``None`` is the explicit
    opt-out): a mass-duplicated template collapses into a handful of band
    buckets, and an uncapped bucket of B docs is B²/2 candidate pairs on
    one key — the flood must be bounded under the default config."""
    banded = simhash_banded(df, id_col, text_col, band_bits)
    # same single-compute bucket-combination shape as _banded_pairs (the
    # signature pUDF beneath the groupBy runs once, not once per join
    # side); members carry (id, sim) so pairs keep both signatures
    buckets = (banded.groupBy("band", "key")
               .agg(F.sort_array(F.collect_list(F.struct("id", "sim")))
                     .alias("ms")))
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ms") <= max_bucket_size)
    ms = F.col("ms")
    pairs = F.flatten(F.transform(
        ms,
        lambda x, i: F.transform(
            F.slice(ms, i + F.lit(2), F.size(ms)),
            lambda y: F.struct(x["id"].alias("id_a"), y["id"].alias("id_b"),
                               x["sim"].alias("sim_a"),
                               y["sim"].alias("sim_b")))))
    return (buckets.select(F.explode(pairs).alias("p"))
            .select("p.id_a", "p.id_b", "p.sim_a", "p.sim_b").distinct())
