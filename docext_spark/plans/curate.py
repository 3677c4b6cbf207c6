"""End-to-end training-corpus curation plan — the canonical 100TB
data-pipeline composition over the engine's own operators:

    quality gate (C4-style native filters)
      → exact dedup (sha256 fingerprint, keep lowest doc_id)
      → fuzzy dedup (MinHash-LSH buckets → Jaccard verify inside each
                     bucket → connected components → keep one per cluster)
      → curated corpus + per-stage survivorship metrics

Every stage is a DataFrame transform; the only driver-side loop is the
bounded label-propagation convergence inside duplicate_clusters. Scale
shape: the quality gate and fingerprints are map-only; exact dedup is one
shuffle on a 64-char key; the fuzzy stage shuffles one (band, key,
id, shingle set) row per document and band, scores the candidate pairs
inside each bucket row and shuffles only the verified pairs (never
O(n²), and no candidate-pair rows); clustering shuffles the verified
PAIR list, which is tiny relative to the corpus.

The reference has no corpus curation (it is a per-document extraction
tool); this plan is part of the beyond-parity training-data surface
(dedup/textops operators composed end-to-end, SURVEY §2 extras).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# lsh_candidate_pairs and jaccard_for_pairs are the two-step form of
# lsh_verified_pairs; they stay importable from this module, where
# perfbench's traced run times them as their own layers.
from docext_spark.operators.dedup import (DEFAULT_MAX_BUCKET_SIZE,  # noqa: F401
                                          duplicate_clusters,
                                          jaccard_for_pairs,
                                          lsh_candidate_pairs, lsh_plan,
                                          lsh_verified_pairs)
from docext_spark.operators.textops import (_lang_from, _quality_from,
                                            dup_line_frac, fingerprint,
                                            lower_tokens, max_token_frac,
                                            redact_pii)


def quality_gate(docs: DataFrame, text_col: str = "text",
                 min_tokens: int = 5, min_quality: float = 0.3,
                 langs: tuple[str, ...] = ("en",),
                 max_dup_line_frac: float | None = None,
                 max_tok_frac: float | None = None) -> DataFrame:
    """C4-style keep predicate: minimum length, composite quality score,
    language allowlist; optional Gopher repetition gates
    (``max_dup_line_frac`` / ``max_tok_frac``, off by default so the
    pinned funnel oracle is unchanged). Pure native expressions —
    evaluated inside the scan's whole-stage codegen, nothing shuffles.

    Single pass per document: the lower-cased token array is bound once
    (a lambda over a one-element array) and the token count, quality and
    language are all derived from it; the keep test filters that same
    array and ``inline`` emits the zero or one surviving feature row. A
    Filter above a Project would instead be pushed below it with every
    feature inlined, re-splitting the text once per reference."""
    text = F.col(text_col)

    def features(low):
        return F.struct(F.size(low).alias("_n_tokens"),
                        F.round(_quality_from(text, low), 6)
                         .alias("_quality"),
                        _lang_from(low).alias("_lang"))

    def keep(f):
        ok = ((f["_n_tokens"] >= min_tokens)
              & (f["_quality"] >= min_quality)
              & f["_lang"].isin(*langs))
        if max_dup_line_frac is not None:
            ok = ok & (dup_line_frac(text) <= max_dup_line_frac)
        if max_tok_frac is not None:
            ok = ok & (max_token_frac(text) <= max_tok_frac)
        return ok

    feats = F.transform(F.array(lower_tokens(text)), features)
    return docs.select("*", F.inline(F.filter(feats, keep)))


def exact_dedup_keep_first(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Keep the lowest-id document per normalized-text fingerprint.
    min_by over one hash-groupBy — the 100TB exact-dedup shape."""
    keepers = (docs
               .select(F.col(id_col), fingerprint(F.col(text_col)).alias("_fp"))
               .groupBy("_fp")
               .agg(F.min(id_col).alias(id_col))
               .select(id_col))
    return docs.join(keepers, id_col, "left_semi")


def fuzzy_dedup_keep_first(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", n: int = 3,
                           num_hashes: int = 8, bands: int | None = None,
                           jaccard_threshold: float = 0.5,
                           engine: str = "xxhash64",
                           max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
                           cluster_max_iter: int = 20) -> DataFrame:
    """LSH candidates verified by exact Jaccard inside the bucket fold
    (lsh_verified_pairs) → connected components → drop every non-keeper.
    Components merge transitive dup chains so A~B~C keeps one document.
    The verify never materializes the candidate list: bucket rows carry
    each member's shingle set and only verified pairs leave the fold, so
    no pair rows are shuffled or joined (on a templated-flood corpus of
    2,455 documents, 255 of 157,453 candidates verify). The shingle sets
    are shuffled instead, once per band: see lsh_verified_pairs for when
    that is the cheaper trade.

    ``bands`` defaults to the MMDS S-curve plan for ``jaccard_threshold``
    (lsh_plan): callers state the similarity they care about and the
    banding is DERIVED, not hand-picked — a hand-picked (bands, rows) that
    contradicts the threshold silently moves the recall curve. Pass
    ``bands`` explicitly to override.

    ``max_bucket_size`` forwards to the LSH flood guard and is ON BY
    DEFAULT (``None`` is the explicit opt-out): a templated near-identical
    flood — the common 100TB reality — sails past exact dedup and would
    otherwise turn one LSH bucket into B²/2 candidate pairs; run exact
    dedup first (curate() ordering) so the cap only ever trims floods."""
    if bands is None:
        bands = lsh_plan(jaccard_threshold, num_hashes)["bands"]
    verified = lsh_verified_pairs(docs, id_col, text_col,
                                  num_hashes=num_hashes, bands=bands, n=n,
                                  engine=engine, threshold=jaccard_threshold,
                                  max_bucket_size=max_bucket_size)
    # cluster_max_iter is surfaced so a long dup-chain corpus (diameter >
    # 20) can be accommodated instead of hard-failing the whole job on
    # duplicate_clusters' non-convergence guard
    losers = (duplicate_clusters(verified, max_iter=cluster_max_iter)
              .filter(~F.col("is_keeper"))
              .select(F.col("doc_id").alias(id_col)))
    return docs.join(losers, id_col, "left_anti")


def curate(docs: DataFrame, id_col: str = "doc_id",
           text_col: str = "text", fuzzy_kwargs: dict | None = None,
           persist: bool = True, redact: bool = False,
           stage_path: str | None = None,
           **quality_kwargs) -> dict:
    """Full pipeline. Returns {"corpus": DataFrame, "funnel": DataFrame,
    "unpersist": callable} — funnel is the per-stage survivorship count
    (the metric a curation job publishes alongside the output table).

    Stage frames are reused by several consumers (the corpus write plus
    the funnel counts), and without staging every consumer re-runs the
    pipeline prefix (the quality scan would run ~5x, the LSH verify plan
    2-3x). Three staging modes:

    * ``stage_path=<dir>`` (the 100TB shape): each stage is WRITTEN to
      parquet under the directory and read back — executor loss replays
      nothing, storage is the table store rather than executor
      memory+disk (three full-corpus cached frames do not fit the
      block-manager spill of any realistic cluster fraction), and the
      intermediates double as restart points. This is what a production
      run should use.
    * ``persist=True`` (default, sandbox scale): MEMORY_AND_DISK persist;
      the caller releases storage via result["unpersist"]() once its
      consumers are materialized (job.py does).
    * ``persist=False``: no staging at all — for callers that evaluate
      the result exactly once and cannot call unpersist (e.g. the
      oracle-parity harness), where leaked cached frames would outlive
      the query."""
    from pyspark import StorageLevel

    _stage_no = [0]

    def stage(frame):
        if stage_path is not None:
            path = f"{stage_path}/stage_{_stage_no[0]}"
            _stage_no[0] += 1
            frame.write.mode("overwrite").parquet(path)
            return frame.sparkSession.read.parquet(path)
        return frame.persist(StorageLevel.MEMORY_AND_DISK) if persist \
            else frame

    gated = stage(quality_gate(docs, text_col, **quality_kwargs))
    exact = stage(exact_dedup_keep_first(gated, id_col, text_col))
    fuzzy = stage(fuzzy_dedup_keep_first(exact, id_col, text_col,
                                         **(fuzzy_kwargs or {})))
    # PII scrub on the OUTPUT text only (dedup keys must see the original
    # bytes — scrubbing first would alias distinct docs whose PII differs)
    text_out = redact_pii(F.col(text_col)) if redact else F.col(text_col)
    corpus = fuzzy.select(id_col, text_out.alias(text_col),
                          "_n_tokens", "_quality", "_lang")
    funnel = (docs.select(F.lit("0_input").alias("stage"),
                          F.count(F.lit(1)).alias("n_docs"))
              .unionByName(gated.select(F.lit("1_quality_gate").alias("stage"),
                                        F.count(F.lit(1)).alias("n_docs")))
              .unionByName(exact.select(F.lit("2_exact_dedup").alias("stage"),
                                        F.count(F.lit(1)).alias("n_docs")))
              .unionByName(fuzzy.select(F.lit("3_fuzzy_dedup").alias("stage"),
                                        F.count(F.lit(1)).alias("n_docs"))))

    def unpersist():
        if persist and stage_path is None:
            for frame in (gated, exact, fuzzy):
                frame.unpersist()

    return {"corpus": corpus, "funnel": funnel, "unpersist": unpersist}
