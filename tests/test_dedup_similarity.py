"""Dedup + similarity operators: Spark vs pure-Python twins, plus recall
sanity on crafted near-duplicates."""
from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from docext_spark.core import textstats as ts
from docext_spark.operators.dedup import (exact_duplicates, jaccard_pairs,
                                          lsh_candidate_pairs,
                                          minhash_signatures,
                                          simhash_near_dups)
from docext_spark.operators.similarity import brute_force_topk, lsh_topk


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),        # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat today"),  # near dup
    (4, "completely different text about spark and parquet files"),
    (5, "  THE   quick brown fox jumps over the lazy dog "),   # normalized dup
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string").cache()


def test_exact_duplicates(docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert sorted(groups[0]["doc_ids"]) == [1, 2, 5]
    assert groups[0]["dup_count"] == 3


def test_jaccard_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_matches_pure_python(docs):
    sigs = {r["id"]: [r[f"sig_{i}"] for i in range(4)]
            for r in minhash_signatures(docs, num_hashes=4).collect()}
    for doc_id, text in DOCS:
        assert sigs[doc_id] == ts.minhash_signature(text, num_hashes=4), doc_id


def test_minhash_udf_multi_digest_and_empties(spark):
    """r7: the sha256 minhash path runs worker-side (pandas UDF). Pin the
    MULTI-digest path (num_hashes=16 → 2 sha256 digests per shingle,
    untouched by the num_hashes≤8 oracle pairs) against the pure-Python
    twin, and the empty/whitespace-only drop semantics (the former
    groupBy formulation emitted no row for shingle-less docs — the UDF
    must match)."""
    rows = [(1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),
            (3, ""), (4, "   \t  "), (5, None), (6, "one two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: [r[f"sig_{i}"] for i in range(16)]
           for r in minhash_signatures(df, num_hashes=16).collect()}
    assert set(got) == {1, 2, 6}          # empty/ws/null docs dropped
    for doc_id, text in rows:
        if doc_id in got:
            assert got[doc_id] == ts.minhash_signature(text, num_hashes=16)


def test_fanout_small_gating(spark):
    """fanout_small repartitions only inside the size bound (the 100 TB
    no-op guarantee is the whole point)."""
    from docext_spark.session import fanout_small
    df = spark.range(1000).selectExpr("id", "repeat('x', 20) AS t")
    assert fanout_small(df).rdd.getNumPartitions() \
        == spark.sparkContext.defaultParallelism
    # 0-byte-per-slot bound → estimate exceeds it → untouched frame
    assert fanout_small(df, max_bytes_per_slot=0) is df


def test_lsh_candidates_include_dups(docs):
    cand = {(r["id_a"], r["id_b"])
            for r in lsh_candidate_pairs(docs, num_hashes=8, bands=4).collect()}
    assert (1, 2) in cand  # exact dups always share every band
    assert (1, 5) in cand


def test_simhash_near_dups(docs):
    cand = {(r["id_a"], r["id_b"])
            for r in simhash_near_dups(docs).collect()}
    assert (1, 2) in cand


def test_winnowing_guarantee_and_overlap(spark, docs):
    from docext_spark.core import textstats as ts
    # guarantee: shared substring >= k+window-1 chars -> shared fingerprint
    a = "PREFIX the quick brown fox jumps over it SUFFIXA"
    b = "OTHER the quick brown fox jumps over it ENDING"
    fa = set(ts.winnow_fingerprints(a))
    fb = set(ts.winnow_fingerprints(b))
    assert fa & fb
    # no common substring of that length -> (almost surely) no overlap
    fc = set(ts.winnow_fingerprints("zzz completely unrelated material qqq"))
    assert not (fa & fc)
    # determinism + empty edge
    assert ts.winnow_fingerprints(a) == ts.winnow_fingerprints(a)
    assert ts.winnow_fingerprints("") == []

    from docext_spark.operators.dedup import winnow_overlap_pairs
    pairs = {(r["id_a"], r["id_b"]) for r in
             winnow_overlap_pairs(docs, min_shared=2).collect()}
    assert (1, 2) in pairs  # identical docs share all fingerprints
    assert not any(4 in p for p in pairs)


def _flood_docs(spark, n_flood: int, tpl: str):
    """Base corpus + n_flood byte-identical boilerplate docs (ids >= 1000)
    via Arrow (fast local relation)."""
    import pandas as pd
    rows = list(DOCS) + [(1000 + i, tpl) for i in range(n_flood)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]),
        "doc_id int, text string")


def test_winnow_default_cap_bounds_flood(spark):
    from docext_spark.operators.dedup import winnow_overlap_pairs
    tpl = "identical boilerplate footer shared by every mirrored page"
    docs = _flood_docs(spark, 30, tpl)
    # low cap standing in for the default 1000 (same code path)
    capped = {(r["id_a"], r["id_b"]) for r in
              winnow_overlap_pairs(docs, min_shared=2, max_doc_freq=20)
              .collect()}
    assert not any(a >= 1000 and b >= 1000 for a, b in capped), \
        "flood pairs must be dropped by the doc-freq cap"
    assert (1, 2) in capped, "base-corpus pairs must survive the cap"
    # explicit None opt-out restores the uncapped quadratic behavior
    uncapped = {(r["id_a"], r["id_b"]) for r in
                winnow_overlap_pairs(docs, min_shared=2, max_doc_freq=None)
                .collect()}
    assert sum(1 for a, b in uncapped if a >= 1000 and b >= 1000) \
        == 30 * 29 // 2


def test_simhash_default_cap_bounds_flood(spark):
    from docext_spark.operators.dedup import simhash_near_dups
    tpl = "identical boilerplate navigation header on every page"
    docs = _flood_docs(spark, 30, tpl)
    capped = {(r["id_a"], r["id_b"]) for r in
              simhash_near_dups(docs, max_bucket_size=20).collect()}
    assert not any(a >= 1000 and b >= 1000 for a, b in capped)
    assert (1, 2) in capped
    uncapped = {(r["id_a"], r["id_b"]) for r in
                simhash_near_dups(docs, max_bucket_size=None).collect()}
    assert sum(1 for a, b in uncapped if a >= 1000 and b >= 1000) \
        == 30 * 29 // 2


def test_hot_keys_observability(spark):
    """The cap's dropped set is auditable with the exact grouping the cap
    used (ADVICE r3: default caps must be observable, not silent)."""
    from docext_spark.operators.dedup import hot_keys, shingle_table
    tpl = "one ubiquitous boilerplate shingle run"
    docs = _flood_docs(spark, 25, tpl)
    sh = shingle_table(docs)
    hot = hot_keys(sh, ["shingle"], 20).collect()
    assert hot and all(r["n_refs"] == 25 for r in hot)
    assert hot_keys(sh, ["shingle"], 30).count() == 0


VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (3, [0.0, 0.0, 1.0]),
    (4, [0.7, 0.7, 0.0]),
]


@pytest.fixture(scope="module")
def vectors(spark):
    return spark.createDataFrame(VECS, "vec_id int, embedding array<double>").cache()


def _queries(spark):
    return spark.createDataFrame([(0, [1.0, 0.0, 0.0])],
                                 "qid int, qvec array<double>")


def test_brute_force_topk(spark, vectors):
    out = brute_force_topk(vectors, _queries(spark), k=3).collect()
    ranked = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 0            # itself, cos=1
    assert ranked[1] == 1            # closest neighbor
    sims = {r["vec_id"]: r["cos_sim"] for r in out}
    assert math.isclose(sims[0], 1.0)
    # cos([1,0,0],[0.9,0.1,0]) = 0.9/sqrt(0.82)
    assert math.isclose(sims[1], round(0.9 / math.sqrt(0.82), 6), abs_tol=1e-6)


def test_ivf_topk_finds_exact_match(spark, vectors):
    from docext_spark.operators.similarity import ivf_topk
    out = ivf_topk(vectors, _queries(spark), k=3, n_lists=3, probe=2).collect()
    assert out  # probe buckets contain candidates
    best = min(out, key=lambda r: r["rank"])
    assert best["vec_id"] == 0 and abs(best["cos_sim"] - 1.0) < 1e-6
    exact = {r["vec_id"] for r in
             brute_force_topk(vectors, _queries(spark), k=5).collect()}
    assert {r["vec_id"] for r in out}.issubset(exact)


def test_lsh_topk_subset_of_exact(spark, vectors):
    exact = {r["vec_id"] for r in
             brute_force_topk(vectors, _queries(spark), k=5).collect()}
    approx = {r["vec_id"] for r in
              lsh_topk(vectors, _queries(spark), dim=3, k=5, n_planes=2).collect()}
    assert approx  # bucket contains at least the query-identical vector
    assert approx.issubset(exact)


def test_embedding_near_dups_exact_vs_lsh(spark, vectors):
    from docext_spark.operators.similarity import embedding_near_dups
    exact = {(r["id_a"], r["id_b"])
             for r in embedding_near_dups(vectors, threshold=0.9,
                                          exact=True).collect()}
    assert (0, 1) in exact  # cos([1,0,0],[0.9,0.1,0]) ≈ 0.994
    assert not any(p == (0, 2) for p in exact)
    approx = {(r["id_a"], r["id_b"])
              for r in embedding_near_dups(vectors, threshold=0.9,
                                           n_planes=1, n_tables=1,
                                           dim=3).collect()}
    assert approx.issubset(exact)  # LSH never invents pairs above τ


def test_lsh_engine_parity(spark):
    """The xxhash64 production path must find the same candidate pairs as
    the sha256 oracle path on a corpus of planted near-dups: at jaccard
    ≈0.9 with 8 hashes / 4 bands the per-engine miss probability is ~0.1%,
    and the fixture is deterministic, so set equality is a stable gate."""
    rows = []
    for g in range(12):
        # fully group-disjoint vocabulary: near-dup pairs sit at jaccard
        # ≈0.85 and every cross-group pair at 0 — no marginal pairs where
        # the two engines could legitimately disagree
        base = " ".join(f"w{g}x{k}" for k in range(40))
        rows.append((g * 10, base))
        # change only the final token: 2 of 38 shingles differ → J ≈ 0.9,
        # per-engine miss probability (1 - 0.9²)⁴ ≈ 0.13%
        rows.append((g * 10 + 1, base.replace(f"w{g}x39", f"w{g}zz")))  # near dup
    rows += [(900 + i, f"unique filler u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f")
             for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    sha = {(r["id_a"], r["id_b"]) for r in
           lsh_candidate_pairs(df, num_hashes=8, bands=4,
                               engine="sha256").collect()}
    xx = {(r["id_a"], r["id_b"]) for r in
          lsh_candidate_pairs(df, num_hashes=8, bands=4,
                              engine="xxhash64").collect()}
    planted = {(g * 10, g * 10 + 1) for g in range(12)}
    assert sha == xx
    assert planted.issubset(xx)  # the near-dups are actually found


@pytest.fixture(scope="module")
def flood_report():
    """tests/flood_equivalence.py's per-(engine, cap) summaries of the
    fused and the two-step verify over sf0.001 documents plus flood
    buckets one over and one under the default cap, from a child JVM with
    a 2 GB driver heap."""
    import json
    import os
    import subprocess
    import sys
    sf = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(sf):
        pytest.skip("sf0.001 testdata not present")
    script = os.path.join(os.path.dirname(__file__), "flood_equivalence.py")
    run = subprocess.run([sys.executable, script, sf], capture_output=True,
                         text=True, timeout=1200,
                         env=dict(os.environ, SPARK_DRIVER_MEM="2g"))
    assert run.returncode == 0, run.stderr[-3000:]
    rows = [json.loads(ln) for ln in run.stdout.splitlines()
            if ln.startswith("{")]
    return {(r["engine"], r["cap"]): r for r in rows}


@pytest.mark.parametrize("engine", ["xxhash64", "sha256"])
@pytest.mark.parametrize("cap", ["default", None])
def test_lsh_verified_pairs_equals_two_step(flood_report, engine, cap):
    """The fused bucket-fold verify returns exactly the rows of
    jaccard_for_pairs over lsh_candidate_pairs, on the corpus and on
    flood buckets either side of the default cap, within a 2 GB heap."""
    r = flood_report[(engine, cap)]
    assert r["columns"] == ["id_a", "id_b", "inter", "union", "jaccard"]
    assert r["fused"] == r["two_step"]
    n, _, rows = r["fused"]
    c = r["cap_size"]
    n_over, n_under = (c + 1) * c // 2, (c - 1) * (c - 2) // 2
    assert n == len(rows) + n_under + (n_over if cap is None else 0)
    assert rows  # corpus near-duplicates verified too


def test_jaccard_hot_shingle_cap_bounds_candidates(spark):
    """One shingle in 50% of docs must not create a quadratic candidate
    bucket: the doc-frequency cap drops it before the self-join."""
    from docext_spark.operators.dedup import capped_shingle_table, shingle_table
    boiler = "all rights reserved worldwide"
    rows = [(i, f"{boiler} unique document body number {i} alpha beta")
            for i in range(40)]
    rows += [(100 + i, f"w{i}a w{i}b w{i}c w{i}d w{i}e")
             for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    sh = shingle_table(df)
    uncapped_cands = (sh.withColumnRenamed("id", "id_a")
                      .join(sh.withColumnRenamed("id", "id_b"), "shingle")
                      .filter(F.col("id_a") < F.col("id_b"))
                      .select("id_a", "id_b").distinct().count())
    assert uncapped_cands >= 40 * 39 / 2  # boilerplate = quadratic bucket
    capped = capped_shingle_table(sh, max_doc_freq=10)
    capped_cands = (capped.withColumnRenamed("id", "id_a")
                    .join(capped.withColumnRenamed("id", "id_b"), "shingle")
                    .filter(F.col("id_a") < F.col("id_b"))
                    .select("id_a", "id_b").distinct().count())
    assert capped_cands == 0  # everything shared was boilerplate
    # capped jaccard still finds REAL near-dups (shared non-hot shingles)
    from docext_spark.operators.dedup import jaccard_pairs
    near = spark.createDataFrame(
        [(200, f"{boiler} same same same body here"),
         (201, f"{boiler} same same same body there")],
        "doc_id int, text string")
    pairs = jaccard_pairs(df.union(near), threshold=0.2,
                          max_doc_freq=10).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(200, 201)}


def test_jaccard_capped_matches_python_twin(spark):
    """Capped Jaccard == exact Jaccard over non-hot shingles (set math in
    pure Python as the twin)."""
    from docext_spark.core.textstats import normalize_text, word_shingles as py_sh
    from docext_spark.operators.dedup import jaccard_pairs
    rows = [(1, "common prefix words here apple banana cherry date"),
            (2, "common prefix words here apple banana cherry fig"),
            (3, "common prefix words here totally different tail now"),
            (4, "unrelated content entirely separate from the rest ok")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    cap = 2
    sets = {i: set(py_sh(normalize_text(t), 3)) for i, t in rows}
    from collections import Counter
    freq = Counter(s for ss in sets.values() for s in ss)
    capped = {i: {s for s in ss if freq[s] <= cap} for i, ss in sets.items()}
    expect = {}
    ids = sorted(capped)
    for x in ids:
        for y in ids:
            if x < y and capped[x] and capped[y]:
                inter = len(capped[x] & capped[y])
                union = len(capped[x] | capped[y])
                if union and round(inter / union, 6) >= 0.1:
                    expect[(x, y)] = round(inter / union, 6)
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in jaccard_pairs(df, threshold=0.1, max_doc_freq=cap).collect()}
    assert got == expect and expect  # non-vacuous


def test_lsh_bucket_size_cap_bounds_flood(spark):
    """A flood of near-identical docs lands in one LSH bucket → B²/2
    candidate pairs; the cap drops the flooded bucket while untouched
    buckets keep their pairs."""
    flood = [(i, "spam spam spam wonderful spam spam spam baked beans spam")
             for i in range(40)]
    pair = [(100, " ".join(f"p{k}" for k in range(20))),
            (101, " ".join(f"p{k}" for k in range(19)) + " zz")]
    df = spark.createDataFrame(flood + pair, "doc_id int, text string")
    uncapped = lsh_candidate_pairs(df, num_hashes=8, bands=4).count()
    assert uncapped >= 40 * 39 / 2  # the flood is quadratic
    capped = {(r["id_a"], r["id_b"]) for r in
              lsh_candidate_pairs(df, num_hashes=8, bands=4,
                                  max_bucket_size=10).collect()}
    assert (100, 101) in capped      # legitimate near-dup pair survives
    assert len(capped) <= 1 + 0      # flood buckets dropped entirely


def test_duplicate_clusters_connected_components(spark):
    from docext_spark.operators.dedup import duplicate_clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3),              # triangle-ish component → 1
         (10, 11),                    # pair → 10
         (33, 34), (32, 33), (31, 32), (30, 31)],  # 4-hop chain → 30
        "id_a int, id_b int")
    out = {r["doc_id"]: (r["cluster_id"], r["is_keeper"])
           for r in duplicate_clusters(pairs).collect()}
    assert out == {1: (1, True), 2: (1, False), 3: (1, False),
                   10: (10, True), 11: (10, False),
                   30: (30, True), 31: (30, False), 32: (30, False),
                   33: (30, False), 34: (30, False)}


def test_duplicate_clusters_nonconvergence_raises(spark):
    """A component whose diameter exceeds max_iter must FAIL, not return
    silently-wrong half-propagated labels."""
    from docext_spark.operators.dedup import duplicate_clusters
    chain = spark.createDataFrame([(i, i + 1) for i in range(10)],
                                  "id_a int, id_b int")
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(chain, max_iter=5)
    # and with enough rounds the same chain is one component rooted at 0
    out = {r["doc_id"]: r["cluster_id"]
           for r in duplicate_clusters(chain, max_iter=15).collect()}
    assert set(out.values()) == {0}


def test_duplicate_clusters_matches_union_find_twin(spark):
    """Seeded random graphs vs a pure-Python union-find: the distributed
    min-label propagation must produce identical components."""
    import random
    from docext_spark.operators.dedup import duplicate_clusters
    rng = random.Random(20260816)
    for trial in range(3):
        n = 60
        edges = sorted({tuple(sorted(rng.sample(range(n), 2)))
                        for _ in range(50)})
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        expect = {}
        touched = {v for e in edges for v in e}
        roots = {}
        for v in sorted(touched):
            r = find(v)
            roots.setdefault(r, v)  # min node id per component
            expect[v] = roots[r]
        df = spark.createDataFrame(edges, "id_a int, id_b int")
        got = {r["doc_id"]: r["cluster_id"]
               for r in duplicate_clusters(df).collect()}
        assert got == expect, f"trial {trial} diverged"


def test_embedding_near_dups_requires_dim():
    from docext_spark.operators.similarity import embedding_near_dups
    with pytest.raises(ValueError, match="requires dim"):
        embedding_near_dups(None, threshold=0.9)  # exact=False default


def test_embedding_near_dups_dim_mismatch_raises(spark, vectors):
    from docext_spark.operators.similarity import embedding_near_dups
    # declared dim ≠ vector length must FAIL the job, not silently collapse
    # every vector into one bucket (the advertised scale path becoming n²)
    with pytest.raises(Exception, match="LSH dim mismatch"):
        embedding_near_dups(vectors, threshold=0.9, dim=5).collect()


def test_embedding_near_dups_or_amplification_recall(spark):
    """Multi-table OR-amplification must reach ≥0.9 recall at τ=0.9 on a
    fixture of mid-similarity planted pairs (single-table recall at these
    plane counts is well below that — amplification is what closes it)."""
    import random
    from docext_spark.operators.similarity import embedding_near_dups
    rng = random.Random(7)
    dim, rows = 16, []
    for i in range(60):
        base = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, base))
        # perturbed twin at cosine ≈ 0.9-0.99 (mid-similarity, not trivial)
        noisy = [x + rng.gauss(0, 0.22) for x in base]
        rows.append((i + 1000, noisy))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    exact = {(r["id_a"], r["id_b"])
             for r in embedding_near_dups(df, threshold=0.9,
                                          exact=True).collect()}
    assert len(exact) >= 20  # the fixture actually plants pairs above τ
    approx = {(r["id_a"], r["id_b"])
              for r in embedding_near_dups(df, threshold=0.9, dim=dim,
                                           n_planes=4, n_tables=4).collect()}
    assert approx.issubset(exact)
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"OR-amplified LSH recall {recall:.2f} < 0.9"
    # single-table at the same plane count recalls strictly less on this
    # fixture — evidence the amplification is doing the work
    single = {(r["id_a"], r["id_b"])
              for r in embedding_near_dups(df, threshold=0.9, dim=dim,
                                           n_planes=4, n_tables=1).collect()}
    assert len(single) <= len(approx)


def test_kmeans_fit_separates_blobs(spark):
    """Lloyd's iterations on 3 well-separated direction blobs: every blob
    ends in its own IVF list, and the trained quantizer gives ivf_topk
    full recall on a blob-aligned query."""
    import random
    from docext_spark.operators.similarity import (ivf_assign, ivf_topk,
                                                   kmeans_fit)
    rng = random.Random(3)
    dirs = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
    rows = []
    for i in range(60):
        d = dirs[i % 3]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in d]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = kmeans_fit(df, dim=4, n_lists=3, iters=4)
    assert len(cents) == 3 and all(len(c) == 4 for _, c in cents)
    # each blob maps to exactly one list
    assigned = ivf_assign(df, cents).select("vec_id", "ivf_list").collect()
    lists_per_blob = {}
    for r in assigned:
        lists_per_blob.setdefault(r["vec_id"] % 3, set()).add(r["ivf_list"])
    assert all(len(s) == 1 for s in lists_per_blob.values())
    assert len(set.union(*lists_per_blob.values())) == 3
    # trained quantizer: blob-0 query retrieves only blob-0 vectors
    q = spark.createDataFrame([(0, dirs[0])], "qid int, qvec array<double>")
    out = ivf_topk(df, q, k=5, n_lists=3, probe=1, centroids=cents).collect()
    assert len(out) == 5 and all(r["vec_id"] % 3 == 0 for r in out)


def test_lsh_topk_multi_table_recall(spark, vectors):
    exact = {r["vec_id"] for r in
             brute_force_topk(vectors, _queries(spark), k=5).collect()}
    amplified = {r["vec_id"] for r in
                 lsh_topk(vectors, _queries(spark), dim=3, k=5, n_planes=2,
                          n_tables=4).collect()}
    single = {r["vec_id"] for r in
              lsh_topk(vectors, _queries(spark), dim=3, k=5,
                       n_planes=2).collect()}
    assert amplified.issubset(exact)
    assert single.issubset(amplified)  # OR-amplification only adds candidates


def test_flood_guards_are_default_on(spark):
    """VERDICT r2 #1: a naive caller with the DEFAULT config must survive a
    templated near-identical flood — max_bucket_size/max_doc_freq default to
    1000 and ``None`` is the explicit opt-out."""
    import inspect

    import pandas as pd

    from docext_spark.operators.dedup import (DEFAULT_MAX_BUCKET_SIZE,
                                              DEFAULT_MAX_DOC_FREQ)
    from docext_spark.plans.curate import fuzzy_dedup_keep_first

    assert DEFAULT_MAX_BUCKET_SIZE == 1000 and DEFAULT_MAX_DOC_FREQ == 1000
    assert inspect.signature(lsh_candidate_pairs) \
        .parameters["max_bucket_size"].default is DEFAULT_MAX_BUCKET_SIZE
    assert inspect.signature(jaccard_pairs) \
        .parameters["max_doc_freq"].default is DEFAULT_MAX_DOC_FREQ
    assert inspect.signature(fuzzy_dedup_keep_first) \
        .parameters["max_bucket_size"].default is DEFAULT_MAX_BUCKET_SIZE

    # 3000 docs so EVERY band bucket exceeds the 1000 cap (each doc's
    # distinct 'v{i}' prefix perturbs ~1 of ~28 shingles, so a few percent
    # of docs deviate per band — a marginal flood would leave sub-cap
    # buckets and their quadratic pairs; see the explicit-cap test above
    # for the capped-vs-uncapped contrast)
    template = ("the quick brown fox jumps over the lazy dog "
                "pack my box with five dozen liquor jugs ") * 3
    pdf = pd.DataFrame({"doc_id": list(range(3000)),
                        "text": [f"v{i} {template}" for i in range(3000)]})
    df = spark.createDataFrame(pdf, "doc_id long, text string")
    # DEFAULT config: the >1000-member signature buckets are dropped, so
    # candidates stay far below the ~4.5M the flood would otherwise emit
    n_default = lsh_candidate_pairs(df, num_hashes=8, bands=4).count()
    assert n_default < 3000
    # jaccard default: the template shingles (doc-freq 3000 > 1000) are
    # dropped, so the flood yields no above-threshold pairs by default
    n_jac = jaccard_pairs(df, threshold=0.5).count()
    assert n_jac < 3000


def test_ivf_assign_broadcast_matches_literal_at_k256(spark):
    """VERDICT r2 #3: assignment against a broadcast centroid TABLE must
    equal the inlined-literal path bit-for-bit (same cosine math, same
    lowest-cid tie-break) — at k=256 the literal path is 2048 plan
    literals, which is exactly why the broadcast path is the default."""
    import random

    from docext_spark.operators.similarity import (centroids_to_df,
                                                   deterministic_centroids,
                                                   ivf_assign,
                                                   ivf_assign_broadcast)
    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = deterministic_centroids(df, n_lists=256)
    assert len(cents) == 256
    cdf = centroids_to_df(spark, cents)
    for probe in (1, 2):
        lit = {(r["vec_id"], r["ivf_list"])
               for r in ivf_assign(df, cents, probe=probe)
               .select("vec_id", "ivf_list").collect()}
        bc = {(r["vec_id"], r["ivf_list"])
              for r in ivf_assign_broadcast(df, cdf, probe=probe)
              .select("vec_id", "ivf_list").collect()}
        assert bc == lit and len(bc) == 400 * probe
    # the broadcast path's plan ships centroids via a broadcast exchange
    # (BroadcastNestedLoopJoin: no equi-key exists for all-centroid scoring)
    plan = ivf_assign_broadcast(df, cdf)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_farthest_point_init_survives_adversarial_id_order(spark):
    """VERDICT r2 #7: all low ids co-located in one blob — lowest-id init
    seeds every centroid inside blob 0 and Lloyd's cannot split the other
    blobs apart; farthest-point seeding (the default) spreads the seeds and
    separates all three blobs."""
    import random

    from docext_spark.operators.similarity import (centroids_to_df,
                                                   farthest_point_centroids,
                                                   ivf_assign_broadcast,
                                                   kmeans_fit)
    rng = random.Random(7)
    dirs = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
    # ids 0..19 are ALL blob 0; 20..39 blob 1; 40..59 blob 2
    rows = [(i, [x + rng.gauss(0, 0.05) for x in dirs[i // 20]])
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    # seeding alone: one seed per blob
    seeds = farthest_point_centroids(df, n_lists=3)
    seed_blobs = {max(range(3), key=lambda b: sum(c * d for c, d in
                                                  zip(vec, dirs[b])))
                  for _, vec in seeds}
    assert seed_blobs == {0, 1, 2}

    def blob_lists(cents):
        cdf = centroids_to_df(spark, cents)
        assigned = ivf_assign_broadcast(df, cdf) \
            .select("vec_id", "ivf_list").collect()
        out = {}
        for r in assigned:
            out.setdefault(r["vec_id"] // 20, set()).add(r["ivf_list"])
        return out

    good = blob_lists(kmeans_fit(df, dim=4, n_lists=3, iters=4))
    assert all(len(s) == 1 for s in good.values())
    assert len(set.union(*good.values())) == 3
    # and the hazard is real at the seeding level: lowest-id init puts ALL
    # three seeds inside blob 0 (whether Lloyd's later escapes depends on
    # jitter luck — the seeding is what must not start collapsed)
    from docext_spark.operators.similarity import deterministic_centroids
    low = deterministic_centroids(df, n_lists=3)
    low_blobs = {max(range(3), key=lambda b: sum(c * d for c, d in
                                                 zip(vec, dirs[b])))
                 for _, vec in low}
    assert low_blobs == {0}

    # the DEFAULT ivf_topk path (no centroids=) must inherit the farthest
    # seeding: a query in blob 2 finds its blob-mates, which collapsed
    # lowest-id seeding routinely misses (VERDICT r4 #4)
    from docext_spark.operators.similarity import ivf_topk
    q = spark.createDataFrame([(0, rows[45][1])], "qid int, qvec array<double>")
    out = ivf_topk(df, q, k=5, n_lists=3, probe=1).collect()
    assert len(out) == 5
    assert all(40 <= r["vec_id"] < 60 for r in out)


def test_farthest_point_skips_zero_vectors_and_never_repicks(spark):
    """Code-review regression: a zero-norm lowest-id vector sits at cosine
    distance 1 from everything INCLUDING itself — naive argmax would pick
    it for every seed and collapse the quantizer. Zero vectors are
    excluded and chosen ids can't repeat."""
    from docext_spark.operators.similarity import farthest_point_centroids
    rows = [(0, [0.0, 0.0, 0.0]),           # zero vector, lowest id
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = farthest_point_centroids(df, n_lists=3)
    assert len(cents) == 3
    assert all(any(abs(x) > 0 for x in vec) for _, vec in cents)
    assert len({tuple(vec) for _, vec in cents}) == 3  # all distinct
    # corpus smaller than n_lists: returns what exists, never duplicates
    small = farthest_point_centroids(df, n_lists=8)
    assert len(small) == 3
    import pytest as _pytest
    with _pytest.raises(ValueError):
        farthest_point_centroids(df, n_lists=513)


def test_lsh_plan_picks_curve_matched_bands():
    """Standard MMDS tuning rule: the chosen (bands, rows) divisor pair's
    S-curve threshold (1/b)^(1/r) must be the closest to the target."""
    from docext_spark.operators.dedup import lsh_plan
    p = lsh_plan(0.5, num_hashes=16)
    assert (p["bands"], p["rows_per_band"]) == (8, 2)   # t=0.354 beats 0.707
    p = lsh_plan(0.8, num_hashes=16)
    assert (p["bands"], p["rows_per_band"]) == (4, 4)   # t=0.707
    p = lsh_plan(0.95, num_hashes=16)
    assert (p["bands"], p["rows_per_band"]) == (2, 8)   # t=0.917
    assert lsh_plan(0.5, 8)["bands"] * lsh_plan(0.5, 8)["rows_per_band"] == 8
    import pytest as _p
    with _p.raises(ValueError):
        lsh_plan(1.5)


def test_banded_signatures_udf_matches_literal_bit_exact(spark):
    """The worker-side plane UDF (production default) must produce exactly
    the literal path's buckets: np.cumsum replays Catalyst's left-fold
    double summation operation-for-operation, so this is equality, not
    closeness. Covers nulls, wrong-length, and NaN vectors (all map to the
    all-zero signature on both paths)."""
    import random

    import pandas as pd

    from docext_spark.operators.similarity import banded_signatures
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    rows.append((60, None))
    rows.append((61, [1.0] * 9))                       # wrong length
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]),
        "vec_id int, embedding array<double>")
    # a GENUINE NaN element (pandas createDataFrame launders float('nan')
    # into NULL, which would test nothing — code-review r5 #3): Spark
    # orders NaN above 0, so NaN dots give all-'1' signatures on BOTH paths
    df = df.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 59,
               F.expr("array_repeat(double('NaN'), 16)"))
         .otherwise(F.col("embedding")))
    lit = {(r["vec_id"], r["bucket"]) for r in banded_signatures(
        df, "embedding", 16, 8, 3, impl="literal").collect()}
    udf = {(r["vec_id"], r["bucket"]) for r in banded_signatures(
        df, "embedding", 16, 8, 3, impl="udf").collect()}
    assert lit == udf
    zero, ones = "0" * 8, "1" * 8
    for vid in (60, 61):
        assert {(vid, f"{t}:{zero}") for t in range(3)} <= udf
    assert {(59, f"{t}:{ones}") for t in range(3)} <= udf


def test_banded_signatures_udf_plan_stays_small_at_dim768(spark):
    """The whole point of the UDF path: a production-dim config (768 × 8
    planes × 4 tables = 24k floats) must not appear in the plan. The
    literal twin's plan carries them all; the UDF plan stays constant-size
    and still executes."""
    import random

    import pandas as pd

    from docext_spark.operators.similarity import banded_signatures
    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(768)]) for i in range(10)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]),
        "vec_id int, embedding array<double>")
    fast = banded_signatures(df, "embedding", 768, 8, 4, impl="udf")
    plan = fast._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 20_000, f"plan unexpectedly large: {len(plan)} chars"
    out = fast.collect()
    assert len(out) == 40 and all(len(r["bucket"]) == 10 for r in out)
    slow_plan = banded_signatures(df, "embedding", 768, 8, 4,
                                  impl="literal")._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert len(slow_plan) > 200_000  # the disease the UDF path cures


def test_ann_recall_at_5_on_sf01_corpus(spark):
    """Recall tracking on the larger corpus (VERDICT r4 #8): lsh_topk
    (2 tables) and ivf_topk (probe=2, default farthest seeding) vs the
    brute-force exact top-5 over the 2000-vector sf0.1 embeddings table.
    Thresholds are deliberately below the measured values so the gate
    trips on structural regressions, not sampling wiggle."""
    import os
    sf_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.1 testdata not present")
    from docext_spark.operators.similarity import (brute_force_topk,
                                                   ivf_topk, lsh_topk)
    from pyspark.sql import functions as F
    emb = (spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
           .withColumn("embedding", F.col("embedding").cast("array<double>"))
           .cache())
    queries = (emb.filter(F.col("vec_id") % 100 == 7)     # 20 spread queries
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")).cache())
    n_q = queries.count()
    assert n_q == 20

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["qid"], set()).add(r["vec_id"])
        return out

    exact = topk_sets(brute_force_topk(emb, queries, k=5))
    # this corpus is near-uniform (rank-2 neighbor cos ≈ 0.42, θ ≈ 65°,
    # per-plane agreement p ≈ 0.64) — the honest hard case for ANN. At
    # 3 planes × 8 tables the S-curve gives ~0.95 per-neighbor candidate
    # probability; measured recall 0.90. IVF on unclustered data is
    # inherently coarser: measured 0.60 at probe=2, 0.75 at probe=4.
    # Everything is deterministic (seeded planes, farthest-point init), so
    # the margins below only absorb legitimate re-seedings, not noise.
    lsh = topk_sets(lsh_topk(emb, queries, dim=64, k=5, n_planes=3,
                             n_tables=8))
    ivf2 = topk_sets(ivf_topk(emb, queries, k=5, n_lists=8, probe=2))
    ivf4 = topk_sets(ivf_topk(emb, queries, k=5, n_lists=8, probe=4))

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & exact[q]) for q in exact)
        return hits / (5 * n_q)

    r_lsh, r_ivf2, r_ivf4 = recall(lsh), recall(ivf2), recall(ivf4)
    assert r_lsh >= 0.8, f"lsh recall@5 regressed: {r_lsh}"
    assert r_ivf2 >= 0.5, f"ivf probe=2 recall@5 regressed: {r_ivf2}"
    assert r_ivf4 >= 0.65, f"ivf probe=4 recall@5 regressed: {r_ivf4}"
    assert r_ivf4 >= r_ivf2, "probing more lists must never lose recall"
