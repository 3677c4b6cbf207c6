"""The shared DuckDB twin builders of __spark_entry__ on edge inputs.

The oracle testdata has no NULL, empty, whitespace-only or padded text
and no tabs or newlines, so the digest manifest cannot see a builder that
changes how those are handled. Each test runs a builder over a VALUES
relation holding such rows and compares it with the inline SQL the twins
spelled out before the builders existed (the ``*_INLINE`` texts below,
copied from those twins; only the shingle width, the cap and the
threshold are parameters)."""
from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as entry  # noqa: E402

TEXTS = [None, "", " ", "   ", "\t", "\n", " \t\n ", "one", "  padded  ",
         "Two Words", "two\twords", "two\nwords", "\tleading tab",
         "trailing newline\n", "a  b   c", "MiXeD CaSe Words here",
         "the quick brown fox jumps over the lazy dog",
         "The  quick brown\tfox jumps over the lazy dog",
         "the quick brown fox leaps over the lazy dog",
         "the quick brown cat jumps over the lazy dog today",
         "x y z", "X Y Z", "a b"]


def _sql_str(v):
    if v is None:
        return "NULL::VARCHAR"
    return "'" + v.replace("'", "''") + "'"


DOCS = "documents(doc_id, text) AS (VALUES " + ", ".join(
    f"({i}, {_sql_str(t)})" for i, t in enumerate(TEXTS)) + ")"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


def _rows(con, sql):
    return sorted(con.sql(sql).fetchall(), key=repr)


def _same(con, got_sql, want_sql):
    got, want = _rows(con, got_sql), _rows(con, want_sql)
    assert got == want
    return got


NORM_INLINE = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
NORM_OR_EMPTY_INLINE = \
    "trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g'))"
TOKENS_INLINE = ("CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
                 "ELSE regexp_split_to_array(trim(text), '\\s+') END")
TOKEN_COUNT_INLINE = (
    "CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END")
TOKEN_COUNT_NULL_ZERO_INLINE = (
    "CASE WHEN text IS NULL OR trim(text) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END")
LOWER_TOKENS_INLINE = (
    "CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
    "ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'), "
    "x -> lower(x)) END")


def _select(expr):
    return f"WITH {DOCS} SELECT doc_id, {expr} AS v FROM documents"


def test_normalizations_keep_their_null_rules(con):
    """lower(text) keeps NULL; lower(coalesce(text, '')) reads it as ''."""
    rows = dict(_same(con, _select(entry._norm_sql()), _select(NORM_INLINE)))
    assert rows[0] is None
    assert rows[TEXTS.index("  padded  ")] == "padded"
    assert rows[TEXTS.index("two\nwords")] == "two words"
    rows = dict(_same(con, _select(entry._norm_or_empty_sql()),
                      _select(NORM_OR_EMPTY_INLINE)))
    assert rows[0] == ""
    assert rows[TEXTS.index(" \t\n ")] == ""


def test_tokens_and_their_counts(con):
    rows = dict(_same(con, _select(entry._tokens_sql()),
                      _select(TOKENS_INLINE)))
    assert rows[0] is None
    assert rows[TEXTS.index("   ")] == []
    # trim() strips spaces only: a leading tab leaves an empty first token
    assert rows[TEXTS.index("\tleading tab")] == ["", "leading", "tab"]
    tokens = entry._tokens_sql()
    _same(con, _select(f"len({tokens})"), _select(TOKEN_COUNT_INLINE))
    counts = dict(_same(con, _select(f"coalesce(len({tokens}), 0)"),
                        _select(TOKEN_COUNT_NULL_ZERO_INLINE)))
    assert counts[0] == 0
    _same(con, _select(f"list_transform({tokens}, x -> lower(x))"),
          _select(LOWER_TOKENS_INLINE))


SHINGLES_INLINE = """
WITH {docs}, norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS n
  FROM documents
), sh AS (
  SELECT doc_id, unnest(CASE
    WHEN n = '' THEN []::VARCHAR[]
    WHEN len(string_split(n, ' ')) < {n} THEN [n]
    ELSE [array_to_string((string_split(n, ' '))[i:i+{n1}], ' ')
          for i in generate_series(1, len(string_split(n, ' ')) - {n1})]
  END) AS shingle
  FROM norm
), dsh AS (SELECT DISTINCT doc_id, shingle FROM sh)
"""


def _shingles(n):
    return (f"WITH {DOCS}, norm AS (SELECT doc_id, {entry._norm_sql()} AS n "
            f"FROM documents), {entry._shingles_sql('norm', n)}\n")


@pytest.mark.parametrize("n", [3, 8])
def test_shingles(con, n):
    want = SHINGLES_INLINE.format(docs=DOCS, n=n, n1=n - 1)
    rows = _same(con, _shingles(n) + "SELECT * FROM dsh",
                 want + "SELECT * FROM dsh")
    ids = {i for i, _ in rows}
    assert TEXTS.index("") not in ids and 0 not in ids
    assert (TEXTS.index("one"), "one") in rows


def test_shingles_keyed_by_any_id_column(con):
    sql = (f"WITH {DOCS}, ev AS (SELECT doc_id AS eval_id, "
           f"{entry._norm_sql()} AS n FROM documents), "
           f"{entry._shingles_sql('ev', 8, 'eval_id', 'desh')}\n"
           "SELECT eval_id, shingle FROM desh")
    _same(con, sql, SHINGLES_INLINE.format(docs=DOCS, n=8, n1=7)
          + "SELECT doc_id, shingle FROM dsh")


MINHASH_INLINE = """, sigs AS (
  SELECT doc_id,
         min(substr(sha256('0|' || shingle), 1, 8))  AS s0,
         min(substr(sha256('0|' || shingle), 9, 8))  AS s1,
         min(substr(sha256('0|' || shingle), 17, 8)) AS s2,
         min(substr(sha256('0|' || shingle), 25, 8)) AS s3,
         min(substr(sha256('0|' || shingle), 33, 8)) AS s4,
         min(substr(sha256('0|' || shingle), 41, 8)) AS s5,
         min(substr(sha256('0|' || shingle), 49, 8)) AS s6,
         min(substr(sha256('0|' || shingle), 57, 8)) AS s7
  FROM dsh GROUP BY doc_id
), banded AS (
  SELECT doc_id, band, key FROM (
    SELECT doc_id, 0 AS band, sha256(s0 || '|' || s1) AS key FROM sigs
    UNION ALL SELECT doc_id, 1, sha256(s2 || '|' || s3) FROM sigs
    UNION ALL SELECT doc_id, 2, sha256(s4 || '|' || s5) FROM sigs
    UNION ALL SELECT doc_id, 3, sha256(s6 || '|' || s7) FROM sigs)
)
"""


def test_minhash_signatures_and_band_keys(con):
    inline = SHINGLES_INLINE.format(docs=DOCS, n=3, n1=2) + MINHASH_INLINE
    built = _shingles(3) + ", " + entry._lsh_banded_sql() + "\n"
    _same(con, built + "SELECT * FROM sigs", inline + "SELECT * FROM sigs")
    _same(con, built + "SELECT * FROM banded",
          inline + "SELECT * FROM banded")
    _same(con, _shingles(3) + "SELECT doc_id, "
          + entry._minhash_sql(4, "sig_") + " FROM dsh GROUP BY doc_id",
          inline + "SELECT doc_id, s0 AS sig_0, s1 AS sig_1, s2 AS sig_2, "
                   "s3 AS sig_3 FROM sigs")


JACCARD_INLINE = """
, sizes AS (SELECT doc_id, count(*) AS ns FROM dsh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, inter, sa.ns + sb.ns - inter AS "union",
       round(inter * 1.0 / (sa.ns + sb.ns - inter), 6) AS jaccard
FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
WHERE round(inter * 1.0 / (sa.ns + sb.ns - inter), 6) >= {t}
"""


@pytest.mark.parametrize("threshold", [0.1, 0.3, 0.5])
def test_jaccard_pairs(con, threshold):
    rows = _same(
        con, _shingles(3) + ", " + entry._jaccard_sql("dsh", threshold)
        + "\nSELECT * FROM jac",
        SHINGLES_INLINE.format(docs=DOCS, n=3, n1=2)
        + JACCARD_INLINE.format(t=threshold))
    assert rows


def _votes_and_bits():
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64))
    bits = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN (1::HUGEINT << {b}) ELSE 0 END)"
        for b in range(64))
    return votes, bits


SIMHASH_INLINE = """
WITH {docs}, norm AS (
  SELECT doc_id, trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')) AS n
  FROM documents
), toks AS (
  SELECT doc_id, unnest(string_split(n, ' ')) AS tok FROM norm WHERE n <> ''
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
  FROM toks WHERE tok <> ''
), voted AS (
  SELECT doc_id, {votes}
  FROM hashed GROUP BY doc_id
), sims AS (
  SELECT doc_id, ({bits}) AS u FROM voted
)
SELECT doc_id, u FROM sims
"""


def test_simhash_votes(con):
    votes, bits = _votes_and_bits()
    rows = _same(con,
                 f"WITH {DOCS}, {entry._simhash_ctes_sql('documents')}\n"
                 "SELECT doc_id, u FROM sims",
                 SIMHASH_INLINE.format(docs=DOCS, votes=votes, bits=bits))
    ids = {i for i, _ in rows}
    assert 0 not in ids and TEXTS.index("   ") not in ids
    assert TEXTS.index("\tleading tab") in ids


def _winnow_inline(k=8, window=4):
    poly = " + ".join(
        f"unicode(substr(n, i+{j}, 1))::HUGEINT * {257 ** (k - 1 - j)}"
        for j in range(k))
    return f"""
WITH {DOCS}, norm AS (
  SELECT doc_id, trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g')) AS n
  FROM documents
), pos AS (
  SELECT doc_id, n, unnest(generate_series(1, len(n) - {k - 1})) AS i
  FROM norm WHERE len(n) >= {k}
), grams AS (
  SELECT doc_id, i, (({poly}) % {(1 << 61) - 1})::BIGINT AS h FROM pos
), wmin AS (
  SELECT doc_id, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS m,
         count(*) OVER (PARTITION BY doc_id) AS nh
  FROM grams
), fps AS (
  SELECT DISTINCT doc_id, m AS fp
  FROM wmin WHERE nh > {window} AND i <= nh - {window - 1}
  UNION
  SELECT doc_id, min(h) AS fp FROM grams
  GROUP BY doc_id HAVING count(*) <= {window}
)
SELECT doc_id, fp FROM fps
"""


def test_winnow_fingerprints(con):
    rows = _same(con,
                 f"WITH {DOCS}, {entry._winnow_fps_sql('documents')}\n"
                 "SELECT doc_id, fp FROM fps", _winnow_inline())
    ids = {i for i, _ in rows}
    assert 0 not in ids and TEXTS.index("one") not in ids
    assert TEXTS.index("trailing newline\n") in ids


# (doc_id, band, key): with cap 2 the keys 'h' (4 docs, 2 of them flood
# ids) and 'g' (3 docs) are hot; 'k' and 'm' are kept
KEYS = ("keys(doc_id, band, key) AS (VALUES "
        "(1, 0, 'h'), (2, 0, 'h'), (1000001, 0, 'h'), (1000002, 0, 'h'), "
        "(1, 1, 'g'), (3, 1, 'g'), (4, 1, 'g'), "
        "(1, 1, 'k'), (2, 1, 'k'), (1000001, 2, 'm'), (1000002, 2, 'm'), "
        "(5, 3, 'k'), (1, 0, 'k'), (2, 0, 'k'))")

LSH_FLOOD_INLINE = """
szs AS (SELECT band, key, count(*) AS sz FROM keys GROUP BY band, key),
hot AS (SELECT band, key, sz FROM szs WHERE sz > 2),
kept AS (
  SELECT b.doc_id, b.band, b.key FROM keys b
  ANTI JOIN hot h ON b.band = h.band AND b.key = h.key
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM kept a JOIN kept b ON a.band = b.band AND a.key = b.key
       AND a.doc_id < b.doc_id
),
hot_stats AS (
  SELECT count(*) AS n_hot_buckets,
         coalesce(sum(sz * (sz - 1) // 2), 0)::BIGINT AS n_bucket_pairs_dropped
  FROM hot
),
pair_stats AS (
  SELECT count(*) AS n_pairs_kept,
         coalesce(sum(CASE WHEN id_a >= 1000000 AND id_b >= 1000000
                           THEN 1 ELSE 0 END), 0)::BIGINT AS n_flood_pairs_kept
  FROM pairs
)
SELECT n_pairs_kept, n_flood_pairs_kept, n_hot_buckets, n_bucket_pairs_dropped
FROM pair_stats, hot_stats
"""

WINNOW_FLOOD_INLINE = """
dfs AS (
  SELECT fp, count(*) AS n_refs FROM fps GROUP BY fp
), hot AS (
  SELECT fp, n_refs FROM dfs WHERE n_refs > 2
), kept AS (
  SELECT f.doc_id, f.fp FROM fps f ANTI JOIN hot h ON f.fp = h.fp
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
), hot_stats AS (
  SELECT count(*) AS n_hot_fps,
         coalesce(sum(n_refs * (n_refs - 1) // 2), 0)::BIGINT
           AS n_fp_pairs_dropped
  FROM hot
), pair_stats AS (
  SELECT count(*) AS n_pairs_kept,
         coalesce(sum(CASE WHEN id_a >= 1000000 AND id_b >= 1000000
                           THEN 1 ELSE 0 END), 0)::BIGINT AS n_flood_pairs_kept
  FROM pairs
)
SELECT n_pairs_kept, n_flood_pairs_kept, n_hot_fps, n_fp_pairs_dropped
FROM pair_stats, hot_stats
"""


def test_flood_guard_stats(con):
    rows = _same(
        con,
        f"WITH {KEYS}, " + entry._flood_guard_sql(
            "keys", ["band", "key"], 2, "n_hot_buckets",
            "n_bucket_pairs_dropped"),
        f"WITH {KEYS}, " + LSH_FLOOD_INLINE)
    assert rows == [(2, 1, 2, 9)]
    fps = ("fps(doc_id, fp) AS (SELECT doc_id, hash(band, key) AS fp "
           "FROM keys)")
    _same(con,
          f"WITH {KEYS}, {fps}, " + entry._flood_guard_sql(
              "fps", ["fp"], 2, "n_hot_fps", "n_fp_pairs_dropped",
              min_shared=2),
          f"WITH {KEYS}, {fps}, " + WINNOW_FLOOD_INLINE)


def test_fixture_ids(con):
    sql = entry._fixture_ids_sql(3, "(i * 2)::INT AS w")
    assert con.sql(sql).fetchall() == [(0, 0), (1, 2), (2, 4)]
