"""Text-analysis operators as native Catalyst expressions.

Each has an exactly-matching DuckDB SQL formulation (see __spark_entry__
oracle_sql) and a pure-Python twin in core.textstats used by unit tests.
All JVM-side — no Python in the hot path.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from docext_spark.core.textstats import (EN_STOPWORDS, LANG_ORDER,
                                         STOPWORDS_BY_LANG)

# canonical token split used by every operator here (SQL twin: \s+)
_WS = r"\s+"


def tokens(col: Column) -> Column:
    """Whitespace tokens of trimmed text; empty text → empty array."""
    t = F.trim(F.coalesce(col, F.lit("")))
    return F.when(t == "", F.array().cast("array<string>")) \
            .otherwise(F.split(t, _WS))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def normalized(col: Column) -> Column:
    """lower + collapse whitespace + trim (core.textstats.normalize_text)."""
    return F.trim(F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))), _WS, " "))


def fingerprint(col: Column) -> Column:
    """sha256 hex of normalized text — the exact-dedup key."""
    return F.sha2(normalized(col), 256)


def lower_tokens(col: Column) -> Column:
    """Lower-cased whitespace tokens (the input of every stopword ratio)."""
    return F.transform(tokens(col), lambda t: F.lower(t))


def _vocab_ratio(low: Column, words: list[str]) -> Column:
    """Share of the lower-cased tokens ``low`` that are in ``words``;
    0.0 for no tokens. ``low`` is referenced twice, so pass a projected
    column when the ratio sits in a larger expression."""
    vocab = F.array(*[F.lit(s) for s in words])
    n = F.size(low)
    hits = F.size(F.filter(low, lambda t: F.array_contains(vocab, t)))
    return F.when(n == 0, F.lit(0.0)).otherwise(hits / n)


def stopword_ratio(col: Column) -> Column:
    return _vocab_ratio(lower_tokens(col), EN_STOPWORDS)


def lang_stopword_ratio(col: Column, lang: str) -> Column:
    return _vocab_ratio(lower_tokens(col), STOPWORDS_BY_LANG[lang])


def lang_id(col: Column, threshold: float = 0.08) -> Column:
    """Multi-language function-word LID (core.textstats.lang_id twin):
    argmax ratio over {en,de,fr,es}, LANG_ORDER tie-break, 'unknown' below
    threshold."""
    return _lang_from(lower_tokens(col), threshold)


def _lang_from(low: Column, threshold: float = 0.08) -> Column:
    """lang_id over the lower-cased tokens ``low``. Each ratio is computed
    once: the argmax is the greatest of (ratio, -priority, lang) structs,
    so equal ratios resolve to the earlier LANG_ORDER language, and the
    winning struct is bound once (a one-element transform) for the
    threshold test and the label."""
    best = F.greatest(*[
        F.struct(_vocab_ratio(low, STOPWORDS_BY_LANG[lang]).alias("r"),
                 F.lit(-i).alias("p"), F.lit(lang).alias("lang"))
        for i, lang in enumerate(LANG_ORDER)])
    return F.transform(
        F.array(best),
        lambda b: F.when(b["r"] < threshold, F.lit("unknown"))
                   .otherwise(b["lang"]))[0]


def alpha_ratio(col: Column) -> Column:
    t = F.coalesce(col, F.lit(""))
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    return F.when(F.length(t) == 0, F.lit(0.0)).otherwise(n_alpha / F.length(t))


def quality_score(col: Column) -> Column:
    """Composite quality ∈ [0,1] (core.textstats.quality_score twin)."""
    return _quality_from(col, lower_tokens(col))


def _quality_from(col: Column, low: Column) -> Column:
    """quality_score of ``col`` given its lower-cased tokens ``low``."""
    return (0.4 * F.least(F.lit(1.0), F.size(low) / F.lit(100.0))
            + 0.3 * alpha_ratio(col)
            + 0.3 * F.least(F.lit(1.0),
                            _vocab_ratio(low, EN_STOPWORDS) / F.lit(0.4)))


def word_shingles(col: Column, n: int = 3,
                  pre_normalized: bool = False) -> Column:
    """Word n-gram shingles over the normalized text (dedup input).

    Texts shorter than n tokens yield one shingle (the whole text), matching
    core.textstats.word_shingles.

    Formulated as zip_with over n shifted slices — ~10x faster than a
    transform(sequence)+slice+array_join plan (benchmarked: 1.9s vs 20s for
    260k shingles; per-index element_at/slice inside a lambda is O(len)
    per access in Catalyst's interpreted higher-order path).

    Pass ``pre_normalized=True`` when ``col`` is already the normalized
    text: Catalyst does NOT common-subexpression the normalization regex
    through the higher-order functions, so evaluating it inline costs ~3x
    (measured) — project ``normalized()`` first and reference the column.
    """
    norm = col if pre_normalized else normalized(col)
    toks = F.split(norm, " ")
    cnt = F.size(toks)
    full = F.array(F.array_join(toks, " "))
    m = cnt - (n - 1)  # number of shingles
    grams = F.slice(toks, 1, m)
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, m)
        grams = F.zip_with(grams, shifted,
                           lambda acc, t: F.concat(acc, F.lit(" "), t))
    return F.when(norm == "", F.array().cast("array<string>")) \
            .otherwise(F.when(cnt < n, full).otherwise(grams))


# PII redaction patterns, applied IN ORDER (emails before phones so the
# phone pattern cannot eat an address's digits; long card/account digit
# runs before phones for the same reason). RE2-safe (no backrefs /
# lookaround) so the DuckDB oracle replays them verbatim.
#
# The phone pattern is deliberately precision-first — it requires a
# phone-like ANCHOR (+country prefix, (area) parentheses, or the dashed
# d3-d3/4-d4 form) rather than "any long digit-ish run": a training corpus
# is full of dates, decimals, and numeric tables, and an unanchored
# pattern redacts all of them (measured: '2026-08-16', '3.14159265', and
# whole number columns became <PHONE> under the naive \+?\d[\d\s().-]{6,}\d
# form). Unanchored bare numbers are data, not PII.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # octets bounded to 0-255 (RE2-safe alternation): software versions
    # with components > 255 ("release 1.2.300.4") are data, not IPs — an
    # unbounded [0-9]{1,3} octet redacts them (a dotted quad whose octets
    # ALL fit 0-255 is indistinguishable from an IP and stays redacted)
    ("ip",
     r"\b(25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})"
     r"(\.(25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})){3}\b", "<IP>"),
    ("number", r"\b[0-9]{12,19}\b", "<NUMBER>"),
    ("phone",
     r"\+[0-9]{1,3}[\s.-]?\(?[0-9]{1,4}\)?([\s.-][0-9]{2,4}){1,3}"
     r"|\([0-9]{2,4}\)[\s.-]?[0-9]{2,4}([\s.-][0-9]{2,4}){1,2}"
     r"|\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\b",
     "<PHONE>"),
)


def redact_pii(col: Column) -> Column:
    """Training-corpus PII scrub: emails, IPv4s, card/account digit runs,
    phone numbers → typed tags. Chained native regexp_replace — map-only,
    whole-stage codegen, zero Python."""
    out = F.coalesce(col, F.lit(""))
    for _, pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-kind match counts BEFORE redaction (audit metric). Counted on
    the progressively redacted text exactly like redact_pii applies it, so
    kinds never double-count each other's spans."""
    out = F.coalesce(col, F.lit(""))
    counts = {}
    for kind, pat, tag in PII_PATTERNS:
        counts[kind] = F.regexp_count(out, F.lit(pat))
        out = F.regexp_replace(out, pat, tag)
    return counts


def lines(col: Column) -> Column:
    return F.split(F.coalesce(col, F.lit("")), r"\n")


def dup_line_frac(col: Column) -> Column:
    """Gopher repetition signal: fraction of lines that are repeats of an
    earlier line (1 - distinct/total). Per-row native expression."""
    ls = lines(col)
    n = F.size(ls)
    return F.when(n == 0, F.lit(0.0)) \
            .otherwise(1.0 - F.size(F.array_distinct(ls)) / n)


def max_token_frac(col: Column) -> Column:
    """Gopher repetition signal: frequency of the most common token over
    the token count. Nested higher-order expression (count per distinct
    token) — O(tokens · distinct) per row, fine for document-sized rows;
    still map-only JVM code, no shuffle, no Python."""
    toks = lower_tokens(col)
    counts = F.transform(F.array_distinct(toks),
                         lambda t: F.size(F.filter(toks, lambda x: x == t)))
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)) \
            .otherwise(F.array_max(counts) / n)


def repetition_gate(col: Column, max_dup_line_frac: float = 0.3,
                    max_tok_frac: float = 0.2) -> Column:
    """Boolean keep-predicate combining the repetition signals (the Gopher
    repetition filter shape)."""
    return ((dup_line_frac(col) <= max_dup_line_frac)
            & (max_token_frac(col) <= max_tok_frac))


def minhash_component(shingle: Column, seed: int,
                      engine: str = "sha256") -> Column:
    """One MinHash permutation component.

    engine='sha256' (oracle path): min over shingles of an 8-hex-char SLICE
    of sha256(digest_idx|shingle) — hex-string min is engine-independent,
    keeping the LSH pipeline DuckDB-oracle-checkable, and one digest yields
    8 independent 32-bit components (seed s reads digest s//8, slice s%8),
    so 8 permutations cost ONE sha256 per shingle instead of 8 (the k-bit
    split of a wide hash is the standard MinHash construction).
    engine='xxhash64' (production path): Spark's native non-cryptographic
    XXH64 — cheaper still, the right choice at 100TB where nothing needs to
    replay the hash outside the JVM. Candidate pairs agree with the sha256
    path on the parity fixture
    (tests/test_dedup_similarity.py::test_lsh_engine_parity)."""
    if engine == "xxhash64":
        return F.xxhash64(F.lit(seed), shingle)
    if engine != "sha256":
        raise ValueError(f"unknown minhash engine: {engine!r}")
    digest_idx, slice_idx = divmod(seed, 8)
    digest = F.sha2(F.concat_ws("|", F.lit(str(digest_idx)), shingle), 256)
    return F.substring(digest, 1 + 8 * slice_idx, 8)
