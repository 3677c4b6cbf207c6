"""Text-analysis kernels for the training-data pipeline operators.

These have exactly-matching SQL formulations (Spark expression + DuckDB
oracle) in docext_spark.operators.textops — the Python versions here are the
unit-test ground truth and the pUDF bodies where SQL can't express the op
(simhash).

Pure Python, deterministic, no Spark imports.
"""
from __future__ import annotations

import hashlib
import re

# Tiny function-word lists — shared verbatim with the SQL operators.
# Language-ID heuristic: function words are the highest-frequency, most
# language-discriminative tokens (standard n-gram/stopword LID baseline).
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on",
    "for", "with", "as", "at", "by", "this", "that", "are", "was", "be",
]
STOPWORDS_BY_LANG: dict[str, list[str]] = {
    "en": EN_STOPWORDS,
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit",
           "auf", "für", "von", "dem", "den", "des", "im", "zu", "sich"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pas", "avec",
           "pour", "dans", "des", "du", "au", "ce", "que", "qui", "ne"],
    "es": ["el", "los", "las", "y", "es", "un", "una", "no", "con", "para",
           "por", "del", "al", "lo", "se", "más", "como", "pero"],
}
LANG_ORDER = ["en", "de", "fr", "es"]  # deterministic tie-break priority

# ASCII flag: the Spark exprs (Java \s) and DuckDB oracle (RE2 \s) treat
# only ASCII whitespace as separators; the Python twin must match exactly
# or non-ASCII text (e.g. NBSP, 'für') breaks the three-way parity.
_NORM_WS_RE = re.compile(r"\s+", re.ASCII)
_ALPHA_RE = re.compile(r"[A-Za-z]")


def tokenize(text: str) -> list[str]:
    """Split on ASCII whitespace runs after trimming spaces — the exact
    shape of the Spark expr and the SQL twin: their trim removes only ' ',
    so a leading or trailing tab or newline yields one empty token, and
    text of tabs or newlines alone is two empty tokens."""
    t = (text or "").strip(" ")
    return _NORM_WS_RE.split(t) if t else []


def token_count(text: str) -> int:
    return len(tokenize(text))


def normalize_text(text: str) -> str:
    """lower + collapse whitespace — the canonical form for fingerprints."""
    return _NORM_WS_RE.sub(" ", (text or "").lower()).strip()


def fingerprint(text: str) -> str:
    """sha256 hex of the normalized text (exact-dedup key)."""
    return hashlib.sha256(normalize_text(text).encode("utf-8")).hexdigest()


def stopword_ratio(text: str) -> float:
    toks = [t.lower() for t in tokenize(text)]
    if not toks:
        return 0.0
    hits = sum(1 for t in toks if t in EN_STOPWORDS)
    return hits / len(toks)


def lang_stopword_ratio(text: str, lang: str) -> float:
    toks = [t.lower() for t in tokenize(text)]
    if not toks:
        return 0.0
    vocab = set(STOPWORDS_BY_LANG[lang])
    return sum(1 for t in toks if t in vocab) / len(toks)


def lang_id(text: str, threshold: float = 0.08) -> str:
    """Function-word-ratio language ID over {en, de, fr, es}; 'unknown'
    below threshold. Tie-break: LANG_ORDER priority (deterministic,
    mirrored exactly in the Spark expr and DuckDB oracle)."""
    ratios = {lang: lang_stopword_ratio(text, lang) for lang in LANG_ORDER}
    best = max(ratios.values())
    if best < threshold:
        return "unknown"
    for lang in LANG_ORDER:
        if ratios[lang] == best:
            return lang
    return "unknown"


def quality_score(text: str) -> float:
    """Composite quality ∈ [0,1]: length, alpha ratio, stopword ratio.

    Mirrors published web-corpus quality filters (C4/Gopher-style length &
    symbol heuristics) in a deterministic, SQL-expressible form:
      0.4*min(1, n_tokens/100) + 0.3*alpha_ratio + 0.3*min(1, stop_ratio/0.4)
    """
    toks = tokenize(text)
    n = len(toks)
    chars = len(text or "")
    alpha = len(_ALPHA_RE.findall(text or ""))  # ASCII alpha = SQL twin
    alpha_ratio = alpha / chars if chars else 0.0
    sr = stopword_ratio(text)
    return (0.4 * min(1.0, n / 100.0)
            + 0.3 * alpha_ratio
            + 0.3 * min(1.0, sr / 0.4))


def word_shingles(text: str, n: int = 3) -> list[str]:
    toks = normalize_text(text).split(" ") if normalize_text(text) else []
    if len(toks) < n:
        return [" ".join(toks)] if toks else []
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def minhash_signature(text: str, num_hashes: int = 16, shingle_n: int = 3) -> list[str]:
    """MinHash via min-over-shingles of 8-hex-char slices of seeded sha256
    digests: component s reads digest s//8 (seed = digest index), slice
    s%8 — one digest funds 8 permutations (operators/textops.py
    minhash_component twin).

    Hex-string min is engine-independent (same result in Spark SQL and
    DuckDB), which keeps the LSH operator oracle-checkable.
    """
    shingles = word_shingles(text, shingle_n)
    if not shingles:
        return ["" for _ in range(num_hashes)]
    digests: dict[tuple[int, str], str] = {}
    sig = []
    for comp in range(num_hashes):
        d_idx, s_idx = divmod(comp, 8)
        vals = []
        for s in shingles:
            key = (d_idx, s)
            dig = digests.get(key)
            if dig is None:
                dig = hashlib.sha256(f"{d_idx}|{s}".encode("utf-8")).hexdigest()
                digests[key] = dig
            vals.append(dig[8 * s_idx:8 * s_idx + 8])
        sig.append(min(vals))
    return sig


_ROLL_BASE = 257
_ROLL_MOD = (1 << 61) - 1


def rolling_hashes(text: str, k: int = 8) -> list[int]:
    """Rabin-Karp rolling hashes of every k-gram of the normalized text."""
    s = normalize_text(text)
    n = len(s)
    if n < k:
        return []
    h = 0
    for c in s[:k]:
        h = (h * _ROLL_BASE + ord(c)) % _ROLL_MOD
    out = [h]
    top = pow(_ROLL_BASE, k - 1, _ROLL_MOD)
    for i in range(k, n):
        h = ((h - ord(s[i - k]) * top) * _ROLL_BASE + ord(s[i])) % _ROLL_MOD
        out.append(h)
    return out


def winnow_fingerprints(text: str, k: int = 8, window: int = 4) -> list[int]:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
    the MOSS local fingerprinting algorithm): the minimum rolling k-gram
    hash of every sliding window, rightmost-min tie-break, deduplicated in
    first-seen order. Guarantees any shared substring of length
    ≥ k + window - 1 yields a shared fingerprint."""
    hs = rolling_hashes(text, k)
    if not hs:
        return []
    if len(hs) <= window:
        return [min(hs)]
    out: list[int] = []
    for i in range(len(hs) - window + 1):
        win = hs[i:i + window]
        m = min(win)
        # rightmost occurrence of the min
        pick = (window - 1) - win[::-1].index(m)
        v = win[pick]
        if not out or out[-1] != v:
            out.append(v)
    seen: set[int] = set()
    uniq = []
    for v in out:
        if v not in seen:
            seen.add(v)
            uniq.append(v)
    return uniq


def simhash64(text: str) -> int:
    """64-bit SimHash over word tokens (Charikar 2002), md5-based."""
    votes = [0] * 64
    for tok in normalize_text(text).split(" "):
        if not tok:
            continue
        h = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(64):
        if votes[b] > 0:
            out |= 1 << b
    # keep it in signed-int64 range for Spark LongType
    return out - (1 << 64) if out >= (1 << 63) else out
