"""Text-analysis column functions for training-data pipelines.

Engine-native additions (task brief): language-ID (stopword n-gram
heuristic), quality scoring, token counting (whitespace + BPE-ish regex),
and document fingerprinting (rolling hash). All pure Catalyst expressions
— these run inside whole-stage codegen over 100 TB of documents, so no
Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword marker sets (heuristic, not a model)
_STOPWORDS = {
    "en": ["the", "and", "of", "a", "to", "in", "is"],
    "de": ["der", "die", "und", "das", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "la", "de", "los", "es", "una"],
}


def token_count_ws(text: Column) -> Column:
    """Whitespace token count; 0 for empty/whitespace-only text
    (split('') yields [''], which must not count as a token)."""
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish token estimate: word-boundary pieces + punctuation pieces
    (regex split on boundaries), ~ GPT-2 pre-tokenizer granularity."""
    pieces = F.split(text, r"(?=\s)|(?<=\s)|(?=[.,!?;:])")
    return F.size(F.filter(pieces, lambda p: F.trim(p) != ""))


def stopword_hits(text: Column, lang: str) -> Column:
    """Occurrences of the language's marker stopwords as standalone words.

    Words are delimited by ANY whitespace run and counted by exact array
    membership — the previous padded-string replace() missed words
    delimited by newlines/tabs entirely ('the cat\\nand…' scored 0) and
    undercounted adjacent repeats (non-overlapping ' the ' windows share
    their delimiter space)."""
    words = F.split(F.lower(text), r"\s+")

    def eq(word: str):
        # NB: a `lambda x, w=w:` default-arg closure has TWO parameters,
        # which PySpark's higher-order functions interpret as the
        # (element, index) binary form — the index then overrides the
        # default. A real closure keeps the lambda unary.
        return lambda x: x == F.lit(word)

    total = F.lit(0)
    for w in _STOPWORDS[lang]:
        total = total + F.size(F.filter(words, eq(w)))
    return total.cast("long")


def language_id(text: Column) -> Column:
    """Argmax of stopword hit counts over {en, de, fr, es}; 'und' (undetermined)
    when no marker is present."""
    scores = F.array(
        *[
            F.struct(stopword_hits(text, lang).alias("s"), F.lit(lang).alias("lang"))
            for lang in sorted(_STOPWORDS)
        ]
    )
    best = F.array_max(scores)
    return F.when(best["s"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality: penalises extreme length, high punctuation
    density and low mean word length — the classic cheap pre-filter."""
    n_chars = F.length(text).cast("double")
    n_tokens = token_count_ws(text).cast("double")
    mean_word = n_chars / F.greatest(n_tokens, F.lit(1.0))
    punct = F.length(F.regexp_replace(text, r"[^.,!?;:]", "")).cast("double")
    punct_ratio = punct / F.greatest(n_chars, F.lit(1.0))
    len_term = F.least(n_chars / F.lit(200.0), F.lit(1.0))
    word_term = F.when((mean_word >= 3) & (mean_word <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_term = F.when(punct_ratio < 0.1, F.lit(1.0)).otherwise(F.lit(0.6))
    return F.round(len_term * word_term * punct_term, 6)


# PII / URL patterns — written in the Java-regex ∩ RE2 common subset
# (no lookaround, no backrefs) so the DuckDB oracles can run the SAME
# pattern strings verbatim. Scrub order is part of the contract:
# email → ipv4 → phone (an email eats its own digits before the ipv4
# pass can see them; the placeholders contain no digits or '@').
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{2} \d{2} \d{2} \d{2} \d{2}"
URL_PATTERN = r"https?://[A-Za-z0-9./_-]+"
_DOMAIN_GROUP = r"https?://([^/]+)"


def pii_counts(text: Column) -> tuple[Column, Column, Column]:
    """(n_emails, n_ips, n_phones) — non-overlapping match counts on the
    RAW text (count before scrubbing; scrub_pii applies the same
    patterns in sequence)."""
    return (
        F.regexp_count(text, F.lit(PII_EMAIL)),
        F.regexp_count(text, F.lit(PII_IPV4)),
        F.regexp_count(text, F.lit(PII_PHONE)),
    )


def scrub_pii(text: Column) -> Column:
    """Replace emails/IPv4s/phone numbers with typed placeholders, in the
    documented email → ipv4 → phone order. Pure regexp_replace chain —
    map-only, codegen-resident, no Python."""
    scrubbed = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    scrubbed = F.regexp_replace(scrubbed, PII_IPV4, "<IP>")
    return F.regexp_replace(scrubbed, PII_PHONE, "<PHONE>")


def extract_urls(text: Column) -> Column:
    """All http(s) URLs in the text (greedy host+path runs, stops at
    whitespace or any char outside [A-Za-z0-9./_-])."""
    return F.regexp_extract_all(text, F.lit(URL_PATTERN), 0)


def url_domain(url: Column) -> Column:
    """Host part of a URL ('' when the pattern does not match — Spark and
    DuckDB agree on empty-string for no-match regexp_extract)."""
    return F.regexp_extract(url, _DOMAIN_GROUP, 1)


_FP_MOD = (1 << 31) - 1  # Mersenne-31: products stay < 2^62 (ANSI-safe)


def _base60(col) -> Column:
    """First 60 bits of md5 as a non-negative long — the engine's one
    cross-engine canonical string hash (identical in DuckDB via
    CAST('0x'||substring(md5(x),1,15) AS UBIGINT)). Shared by the dedup
    shingle hashes, the sampling keys and doc_fingerprint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def doc_fingerprint(text: Column) -> Column:
    """Order-sensitive 62-bit document fingerprint: two polynomial rolling
    hashes over the word sequence (multipliers 31 and 131) in Mersenne-31
    space, packed into one int64. Native aggregate — no overflow under
    Spark's ANSI arithmetic. The word hash is the md5-60bit base
    (_base60), so the fingerprint is bit-reproducible in DuckDB SQL
    (list_reduce over pre-hashed words) — driver ORACLE_QUALITY."""
    words = F.split(F.lower(F.trim(text)), r"\s+")

    def rolling(mult: int) -> Column:
        return F.aggregate(
            words,
            F.lit(0).cast("long"),
            lambda acc, w: (acc * F.lit(mult) + _base60(w) % _FP_MOD) % _FP_MOD,
        )

    return F.shiftleft(rolling(31), 31).bitwiseOR(rolling(131))


#: C0 controls except \t\n\r, plus DEL — written in the Java-regex ∩ RE2
#: common subset (the PII-pattern precedent) so DuckDB runs the SAME string
CTRL_PATTERN = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def normalize_text(text: Column, *, nfc: bool = False) -> Column:
    """CCNet/Gopher-style text normalization (the cleanup pass that runs
    BEFORE hashing/dedup so byte-variant duplicates collapse): strip
    control characters, optionally Unicode-NFC compose, lowercase, and
    collapse whitespace runs to single spaces (trimmed).

    The fixed stage order (ctrl -> [nfc] -> lower -> ws-collapse) is the
    cross-engine contract shared with the DuckDB oracle. nfc=False (the
    default) keeps the whole chain native Catalyst regexp/lower — map-only,
    codegen-resident, zero Python. nfc=True inserts one Arrow pandas UDF
    (Spark has no native NFC); unicodedata.normalize and DuckDB's
    nfc_normalize both implement standard Unicode NFC, so outputs agree.
    """
    t = F.regexp_replace(text, CTRL_PATTERN, "")
    if nfc:
        t = _get_nfc_udf()(t)
    t = F.lower(t)
    return F.trim(F.regexp_replace(t, r"\s+", " "))


_NFC_UDF = None


def _get_nfc_udf():
    """Created lazily (a pandas_udf with a DDL return type needs an
    active session) and cached per process."""
    global _NFC_UDF, pd
    if _NFC_UDF is not None:
        return _NFC_UDF
    import unicodedata

    # a module global, imported on first use: the type hints below resolve
    # against the module namespace, and the Python workers that unpickle
    # the dedup kernels import this module for _base60 without needing
    # pandas (~0.35 s per worker)
    import pandas as pd

    @F.pandas_udf("string")
    def nfc_udf(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    _NFC_UDF = nfc_udf
    return nfc_udf
