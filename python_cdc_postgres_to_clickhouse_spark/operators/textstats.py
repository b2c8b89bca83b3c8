"""Text analysis (SURVEY.md §2.7 X4): tokenization, quality scoring,
language ID, fingerprinting — all JVM built-ins (split/regexp/md5), no
Python UDFs. These are the per-document map operators of an LLM-data
pipeline: narrow transformations, no shuffle, embarrassingly parallel at
any scale.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# BPE-ish token regex: words, numbers, or single non-space symbols — a cheap
# deterministic proxy for subword token counting.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language marker vocabularies for n-gram/stopword language ID.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "value", "data", "row"],
    "es": ["el", "la", "de", "que", "y", "los", "por", "una"],
    "de": ["der", "die", "und", "das", "nicht", "ist", "ein", "zu"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}


def normalized(text: str | Column = "text") -> Column:
    """Canonical text form for hashing/dedup: lowercase, collapsed
    whitespace, trimmed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(text: str | Column = "text") -> Column:
    return F.split(normalized(text), " ")


def token_count(text: str | Column = "text") -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: str | Column = "text") -> Column:
    """Regex-based subword-style token count (TOKEN_REGEX matches)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_REGEX), F.lit(0)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: length, token stats, punctuation and
    stopword ratios, plus a composite [0,1] score. All ratios are double
    divisions of exact ints — deterministic across engines."""
    toks = token_count(text_col)
    n_chars = F.length(text_col)
    n_punct = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[^\w\s]"), F.lit(0)))
    stop = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.array_intersect(tokens(text_col), stop))
    avg_tok_len = (n_chars.cast("double") - (toks.cast("double") - 1)) / toks.cast("double")
    return (
        df.withColumn("n_chars_text", n_chars)
        .withColumn("n_tokens", toks)
        .withColumn("avg_token_len", avg_tok_len)
        .withColumn("punct_ratio", n_punct.cast("double") / n_chars.cast("double"))
        .withColumn("stopword_hits", n_stop)
        .withColumn(
            "quality_score",
            F.least(
                F.lit(1.0),
                (toks.cast("double") / F.lit(50.0)) * F.lit(0.5)
                + (n_stop.cast("double") / F.lit(4.0)) * F.lit(0.5),
            ),
        )
    )


# Languages written without word spacing: marker matching must be
# substring-based — whitespace tokenization would fold a whole sentence
# into one token and every marker intersection would be empty.
UNSPACED_LANGS = frozenset({"zh"})


def lang_scores(text_col: str = "text") -> dict[str, Column]:
    """Per-language marker-hit counts: token-set intersection for spaced
    languages, substring containment for unspaced scripts (zh)."""
    toks = tokens(text_col)
    norm = normalized(text_col)
    scores: dict[str, Column] = {}
    for lang, words in LANG_MARKERS.items():
        if lang in UNSPACED_LANGS:
            hits = [F.contains(norm, F.lit(w)).cast("int") for w in words]
            score = hits[0]
            for h in hits[1:]:
                score = score + h
            scores[lang] = score
        else:
            scores[lang] = F.size(
                F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
            )
    return scores


def predict_lang(text_col: str = "text") -> Column:
    """Argmax language by marker hits ('und' when nothing matches).

    A stopword/n-gram heuristic — the standard cheap first pass before a
    model-based classifier; deterministic and shuffle-free.
    """
    scores = lang_scores(text_col)
    pairs = F.array(
        *[F.struct(c.alias("score"), F.lit(lang).alias("lang")) for lang, c in scores.items()]
    )
    best = F.array_max(pairs)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text: str | Column = "text") -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (Content-hash dedup key; md5 is identical across engines, unlike the
    engines' internal hash functions.)"""
    return F.md5(normalized(text))


def portable_hash32(c: Column) -> Column:
    """First 8 md5 hex chars as a bigint in [0, 2^32) — the engine-portable
    hash primitive. DuckDB computes the identical value as
    ``CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)``, which is what lets
    MinHash/SimHash be *oracle-checked* rather than rows-only: engine
    internal hashes (xxhash64) have no cross-engine replay."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def bind_once(value: Column, fn: Callable[[Column], Column]) -> Column:
    """``fn(value)`` with the row expression ``value`` evaluated once per row.

    A lambda body that uses a row expression without using its own lambda
    variable re-evaluates that expression for every array element:
    higher-order functions run interpreted (CodegenFallback), so
    subexpression elimination does not share the work. Passing the value
    in as the one element of an array binds it to a lambda variable
    instead."""
    return F.transform(F.array(value), fn)[0]


def shingles(text: str | Column = "text", shingle: int = 3) -> Column:
    """k-token shingle strings (n-grams). Near-duplication is defined on
    shingle sets, not token sets: a tiny shared vocabulary makes token-set
    Jaccard saturate (measured 57% of all fixture pairs ≥ 0.6) while
    shingle-set Jaccard stays discriminative (25 planted pairs ≥ 0.9, next
    at 0.07). A text with fewer than k tokens is one shorter shingle.

    The token array is bound once (``bind_once``), outside the
    per-shingle lambda, so each document is tokenized once, not once per
    shingle."""

    def per_doc(t: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(t) - F.lit(shingle - 1), F.lit(1)))
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, shingle)))

    return bind_once(tokens(text), per_doc)


def rolling_hashes(text: str | Column = "text", shingle: int = 3) -> Column:
    """Per-document array of shingle hashes (portable md5-int of each
    k-token window) — the input to MinHash (operators/dedup.py). JVM-side:
    one md5 per shingle, permutations are pure arithmetic downstream."""
    return F.transform(shingles(text, shingle), portable_hash32)


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality heuristics): repetitious
# documents — boilerplate, keyword stuffing, generation loops — show a low
# type/token ratio and one token dominating the stream. Both are computed
# from the token array with higher-order functions: a narrow projection,
# zero shuffles (the naive explode→groupBy(doc,token)→groupBy(doc) shape
# would shuffle the whole tokenized corpus twice at 100 TB).
# ---------------------------------------------------------------------------


def top_token_run_count(text: str | Column = "text") -> Column:
    """Count of the most frequent token: longest equal-run in the sorted
    token array, via a single left fold (aggregate) with (prev, run, best)
    state."""
    s = F.array_sort(tokens(text))
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(s, init, step, lambda acc: acc["best"])


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition stats: token totals, distinct-token count,
    top-token count, and the two ratios filters threshold on
    (``top_token_fraction`` high / ``type_token_ratio`` low ⇒ repetitious).
    Ratios are exact-int divisions — bit-identical across engines."""
    toks = tokens(text_col)
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    top = top_token_run_count(text_col)
    return df.select(
        "doc_id",
        n.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        top.alias("top_token_count"),
        (top.cast("double") / n.cast("double")).alias("top_token_fraction"),
        (n_distinct.cast("double") / n.cast("double")).alias("type_token_ratio"),
    )


# ---------------------------------------------------------------------------
# Rolling polynomial fingerprint (Rabin-Karp over tokens): an
# order-SENSITIVE content hash — md5-of-normalized-text detects exact
# duplicates, while a polynomial fold distinguishes permuted token streams
# and extends to streaming/chunked computation (the fold state is the
# resume point). Cross-engine reproducible: per-token values come from md5
# (not engine-internal hashes), folded left with fixed modulus.
# ---------------------------------------------------------------------------

_FP_BASE = 31
_FP_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne); acc*31 + 2^32 stays < 2^63


def token_hash_values(text: str | Column = "text") -> Column:
    """Array of per-token integers: first 8 md5 hex chars as a bigint —
    the engine-portable token value the polynomial fold consumes."""
    return F.transform(tokens(text), portable_hash32)


def rolling_fingerprint(text: str | Column = "text") -> Column:
    """Rabin-Karp fold: h = (h*31 + md5_int(token)) mod (2^31-1)."""
    return F.aggregate(
        token_hash_values(text),
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * F.lit(_FP_BASE) + x) % F.lit(_FP_MOD),
    )


# ---------------------------------------------------------------------------
# PII-style redaction: training corpora scrub emails / long digit runs
# before the text reaches a model. Pure regexp_replace chain — narrow,
# pushdown-transparent, no Python. Patterns are deliberately RE2-safe
# (no backreferences/lookaround) so the same regex runs on Spark (Java
# regex) and the DuckDB oracle (RE2) identically.
# ---------------------------------------------------------------------------

EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
NUMBER_REGEX = r"[0-9]+"


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails → <EMAIL>, digit runs → <NUM>; counts are measured on
    the original text (emails first — they contain digits)."""
    c = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(c, F.lit(EMAIL_REGEX), F.lit(0)))
    no_email = F.regexp_replace(c, EMAIL_REGEX, "<EMAIL>")
    n_numbers = F.size(F.regexp_extract_all(no_email, F.lit(NUMBER_REGEX), F.lit(0)))
    return df.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_numbers.alias("n_numbers"),
        F.regexp_replace(no_email, NUMBER_REGEX, "<NUM>").alias("scrubbed"),
    )


def collision_mass(text: str | Column = "text") -> Column:
    """Σ c_t² over per-token counts — the exact Simpson-index numerator
    (the rational-arithmetic diversity signal that replaces Shannon
    entropy where cross-engine bit-parity matters: libm log() may not be
    an output column, Σc²/n² is exact integer work plus one division).
    Same shuffle-free shape as top_token_run_count: one left fold over
    the sorted token array banking run² at each run boundary."""
    s = F.array_sort(tokens(text))
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("acc"),
    )

    def step(acc: Column, x: Column) -> Column:
        cont = x == acc["prev"]
        run = F.when(cont, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        banked = F.when(cont, acc["acc"]).otherwise(
            acc["acc"] + acc["run"] * acc["run"]
        )
        return F.struct(
            x.alias("prev"), run.alias("run"), banked.alias("acc")
        )

    return F.aggregate(
        s, init, step, lambda a: a["acc"] + a["run"] * a["run"]
    )
