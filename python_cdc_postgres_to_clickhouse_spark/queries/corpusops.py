"""Corpus-analytics queries (SURVEY.md §2.7, round-3 X13-X17): the
statistics / indexing / hygiene stages of an LLM training-data pipeline
that sit next to dedup and splitting — benchmark decontamination, n-gram
counting, TF-IDF term ranking, vocabulary construction, and stratified
sampling. All five are fully oracle-checked (exact integer counts and
IEEE-double ratios only — no transcendentals, no engine-internal hashes),
and every plan shape is the one that survives 100 TB: benchmark sides
broadcast, top-k via TakeOrdered (never a global sort), vocabulary-sized
join sides broadcast, per-group limits through WindowGroupLimit.

Reference parity: the reference (a CDC ingest pipeline) delegates all
analytics to a provisioned ClickHouse server (reference
docker-compose.yml:155-174); this whole family is part of the EXT
training-data surface built on the same engine-native tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import textstats as TS
from ..registry import query
from ..tables import load_tables
from ._exprs import SQL_NORM

_SQL_TOKENS = f"string_split({SQL_NORM}, ' ')"

# 3-gram shingle list of a token array `t` (mirrors operators/textstats.shingles).
_SQL_SHINGLES3 = (
    "list_transform(generate_series(1, greatest(len(t)-2, 1)),"
    " i -> array_to_string(t[i:i+2], ' '))"
)
# Salted-md5 split bucket (mirrors operators/sampling.md5_bucket verbatim).
_SQL_SPLIT_BUCKET = (
    "CAST(CAST(concat('0x', substr(md5(concat('split', CAST(doc_id AS VARCHAR))),"
    " 1, 8)) AS BIGINT) % 100 AS INTEGER)"
)

CONTAMINATION_MIN_SHINGLES = 5

DECONTAMINATE_SQL = f"""
WITH d AS (
  SELECT doc_id, text,
         CASE WHEN {_SQL_SPLIT_BUCKET} < 90 THEN 'train'
              WHEN {_SQL_SPLIT_BUCKET} < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), sh AS (
  SELECT doc_id, split, list_distinct({_SQL_SHINGLES3}) AS shs
  FROM (SELECT doc_id, split, string_split({SQL_NORM}, ' ') AS t FROM d)
), test_sh AS (
  SELECT DISTINCT unnest(shs) AS shingle FROM sh WHERE split = 'test'
), train_sh AS (
  SELECT doc_id, unnest(shs) AS shingle FROM sh WHERE split = 'train'
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shared_shingles,
       COUNT(*) >= {CONTAMINATION_MIN_SHINGLES} AS contaminated
FROM train_sh JOIN test_sh USING (shingle)
GROUP BY doc_id
"""


@query("x_decontaminate", oracle=DECONTAMINATE_SQL, tags=("ext", "pipeline", "dedup"))
def x_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: benchmark decontamination scan — for every *train*-split
    document, how many of its 3-gram shingles also appear anywhere in the
    *test* split (the held-out set standing in for an eval benchmark).
    Documents at or above {CONTAMINATION_MIN_SHINGLES} shared shingles are
    flagged for removal: an n-gram-overlap decontamination pass, the
    standard defense against eval leakage into pretraining data.

    Scale shape: the benchmark/test side is always tiny relative to the
    corpus, so its distinct shingle set is *broadcast* and the train side
    streams through one narrow explode + broadcast-hash semi-join + one
    aggregation on doc_id — linear, no shuffle of the corpus text, no
    pairwise term (plan-asserted in tests/test_corpusops.py). The shingle
    arrays are computed once (widened past a single-split scan — the
    interpreted shingle transform is the CPU cost) and persisted so the
    train and test branches don't tokenize the corpus twice."""
    from ..operators.sampling import assign_split
    from ..tables import widen_small_scan

    t = load_tables(spark, sf_dir)
    sh = (
        widen_small_scan(assign_split(t["documents"], "doc_id"))
        .select("doc_id", "split", F.array_distinct(D.shingles()).alias("shs"))
        .persist()
    )
    test_sh = (
        sh.filter(F.col("split") == "test")
        .select(F.explode("shs").alias("shingle"))
        .distinct()
    )
    train_sh = sh.filter(F.col("split") == "train").select(
        "doc_id", F.explode("shs").alias("shingle")
    )
    return (
        train_sh.join(F.broadcast(test_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .withColumn(
            "contaminated",
            F.col("n_shared_shingles") >= CONTAMINATION_MIN_SHINGLES,
        )
    )


BLOOM_BITS = 1 << 20  # 1 Mbit → ≤ 128 KB of set words, fixed vs corpus size
BLOOM_K = 4            # independent salted-md5 hash functions


def _bloom_positions(shingle_col, k: int = BLOOM_K):
    """k salted-md5 bit positions in [0, BLOOM_BITS) for a shingle."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.conv(
            F.substring(
                F.md5(F.concat(F.lit("bloom"), j.cast("string"), shingle_col)), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % BLOOM_BITS,
    )


# The Bloom bit positions are salted-md5 derived — engine-portable, so the
# filter is reproducible in DuckDB exactly: same positions, same word table,
# same probe verdicts. DuckDB's `<<` raises on a 63-bit shift (Spark's
# shiftleft wraps to the sign bit), hence the CASE for bit 63.
_SQL_BLOOM_POS = (
    "CAST(CAST(concat('0x', substr(md5(concat('bloom', CAST(j AS VARCHAR),"
    " shingle)), 1, 8)) AS BIGINT) % {bits} AS BIGINT)"
).format(bits=BLOOM_BITS)
_SQL_BIT = (
    "CASE WHEN pos % 64 = 63 THEN CAST(-9223372036854775808 AS BIGINT) "
    "ELSE CAST(1 AS BIGINT) << CAST(pos % 64 AS INTEGER) END"
)

BLOOM_DECONTAMINATE_SQL = f"""
WITH d AS (
  SELECT doc_id, text,
         CASE WHEN {_SQL_SPLIT_BUCKET} < 90 THEN 'train'
              WHEN {_SQL_SPLIT_BUCKET} < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), sh AS (
  SELECT doc_id, split, list_distinct({_SQL_SHINGLES3}) AS shs
  FROM (SELECT doc_id, split, string_split({SQL_NORM}, ' ') AS t FROM d)
), test_pos AS (
  SELECT {_SQL_BLOOM_POS} AS pos
  FROM (SELECT DISTINCT unnest(shs) AS shingle FROM sh WHERE split = 'test'),
       (SELECT unnest([0, 1, 2, 3]) AS j)
), words AS (
  SELECT CAST(pos // 64 AS BIGINT) AS word_id, bit_or({_SQL_BIT}) AS word
  FROM test_pos GROUP BY 1
), probes AS (
  SELECT doc_id, shingle, pos, CAST(pos // 64 AS BIGINT) AS word_id
  FROM (
    SELECT doc_id, shingle, {_SQL_BLOOM_POS} AS pos
    FROM (SELECT doc_id, unnest(shs) AS shingle FROM sh WHERE split = 'train'),
         (SELECT unnest([0, 1, 2, 3]) AS j)
  )
), flagged AS (
  SELECT doc_id, shingle
  FROM (
    SELECT p.doc_id, p.shingle,
           (COALESCE(w.word, 0) & ({_SQL_BIT})) <> 0 AS hit
    FROM probes p LEFT JOIN words w USING (word_id)
  )
  GROUP BY doc_id, shingle HAVING bool_and(hit)
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged_shingles,
       COUNT(*) >= {CONTAMINATION_MIN_SHINGLES} AS contaminated
FROM flagged GROUP BY doc_id
"""


@query(
    "x_bloom_decontaminate",
    oracle=BLOOM_DECONTAMINATE_SQL,
    tags=("ext", "pipeline", "dedup", "approx"),
)
def x_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13': Bloom-filter decontamination — the fixed-memory variant of
    x_decontaminate for when the benchmark shingle set is too large to
    broadcast as an exact hash set.

    The filter is a sparse 64-bit word table: every test shingle sets
    k = {BLOOM_K} salted-md5 bit positions, ``bit_or``-aggregated by word
    index. OR-merge IS partial aggregation (commutative — result is
    partitioning-independent, so the filter is deterministic), and the
    table is ≤ BLOOM_BITS/64 rows ≈ 128 KB however large the benchmark
    grows — that bounded size is exactly why this variant exists. The
    train side explodes its k probe positions and takes ONE broadcast
    join against the word table; a shingle is flagged iff all k bits are
    set (``bool_and``). Bloom semantics make the per-doc count an UPPER
    bound: zero false negatives (the conservative direction for
    decontamination), false-positive rate bounded by (1-e^{{-kn/m}})^k —
    both property-tested against the exact query. The bit positions are
    salted-md5 derived (no engine-internal hash), so the whole filter is
    engine-portable: promoted round 11 from rows-only to a full DuckDB
    oracle that rebuilds the identical word table and probe verdicts.
    """
    from ..operators.sampling import assign_split
    from ..tables import widen_small_scan

    t = load_tables(spark, sf_dir)
    sh = (
        widen_small_scan(assign_split(t["documents"], "doc_id"))
        .select("doc_id", "split", F.array_distinct(D.shingles()).alias("shs"))
        .persist()
    )
    words = (
        sh.filter(F.col("split") == "test")
        .select(F.explode("shs").alias("shingle"))
        .select(F.explode(_bloom_positions(F.col("shingle"))).alias("pos"))
        .groupBy((F.col("pos") / 64).cast("long").alias("word_id"))
        .agg(F.bit_or(F.expr("shiftleft(1L, CAST(pos % 64 AS INT))")).alias("word"))
    )
    probes = (
        sh.filter(F.col("split") == "train")
        .select("doc_id", F.explode("shs").alias("shingle"))
        .select(
            "doc_id",
            "shingle",
            F.explode(_bloom_positions(F.col("shingle"))).alias("pos"),
        )
        .withColumn("word_id", (F.col("pos") / 64).cast("long"))
    )
    hits = probes.join(F.broadcast(words), "word_id", "left").select(
        "doc_id",
        "shingle",
        (
            F.coalesce(F.col("word"), F.lit(0).cast("long")).bitwiseAND(
                F.expr("shiftleft(1L, CAST(pos % 64 AS INT))")
            )
            != 0
        ).alias("hit"),
    )
    flagged = (
        hits.groupBy("doc_id", "shingle")
        .agg(F.bool_and("hit").alias("all_hit"))
        .filter("all_hit")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_flagged_shingles"))
        .withColumn(
            "contaminated",
            F.col("n_flagged_shingles") >= CONTAMINATION_MIN_SHINGLES,
        )
    )


NGRAM_TOPK = 20

NGRAM_COUNTS_SQL = f"""
WITH g AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(t)-1, 1)),
                               i -> array_to_string(t[i:i+1], ' '))) AS ngram
  FROM (SELECT string_split({SQL_NORM}, ' ') AS t FROM documents)
), c AS (
  SELECT ngram, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY ngram
)
SELECT ngram, cnt, rank FROM (
  SELECT ngram, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, ngram) AS rank
  FROM c) t
WHERE rank <= {NGRAM_TOPK}
"""


@query("x_ngram_counts", oracle=NGRAM_COUNTS_SQL, tags=("ext", "text"))
def x_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14: corpus-level n-gram statistics — the top-{NGRAM_TOPK} bigrams
    with occurrence counts (the Google-n-grams / LM-smoothing-table shape).
    Ties break on the ngram string so the ranking is deterministic.

    Scale shape: explode → hash-aggregate benefits from map-side partial
    aggregation (heavy hitters collapse before the shuffle), and the
    top-k is TakeOrderedAndProject — a per-partition bounded heap, never a
    global sort of the n-gram table (plan-asserted)."""
    t = load_tables(spark, sf_dir)
    counts = (
        t["documents"]
        .select(F.explode(D.shingles(shingle=2)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.desc("cnt"), "ngram").limit(NGRAM_TOPK)
    # Ranking the 20 surviving rows: the unpartitioned window is fine
    # because it runs on a LIMIT-ed constant-size input, not the corpus.
    return top.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("cnt"), "ngram"))
    )


TFIDF_TOPK = 3

# The score expression must be textually identical on both sides so the
# IEEE-double operation order matches: (tf * N) / df, left to right.
_SQL_TFIDF_SCORE = (
    "CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)"
)

TFIDF_SQL = f"""
WITH tf AS (
  SELECT doc_id, tok AS token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents)
  GROUP BY doc_id, tok
), dfreq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT doc_id, token, tf, df, score, rank FROM (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         {_SQL_TFIDF_SCORE} AS score,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY {_SQL_TFIDF_SCORE} DESC, tf.token) AS rank
  FROM tf JOIN dfreq USING (token) CROSS JOIN n) s
WHERE rank <= {TFIDF_TOPK}
"""


@query("x_tfidf_topterms", oracle=TFIDF_SQL, tags=("ext", "text"))
def x_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15: per-document top-{TFIDF_TOPK} distinctive terms by a
    TF-IDF-style score tf·(N/df). The inverse-document-frequency factor is
    the exact rational N/df (not log-scaled) so the score is bit-identical
    across engines — transcendental functions are libm-specific and banned
    from oracles; the *ranking* is identical either way because x ↦ log x
    is monotone.

    Scale shape: term frequencies are one explode + hash-aggregate; the
    document-frequency table is vocabulary-sized, so it is *broadcast*
    back onto the tf table (no corpus-sized shuffle for the join), the
    corpus row count joins as a broadcast single row, and the per-document
    top-k runs as WindowGroupLimit (rank-filter pushed to a bounded
    per-partition heap before the window shuffle)."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    tf = (
        docs.select("doc_id", F.explode(TS.tokens()).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = (
        F.col("tf").cast("double")
        * F.col("n_docs").cast("double")
        / F.col("df").cast("double")
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "token")
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOPK)
        .select("doc_id", "token", "tf", "df", "score", "rank")
    )


VOCAB_SIZE = 100

VOCAB_SQL = f"""
WITH c AS (
  SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({_SQL_TOKENS}) AS tok FROM documents)
  GROUP BY tok
)
SELECT token, cnt, vocab_id FROM (
  SELECT token, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS vocab_id
  FROM c) t
WHERE vocab_id <= {VOCAB_SIZE}
"""


@query("x_vocab_build", oracle=VOCAB_SQL, tags=("ext", "text"))
def x_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16: frequency-ranked vocabulary construction — the top-{VOCAB_SIZE}
    tokens by corpus count, assigned dense ids in (count desc, token)
    order: the id table a tokenizer build starts from. Deterministic: ties
    break on the token string.

    Scale shape: token counting is explode + partial-agg; the top-
    {VOCAB_SIZE} cut is TakeOrderedAndProject (bounded heaps, no global
    sort), and only the surviving constant-size set is ranked by the
    unpartitioned window — the full vocabulary never passes through a
    single task."""
    t = load_tables(spark, sf_dir)
    counts = (
        t["documents"]
        .select(F.explode(TS.tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.desc("cnt"), "token").limit(VOCAB_SIZE)
    return top.withColumn(
        "vocab_id", F.row_number().over(W.orderBy(F.desc("cnt"), "token"))
    )


STRATUM_K = 25

STRATIFIED_SQL = f"""
SELECT lang, doc_id, rn FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(concat('strat', CAST(doc_id AS VARCHAR))), doc_id) AS rn
  FROM documents) t
WHERE rn <= {STRATUM_K}
"""


@query("x_stratified_sample", oracle=STRATIFIED_SQL, tags=("ext", "sampling"))
def x_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17: stratified deterministic sampling — exactly {STRATUM_K}
    documents per language, chosen by salted-md5 order (layout-independent
    like operators/sampling, so the draw is reproducible on any engine,
    any partitioning, and stable under corpus growth within a stratum's
    hash order). The per-class-balanced debug/eval cut of a training
    pipeline.

    Scale shape: one narrow projection for the hash key, then a per-lang
    rank ≤ k executed as WindowGroupLimit — each input partition keeps at
    most k rows per stratum *before* the shuffle, so skewed strata cost
    O(k·partitions), not a full sort of the stratum (plan-asserted)."""
    t = load_tables(spark, sf_dir)
    h = F.md5(F.concat(F.lit("strat"), F.col("doc_id").cast("string")))
    w = W.partitionBy("lang").orderBy(h, F.col("doc_id"))
    return (
        t["documents"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= STRATUM_K)
        .select("lang", "doc_id", "rn")
    )


# ---------------------------------------------------------------------------
# X19: passage-level dedup. Document-level near-dup misses boilerplate that
# repeats *inside* otherwise-distinct pages (headers, license blocks, nav
# text); pipelines therefore dedup fixed-size token windows across the whole
# corpus, keep each passage's first occurrence, and stitch documents back
# together. Fully oracle-checked: chunking, keep-first, and reassembly are
# all exact.
# ---------------------------------------------------------------------------

PASSAGE_TOKENS = 16

PASSAGE_DEDUP_SQL = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
chunks AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(list_slice(t, i*{PASSAGE_TOKENS}+1,
                                       i*{PASSAGE_TOKENS}+{PASSAGE_TOKENS}), ' ') AS chunk
  FROM toks, UNNEST(range(0, CAST(ceil(len(t)/{PASSAGE_TOKENS}.0) AS BIGINT))) AS u(i)
),
flagged AS (
  SELECT doc_id, chunk_idx, chunk,
         ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                            ORDER BY doc_id, chunk_idx) AS rn
  FROM chunks)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CASE WHEN SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0
            THEN md5(string_agg(CASE WHEN rn = 1 THEN chunk END,
                                ' ' ORDER BY chunk_idx))
            END AS cleaned_md5
FROM flagged GROUP BY doc_id
"""


@query("x_passage_dedup", oracle=PASSAGE_DEDUP_SQL, tags=("ext", "dedup", "pipeline"))
def x_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19: corpus-wide passage dedup — split every document into
    {PASSAGE_TOKENS}-token windows, keep only each window's first occurrence
    (global (doc_id, chunk_idx) order), reassemble surviving text per doc
    (reported as an md5 so the output stays hashable and narrow).

    Scale shape: chunking is a narrow explode (no shuffle); keep-first is ONE
    shuffle on the chunk hash — the window over md5(chunk) ranks each
    passage's occurrences without materializing pairs; reassembly is ONE
    shuffle back on doc_id with an order-struct array agg. O(corpus tokens)
    end to end, the same two-exchange profile as exact document dedup, just
    at passage granularity."""
    t = load_tables(spark, sf_dir)
    k = PASSAGE_TOKENS
    toks = t["documents"].select("doc_id", TS.tokens().alias("t"))
    n_chunks = F.ceil(F.size("t") / F.lit(float(k))).cast("int")
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.concat_ws(" ", F.slice("t", i * k + 1, k)),
            )
        ).alias("chunk_idx", "chunk"),
    )
    w = W.partitionBy(F.md5("chunk")).orderBy("doc_id", "chunk_idx")
    flagged = chunks.withColumn("rn", F.row_number().over(w))
    kept_chunk = F.when(F.col("rn") == 1, F.col("chunk"))
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("rn") == 1, F.struct("chunk_idx", "chunk"))
            )
        ).alias("_kept"),
    )
    cleaned = F.concat_ws(" ", F.transform("_kept", lambda s: s["chunk"]))
    return per_doc.select(
        "doc_id",
        "n_chunks",
        "n_kept",
        F.when(F.col("n_kept") > 0, F.md5(cleaned)).alias("cleaned_md5"),
    )


# ---------------------------------------------------------------------------
# X20: co-occurrence lift (PMI without the log). Collocation mining over the
# corpus: how much more often do two tokens appear within a w-token window
# than independence predicts? lift = P(pair) / (P(a)·P(b)); PMI = log(lift),
# but the log is left to the caller — libm log implementations differ in the
# last ulp across engines, while the rational lift is IEEE-exact and
# oracle-checkable. Every count is exact; the divisions run in a fixed
# left-associated order on both engines.
# ---------------------------------------------------------------------------

PMI_WINDOW = 4
PMI_TOP = 20

PMI_SQL = f"""
WITH pos AS (
  SELECT doc_id, i AS pos, t[i+1] AS tok
  FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
       UNNEST(range(0, len(t))) AS u(i)
),
pairs AS (
  SELECT p1.tok AS tok_a, p2.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM pos p1 JOIN pos p2
    ON p1.doc_id = p2.doc_id AND p2.pos - p1.pos BETWEEN 1 AND {PMI_WINDOW}
  GROUP BY p1.tok, p2.tok),
uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_tok FROM pos GROUP BY tok),
tot AS (SELECT CAST((SELECT COUNT(*) FROM pos) AS DOUBLE) AS n_total,
               CAST((SELECT CAST(SUM(n_pair) AS BIGINT) FROM pairs) AS DOUBLE) AS n_pairs)
SELECT tok_a, tok_b, n_pair,
       CAST(n_pair AS DOUBLE) * n_total * n_total
         / n_pairs / CAST(ua.n_tok AS DOUBLE) / CAST(ub.n_tok AS DOUBLE) AS lift
FROM pairs JOIN uni ua ON tok_a = ua.tok
           JOIN uni ub ON tok_b = ub.tok
           CROSS JOIN tot
ORDER BY n_pair DESC, tok_a, tok_b LIMIT {PMI_TOP}
"""


@query("x_pmi_pairs", oracle=PMI_SQL, tags=("ext", "text"))
def x_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X20: top-{PMI_TOP} co-occurring token pairs within a
    {PMI_WINDOW}-token forward window, with independence lift (exp(PMI)).

    Scale shape: the windowed pairing is JOIN-FREE — a narrow array
    ``transform``/``slice`` pairs every token with at most the next w
    tokens inside its own document's token array, so both compute AND
    output are ≤ w·len per document (linear in corpus tokens; the round-4
    doc_id-equi self-join enumerated the full len² position cross-product
    per document before the band residual filtered it — a straggler killer
    on book-length docs; plan-asserted gone in tests/test_plans.py). Pair
    counting shuffles on (tok_a, tok_b) with map-side partials; the
    unigram table is vocabulary-sized, broadcast onto the pair counts, and
    counted in the SAME shuffle as the pairs via per-token NULL-marker
    rows — the corpus is exploded exactly once and both unigram
    broadcasts read a ReusedExchange (runtime-plan-asserted);
    the corpus totals come in CLOSED FORM from document lengths (one
    narrow scan — integer-valued doubles below 2^53, every addition
    exact, so the sum is order-independent and matches the oracle's
    pair-count SUM bit-for-bit) and broadcast as one row. Top-k via
    per-partition heaps. No transcendentals: lift divisions are
    fixed-order IEEE doubles, bit-identical across engines."""
    from ..tables import widen_small_scan

    t = load_tables(spark, sf_dir)
    toks = widen_small_scan(t["documents"]).select(TS.tokens().alias("t"))
    # For token i (0-based), its forward window is the 1-based slice
    # [i+2, i+2+w) of the same array — empty past the end, so edge
    # documents shorter than w need no special case.
    pair_arr = F.flatten(
        F.transform(
            "t",
            lambda x, i: F.transform(
                F.slice(F.col("t"), i + F.lit(2), F.lit(PMI_WINDOW)),
                lambda y: F.struct(x.alias("tok_a"), y.alias("tok_b")),
            ),
        )
    )
    # Unigram counts ride the SAME explode + shuffle as the pair counts: each
    # token also emits a (tok, NULL) marker row, so one aggregate yields both
    # tables and the two unigram broadcasts (ua/ub) plus the pair side all
    # read ONE reused shuffle exchange — the corpus is exploded exactly once.
    marker_arr = F.transform(
        "t",
        lambda x: F.struct(
            x.alias("tok_a"), F.lit(None).cast("string").alias("tok_b")
        ),
    )
    agg = (
        toks.select(F.explode(F.concat(pair_arr, marker_arr)).alias("p"))
        .groupBy(F.col("p.tok_a").alias("tok_a"), F.col("p.tok_b").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = agg.filter(F.col("tok_b").isNotNull()).withColumnRenamed("n", "n_pair")
    uni = agg.filter(F.col("tok_b").isNull()).select(
        F.col("tok_a").alias("tok"), F.col("n").alias("n_tok")
    )
    # Corpus totals in closed form from document lengths — one narrow scan,
    # never a second pass over the exploded positions or the pair counts:
    # n_total = Σ len; a doc of length L emits Σᵢ min(w, L-1-i) pairs, i.e.
    # w·L − w(w+1)/2 when L > w, else L(L−1)/2. (The oracle keeps its SUM
    # formulation — identical value.)
    length = F.size("t").cast("double")
    w = float(PMI_WINDOW)
    pair_cnt = F.when(
        length > w, length * w - F.lit(w * (w + 1) / 2.0)
    ).otherwise(length * (length - 1) / 2.0)
    totals = toks.agg(
        F.sum(length).alias("n_total"), F.sum(pair_cnt).alias("n_pairs")
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("n_tok").alias("n_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("n_tok").alias("n_b"))
    lift = (
        F.col("n_pair").cast("double")
        * F.col("n_total")
        * F.col("n_total")
        / F.col("n_pairs")
        / F.col("n_a").cast("double")
        / F.col("n_b").cast("double")
    )
    return (
        pairs.join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .join(F.broadcast(totals))
        .select("tok_a", "tok_b", "n_pair", lift.alias("lift"))
        .orderBy(F.desc("n_pair"), "tok_a", "tok_b")
        .limit(PMI_TOP)
    )


# ---------------------------------------------------------------------------
# X28: n-gram novelty — what fraction of each document's shingles is FIRST
# seen in that document (scanning in doc_id order)? The incremental-crawl
# curation signal: a new snapshot whose documents are mostly old shingles
# adds little; per-document novelty ranks what to keep. Exact and
# engine-portable (counts and one IEEE division).
# ---------------------------------------------------------------------------

NGRAM_NOVELTY_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc, unnest(list_distinct({_SQL_SHINGLES3})) AS shingle
  FROM (SELECT doc_id AS doc, {_SQL_TOKENS} AS t FROM documents)
), first AS (
  SELECT shingle, MIN(doc) AS first_doc FROM sh GROUP BY shingle
)
SELECT doc,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN first_doc = doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN first_doc = doc THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM sh JOIN first USING (shingle)
GROUP BY doc
"""


@query("x_ngram_novelty", oracle=NGRAM_NOVELTY_SQL, tags=("ext", "text", "dedup"))
def x_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28: per-document 3-gram novelty — the fraction of a document's
    distinct shingles whose FIRST occurrence (min doc_id over the corpus)
    is this document.

    Scale shape: (doc, shingle) postings are already distinct from the
    per-doc array_distinct — no corpus-wide distinct shuffle; the
    first-occurrence table is ONE groupBy on shingle; joining it back is
    equi on the same shingle key; the per-doc rollup is one more shuffle
    on doc. Two shuffle keys total (shingle, doc), no self-join, no window
    over the whole corpus — at 100 TB the shingle dictionary shuffle is
    the cost, exactly as for x_ngram_counts. The scan is widened past a
    single input split so the interpreted shingle transform uses every
    core (see widen_small_scan); the postings persist because they feed
    both the aggregate and the probe side of the join."""
    from ..tables import widen_small_scan

    t = load_tables(spark, sf_dir)
    sh = (
        widen_small_scan(t["documents"])
        .select(
            F.col("doc_id").alias("doc"),
            F.explode(F.array_distinct(D.shingles(shingle=3))).alias("shingle"),
        )
        .persist()
    )
    first = sh.groupBy("shingle").agg(F.min("doc").alias("first_doc"))
    novel = F.sum((F.col("first_doc") == F.col("doc")).cast("long"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            novel.alias("n_novel"),
            (novel.cast("double") / F.count(F.lit(1)).cast("double")).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# X29: per-source document caps — the anti-boilerplate curation control.
# Crawl corpora are dominated by a few mega-domains; capping each source at
# K deterministically-chosen documents bounds any single domain's share of
# the training mix without a global sort.
# ---------------------------------------------------------------------------

SOURCE_CAP_K = 10

SOURCE_CAP_SQL = f"""
SELECT doc_id, source, rk
FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(concat('cap', CAST(doc_id AS VARCHAR))), doc_id
         ) AS rk
  FROM documents) t
WHERE rk <= {SOURCE_CAP_K}
"""


@query("x_source_cap", oracle=SOURCE_CAP_SQL, tags=("ext", "pipeline", "sampling"))
def x_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X29: keep at most {SOURCE_CAP_K} documents per source, chosen by
    salted-md5 order (deterministic, layout-independent, and unbiased —
    the same engine-portable coin as the split/sample family, so the kept
    set is reproducible across engines and runs).

    Scale shape: one shuffle on source; the rank ≤ K filter plans as
    WindowGroupLimit (plan-asserted), so each partition keeps a K-row
    heap per source during the sort — the shuffle output is bounded by
    K·|sources|, never the corpus. The md5 order key is computed narrowly
    pre-shuffle. This is the standard per-domain cap of a crawl-curation
    pipeline."""
    t = load_tables(spark, sf_dir)
    order_key = F.md5(F.concat(F.lit("cap"), F.col("doc_id").cast("string")))
    w = W.partitionBy("source").orderBy(order_key, "doc_id")
    return (
        t["documents"]
        .select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= SOURCE_CAP_K)
    )


# ---------------------------------------------------------------------------
# X31: mixture rebalancing weights — given per-source token counts, the
# per-source sampling rate that moves the corpus toward a UNIFORM token
# mixture (capped at 1.0: upsampling is a separate epoch-level decision).
# The knob a data-mixture pipeline actually turns before training.
# ---------------------------------------------------------------------------

MIXTURE_SQL = f"""
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total,
         CAST(COUNT(*) AS DOUBLE) AS n_sources
  FROM s
)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / total AS share,
       least(1.0, (total / n_sources) / CAST(n_tokens AS DOUBLE)) AS sampling_rate
FROM s CROSS JOIN tot
"""


@query("x_mixture_weights", oracle=MIXTURE_SQL, tags=("ext", "pipeline", "sampling"))
def x_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X31: per-source token accounting + the sampling rate that equalizes
    the token mixture across sources (rate = uniform-target over actual
    share, capped at 1 — downsample the over-represented, keep the rest).

    Scale shape: ONE hash aggregate on source with map-side partials (the
    token count is a narrow size(split) expression — the text never
    shuffles, only per-source partial sums do); the 1-row totals frame is
    broadcast. Output is |sources| rows. Divisions run in a fixed
    left-associated order on both engines — bit-identical doubles."""
    t = load_tables(spark, sf_dir)
    s = (
        t["documents"]
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(TS.tokens())).alias("n_tokens"),
        )
    )
    tot = s.agg(
        F.sum("n_tokens").cast("double").alias("total"),
        F.count(F.lit(1)).cast("double").alias("n_sources"),
    )
    return s.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("total")).alias("share"),
        F.least(
            F.lit(1.0),
            (F.col("total") / F.col("n_sources")) / F.col("n_tokens").cast("double"),
        ).alias("sampling_rate"),
    )


# ---------------------------------------------------------------------------
# X28: document rarity scoring — the deterministic core of unigram-LM
# perplexity filters. Pipelines score documents by how improbable their
# tokens are under a corpus LM and drop the tails; the geometric-mean
# probability itself needs ln() (libm-specific, excluded from the oracle
# surface like queries/scalars.py's math family), but every signal the
# filter thresholds on is a pure integer/ratio statistic of corpus term
# frequencies — computed exactly here.
# ---------------------------------------------------------------------------

DOC_RARITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents),
freq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM toks GROUP BY token)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(freq) AS BIGINT) AS sum_freq,
       CAST(SUM(freq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_freq,
       CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(MIN(freq) AS BIGINT) AS min_freq
FROM toks JOIN freq USING (token)
GROUP BY doc_id
"""


@query("x_doc_rarity", oracle=DOC_RARITY_SQL, tags=("ext", "quality", "pipeline"))
def x_doc_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28: per-document corpus-frequency statistics — the deterministic
    stand-in for unigram-LM perplexity scoring. Every token's corpus
    frequency joins back onto its occurrences; a document's mean/min
    frequency and hapax count are the signals perplexity filters threshold
    on (rare-token-heavy docs ≈ high perplexity), without the
    libm-dependent ln() that would desynchronize the engines.

    Scale shape: ONE token-count aggregate (map-side combinable — the
    "language model" is just this table), ONE postings equi-join of
    occurrences to frequencies on the token key (linear in corpus tokens,
    same profile as the TF-IDF join), ONE per-doc aggregate. No broadcast
    of the vocabulary is assumed: at 100 TB the vocab is unbounded, so the
    join shuffles both sides on the token key and AQE handles the Zipfian
    skew of the head tokens (or operators/skew.py salts them).

    mean_freq divides two int64-cast doubles — bit-identical IEEE754.
    """
    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id", F.explode(TS.tokens()).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    return (
        toks.join(freq, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("freq").alias("sum_freq"),
            (F.sum("freq").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "mean_freq"
            ),
            F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
            F.min("freq").alias("min_freq"),
        )
    )


BPE_MERGES = 16
BPE_CAP = 5000


def _bpe_merges_oracle(sf_dir: str) -> str:
    """Lazy oracle for x_bpe_merges (round-11 promotion, the x_bpe_encode
    pattern): word frequencies from a DuckDB aggregate, merge rounds from
    the pure-python reference trainer, result emitted as a VALUES table —
    Spark-independent end to end. Takes the compare-time sf_dir so the
    baked merge table always matches the Spark-trained one (ADVICE r11)."""
    import duckdb

    from ..operators.bpe import bpe_merges_from_dict

    con = duckdb.connect()
    try:
        wf = con.execute(
            f"SELECT tok, COUNT(*) AS n FROM ("
            f"  SELECT unnest(string_split({SQL_NORM}, ' ')) AS tok"
            f"  FROM read_parquet('{sf_dir}/documents.parquet')"
            f") GROUP BY tok ORDER BY n DESC, tok LIMIT {BPE_CAP}"
        ).fetchall()
    finally:
        con.close()
    merges = bpe_merges_from_dict(wf, BPE_MERGES)
    rows = ", ".join(
        "({0}, '{1}', '{2}', {3})".format(
            r, left.replace("'", "''"), right.replace("'", "''"), cnt
        )
        for r, left, right, cnt in merges
    )
    # left/right are reserved words in DuckDB — quote them (the unquoted
    # pandas column names still come back as left/right for the compare).
    return (
        'SELECT CAST(rank AS INTEGER) AS rank, "left", "right", '
        "CAST(pair_count AS BIGINT) AS pair_count "
        f'FROM (VALUES {rows}) AS t(rank, "left", "right", pair_count) '
        "ORDER BY rank"
    )


@query(
    "x_bpe_merges",
    oracle=_bpe_merges_oracle,
    tags=("ext", "text", "vocab", "iterative"),
)
def x_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16 endpoint: BPE tokenizer induction — the {BPE_MERGES}-row merge
    table a byte-pair tokenizer would ship, trained on the corpus.

    Corpus-scale work is ONE word-count aggregate (explode + partial-agg
    hash aggregate — word-count shaped); the dictionary is capped to the
    top-{BPE_CAP} words via TakeOrdered (bounded heap, no global sort) and
    merge rounds run driver-side on that bounded dict — the IVF-trainer
    split: model fitting on a bounded sample, never an iterative corpus
    pass. Deterministic ties ⇒ stable output. Full oracle since round 11
    (lazy VALUES table: DuckDB word count + the reference python trainer
    — verifies the corpus-scale word-count aggregate and end-to-end
    determinism; the trainer algorithm itself is pinned independently by
    the hand-computed Sennrich case in tests/test_corpusops.py)."""
    from ..operators.bpe import train_bpe

    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(F.explode(TS.tokens()).alias("token"))
    merges = train_bpe(toks, n_merges=BPE_MERGES, cap=BPE_CAP)
    return spark.createDataFrame(
        merges, "rank: int, left: string, right: string, pair_count: long"
    ).orderBy("rank")


def _bpe_encode_oracle(sf_dir: str) -> str:
    """Lazy DuckDB oracle for x_bpe_encode (round-11 promotion from
    rows-only). The merge table is trained INDEPENDENTLY of Spark — word
    frequencies come from a DuckDB aggregate over the compare-time
    sf_dir's documents table and the merge rounds run through the pure-python
    reference implementation (operators/bpe.bpe_merges_from_dict, the same
    function the unit tests replay against) — then the encode chain is
    emitted as literal DuckDB replace() calls mirroring
    encode_token_expr's double-separator trick. Verifies the distributed
    encode pass end-to-end; the trainer itself is pinned separately by
    tests (hand-computed case + python replay)."""
    import duckdb

    from ..operators.bpe import EOW, bpe_merges_from_dict

    con = duckdb.connect()
    try:
        wf = con.execute(
            f"SELECT tok, COUNT(*) AS n FROM ("
            f"  SELECT unnest(string_split({SQL_NORM}, ' ')) AS tok"
            f"  FROM read_parquet('{sf_dir}/documents.parquet')"
            f") GROUP BY tok ORDER BY n DESC, tok LIMIT {BPE_CAP}"
        ).fetchall()
    finally:
        con.close()
    merges = bpe_merges_from_dict(wf, BPE_MERGES)

    def q(s: str) -> str:  # SQL string-literal escape
        return s.replace("'", "''")

    expr = (
        "concat('  ', regexp_replace(tok, '(.)', '\\1  ', 'g'), "
        f"'{q(EOW)}  ')"
    )
    for _, left, right, _ in merges:
        expr = (
            f"replace({expr}, ' {q(left)}  {q(right)} ',"
            f" ' {q(left)}{q(right)} ')"
        )
    return f"""
WITH d AS (
  SELECT doc_id, string_split({SQL_NORM}, ' ') AS t FROM documents
), e AS (
  SELECT doc_id, len(t) AS n_ws,
         flatten(list_transform(t, tok ->
           list_filter(regexp_split_to_array(trim({expr}), ' +'),
                       x -> x <> ''))) AS sym
  FROM d
)
SELECT doc_id,
       CAST(n_ws AS BIGINT) AS n_ws_tokens,
       CAST(len(sym) AS BIGINT) AS n_bpe_tokens,
       md5(array_to_string(sym, ' ')) AS enc_md5
FROM e
"""


@query(
    "x_bpe_encode",
    oracle=_bpe_encode_oracle,
    tags=("ext", "text", "vocab", "iterative"),
)
def x_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16 endpoint, part 2: ENCODE the corpus with the trained BPE merge
    table — per document, the BPE token count next to the whitespace token
    count, plus an md5 over the full symbol stream (keeps the row narrow
    while hashing every symbol).

    The merge table is trained once (see x_bpe_merges: one corpus-scale
    word count + bounded driver rounds) and inlined as LITERALS into the
    encode expression — {BPE_MERGES} chained literal replace()s inside one
    narrow whole-stage-codegen map over the token array (operators/bpe.py
    encode_token_expr, the double-separator trick). The encode pass is
    shuffle-FREE: at 100 TB it is a pure map stage, exactly how you want
    to tokenize a corpus. Full oracle since round 11 (lazy-built: the
    merge table is retrained Spark-independently from a DuckDB word count
    + the reference python BPE, then mirrored as DuckDB replace()
    literals — see _bpe_encode_oracle); encode-vs-python-replay parity is
    pinned in tests/test_corpusops.py."""
    from ..operators.bpe import encode_token_expr, train_bpe

    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(F.explode(TS.tokens()).alias("token"))
    merges = train_bpe(toks, n_merges=BPE_MERGES, cap=BPE_CAP)
    # Encode pass reads the wide variant: the chained replace() encode
    # is per-row compute (guide 2.5 input skew; no-op at cluster scale).
    docs = t["documents_wide"].select("doc_id", TS.tokens().alias("t"))
    sym = F.flatten(
        F.transform("t", lambda tok: encode_token_expr(tok, merges))
    )
    return docs.select(
        "doc_id",
        F.size("t").cast("long").alias("n_ws_tokens"),
        F.size(sym).cast("long").alias("n_bpe_tokens"),
        F.md5(F.concat_ws(" ", sym)).alias("enc_md5"),
    )


# ---------------------------------------------------------------------------
# X74: exact duplicated-span detection — the substring-level dedup signal
# ("Deduplicating Training Data Makes Language Models Better", Lee et al.
# 2022): find every maximal token span that appears (as an exact k-gram run)
# more than once in the corpus. Passage dedup (X19) removes whole duplicate
# chunks; this finds the *boundaries* of repeated material at token
# granularity, intra- and inter-document, so a removal pass can cut
# boilerplate without dropping the unique remainder of a document.
# ---------------------------------------------------------------------------

DUP_SPAN_K = 5

DUP_SPAN_SQL = f"""
WITH d AS (
  SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
), g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(t[i:i+{DUP_SPAN_K - 1}], ' ') AS gram
  FROM d, LATERAL (SELECT unnest(generate_series(1, len(t) - {DUP_SPAN_K - 1})) AS i) s
  WHERE len(t) >= {DUP_SPAN_K}
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2
), p AS (
  SELECT doc_id, pos,
         LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM g JOIN dup USING (gram)
), isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > {DUP_SPAN_K} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM p
)
SELECT doc_id,
       MIN(pos) AS span_start,
       MAX(pos) + {DUP_SPAN_K - 1} AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM isl
GROUP BY doc_id, island
"""


@query("x_dup_span_detect", oracle=DUP_SPAN_SQL, tags=("ext", "dedup", "text"))
def x_dup_span_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X74: maximal duplicated token spans. A position p carries the 5-gram
    tokens[p..p+4]; a gram is duplicated when it occurs >= 2 times anywhere
    in the corpus; overlapping/adjacent duplicated positions of one document
    (gap <= 5) merge into one maximal span [span_start, span_end] (1-based,
    inclusive), with the contributing gram count.

    Scale shape: gram postings are built NARROW (transform + posexplode —
    no shuffle); duplicated grams come from ONE partial-aggregated groupBy
    on gram (map-side combine collapses each document's repeated boilerplate
    before the exchange); membership is a LEFT SEMI join on the same gram
    key (AQE skew-join splits any mega-hot gram); span assembly is one
    doc-keyed window plus the (doc, island) rollup. No self-join and no
    corpus-wide sort anywhere — the gram-dictionary shuffle is the cost,
    the same bound as x_ngram_counts/x_ngram_novelty. The postings persist
    because they feed both the duplicate census and the probe side."""
    from ..tables import widen_small_scan

    t = load_tables(spark, sf_dir)
    k = DUP_SPAN_K
    n = F.size(TS.tokens())
    # Tokens bound once outside the per-gram lambda (see TS.bind_once):
    # inside it, every document was re-tokenized once per gram.
    grams = TS.bind_once(
        TS.tokens(),
        lambda toks: F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    )
    g = (
        widen_small_scan(t["documents"])
        .filter(n >= k)
        .select("doc_id", F.posexplode(grams).alias("pos0", "gram"))
        .select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "gram")
        .persist()
    )
    dup = g.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt")).filter("cnt >= 2")
    hits = g.join(dup.select("gram"), "gram", "left_semi")
    wd = W.partitionBy("doc_id").orderBy("pos")
    marked = hits.withColumn("prev", F.lag("pos").over(wd)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > k), 1
            ).otherwise(0)
        ).over(wd),
    )
    return (
        marked.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


# ---------------------------------------------------------------------------
# X77: DSIR-style importance resampling — hashed-unigram likelihood-ratio
# scoring of every document against a target domain, keep the top-K.
# ---------------------------------------------------------------------------

_DSIR_B = 64      # hashed feature buckets
_DSIR_K = 200     # documents kept
# portable bucket: first 8 md5 hex chars as int, mod B (same md5-int trick
# the split/minhash oracles use — DuckDB replays it bit-exactly)
_SQL_DSIR_BUCKET = (
    "CAST(CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT)"
    f" % {_DSIR_B} AS BIGINT)"
)

IMPORTANCE_RESAMPLE_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split({SQL_NORM}, ' ')) AS token
  FROM documents
), tk AS (
  SELECT doc_id, lang, {_SQL_DSIR_BUCKET} AS b
  FROM tok WHERE token <> ''
), cs AS (
  SELECT b, COUNT(*) AS c FROM tk GROUP BY b
), ct AS (
  SELECT b, COUNT(*) AS c FROM tk WHERE lang = 'en' GROUP BY b
), tot AS (
  SELECT (SELECT COUNT(*) FROM tk) AS ts,
         (SELECT COUNT(*) FROM tk WHERE lang = 'en') AS tt
), w AS (
  SELECT cs.b,
         CAST(round(CAST((coalesce(ct.c, 0) + 1) * (tot.ts + {_DSIR_B}) AS DOUBLE)
                    / CAST((cs.c + 1) * (tot.tt + {_DSIR_B}) AS DOUBLE)
                    * 1000) AS BIGINT) AS r
  FROM cs LEFT JOIN ct USING (b) CROSS JOIN tot
), dscore AS (
  SELECT dc.doc_id, CAST(SUM(dc.cnt * w.r) AS BIGINT) AS score
  FROM (SELECT doc_id, b, COUNT(*) AS cnt FROM tk GROUP BY doc_id, b) dc
  JOIN w USING (b)
  GROUP BY dc.doc_id
)
SELECT doc_id, score FROM dscore ORDER BY score DESC, doc_id LIMIT {_DSIR_K}
"""


@query(
    "x_importance_resample",
    oracle=IMPORTANCE_RESAMPLE_SQL,
    tags=("ext", "corpus", "sampling"),
)
def x_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X77: DSIR-style importance resampling (Xie et al.'s data-selection
    recipe, reduced to its engine shape): score every document by hashed-
    unigram likelihood ratio against a target domain (here lang='en' as
    the in-domain corpus, the whole table as background), keep the top-K.

    Exactness over log-weights: DSIR sums per-feature LOG ratios; this
    query uses integer-quantized RAW ratios (round(1000·p_t/p_s) per
    bucket, add-one smoothed) so every per-document score is an exact
    BIGINT — the one division is exact-int / exact-int, which IEEE754
    rounds identically on both engines, making the query fully
    hash-checkable. Same monotone per-bucket evidence, documented
    aggregation divergence from the paper. At real scale swap the weight
    expression for log ratios and a threshold — the PLAN is unchanged.

    Plan: one token explode → two bucket censuses (B=64 rows — the weight
    table is broadcast), one (doc, bucket) count shuffle, one doc-score
    aggregate riding the same key, TakeOrdered(K) for the keep set (never
    a single-partition window). The per-doc score shuffle carries ≤B rows
    per document."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    tk = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.split(TS.normalized(), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5("token"), 1, 8), 16, 10)
                .cast("long") % _DSIR_B
            ).alias("b"),
        )
        .persist()
    )
    cs = tk.groupBy("b").agg(F.count(F.lit(1)).alias("cs"))
    ct = tk.filter(F.col("lang") == "en").groupBy("b").agg(
        F.count(F.lit(1)).alias("ct")
    )
    tot = tk.agg(
        F.count(F.lit(1)).alias("ts"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("tt"),
    )
    w = (
        cs.join(ct, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                ((F.coalesce(F.col("ct"), F.lit(0)) + 1)
                 * (F.col("ts") + _DSIR_B)).cast("double")
                / ((F.col("cs") + 1) * (F.col("tt") + _DSIR_B)).cast("double")
                * 1000
            ).cast("long").alias("r"),
        )
    )
    dc = tk.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("cnt"))
    score = (
        dc.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("r")).alias("score"))
    )
    return score.orderBy(F.desc("score"), "doc_id").limit(_DSIR_K)


# ---------------------------------------------------------------------------
# X87: data-recipe materialization — integer per-document epoch counts that
# realize a UNIFORM per-source token mixture (the upsampling complement of
# x_mixture_weights' capped-at-1 downsampling rates). What a training-data
# pipeline actually executes after the mixture is chosen: each document
# repeats floor(target/T_s) times, and a hash-ordered prefix of the source
# gets one extra copy until the token remainder is covered (ceil to a
# document boundary).
# ---------------------------------------------------------------------------

RECIPE_EPOCHS_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents),
s AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
  FROM d GROUP BY source),
tgt AS (
  SELECT source, src_tokens,
         CAST(SUM(src_tokens) OVER () AS BIGINT) AS grand,
         CAST(ROW_NUMBER() OVER (ORDER BY source) AS BIGINT) AS rk,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_sources
  FROM s),
t AS (
  SELECT source, src_tokens,
         grand // n_sources
           + CASE WHEN rk <= grand % n_sources THEN 1 ELSE 0 END AS target
  FROM tgt),
c AS (
  SELECT d.doc_id, d.source, d.n_tokens,
         t.target // t.src_tokens AS base,
         t.target % t.src_tokens AS rem,
         CAST(COALESCE(SUM(d.n_tokens) OVER (
           PARTITION BY d.source ORDER BY d.h, d.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before
  FROM d JOIN t ON t.source = d.source)
SELECT doc_id, source, n_tokens,
       CAST(base + CASE WHEN cum_before < rem THEN 1 ELSE 0 END AS BIGINT)
         AS n_copies
FROM c
"""


@query(
    "x_recipe_epochs",
    oracle=RECIPE_EPOCHS_SQL,
    tags=("ext", "pipeline", "sampling"),
)
def x_recipe_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X87: materialize a data recipe into per-document integer epoch
    counts. Target = a uniform per-source token budget (grand total split
    across sources, remainder to the lexicographically-first sources);
    every document of a source repeats ``target div T_s`` times and a
    DETERMINISTIC hash-ordered prefix (md5(doc_id) order — stable across
    runs, engines, and partitionings) takes one extra copy until the
    token remainder is covered, overshooting only to the document
    boundary. Per source: Σ n_copies·n_tokens ∈ [target, target +
    max_doc_tokens) — pinned in tests.

    All-integer arithmetic → trivially bit-stable driver hash. Scale:
    one partial-aggregated hash exchange to the |sources|-row totals
    frame (broadcast back), one hash(source) exchange for the
    cumulative-token window — same two-exchange profile as the other
    per-source corpus ops; the hash order means no global sort, and the
    window never leaves its source partition."""
    d = load_tables(spark, sf_dir)["documents"].select(
        "doc_id",
        "source",
        F.size(TS.tokens("text")).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    s = d.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    wall = W.partitionBy()
    tgt = s.select(
        "source",
        "src_tokens",
        F.sum("src_tokens").over(wall).alias("grand"),
        F.row_number().over(W.orderBy("source")).cast("long").alias("rk"),
        F.count(F.lit(1)).over(wall).alias("n_sources"),
    )
    t = tgt.select(
        "source",
        "src_tokens",
        (
            F.expr("grand div n_sources")
            + F.when(F.col("rk") <= F.col("grand") % F.col("n_sources"), 1)
            .otherwise(0)
        ).alias("target"),
    )
    wc = (
        W.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = d.join(F.broadcast(t), "source").select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr("target div src_tokens").alias("base"),
        (F.col("target") % F.col("src_tokens")).alias("rem"),
        F.coalesce(F.sum("n_tokens").over(wc), F.lit(0)).alias("cum_before"),
    )
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        (
            F.col("base")
            + F.when(F.col("cum_before") < F.col("rem"), 1).otherwise(0)
        ).cast("long").alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# X90: corpus funnel report — the per-source survival narrative every
# training-data pipeline publishes: raw docs/tokens -> after exact dedup
# (corpus-wide canonical = lowest doc_id per content fingerprint, counted
# under the canonical's own source) -> after the Gopher fixed-threshold
# battery (x_gopher_gates' rules inlined). The one-screen answer to "what
# did cleaning cost each source?".
# ---------------------------------------------------------------------------

_STOP_SQL_CF = "['" + "', '".join(TS.LANG_MARKERS["en"]) + "']"

CORPUS_FUNNEL_SQL = f"""
WITH f AS (
  SELECT doc_id, source, md5({SQL_NORM}) AS fp,
         {_SQL_TOKENS} AS toks
  FROM documents),
g AS (
  SELECT doc_id, source, fp,
         CAST(len(toks) AS BIGINT) AS nw,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(toks, t -> CAST(length(t) AS BIGINT))),
              (a, b) -> a + b) AS BIGINT) AS sl,
         CAST(len(list_filter(toks, t -> regexp_full_match(t, '[a-z]+')))
              AS BIGINT) AS na,
         CAST(len(list_intersect(toks, {_STOP_SQL_CF})) AS BIGINT) AS ns,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1 AS canon
  FROM f),
s AS (
  SELECT source, nw, canon,
         (sl >= 3 * nw AND sl <= 10 * nw AND 10 * na >= 8 * nw
          AND ns >= 2 AND nw >= 50 AND nw <= 100000) AS keep
  FROM g)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nw) AS BIGINT) AS tokens_raw,
       CAST(COUNT(CASE WHEN canon THEN 1 END) AS BIGINT) AS n_after_dedup,
       CAST(SUM(CASE WHEN canon THEN nw ELSE 0 END) AS BIGINT)
         AS tokens_after_dedup,
       CAST(COUNT(CASE WHEN canon AND keep THEN 1 END) AS BIGINT)
         AS n_final,
       CAST(SUM(CASE WHEN canon AND keep THEN nw ELSE 0 END) AS BIGINT)
         AS tokens_final
FROM s GROUP BY source
"""


@query("x_corpus_funnel", oracle=CORPUS_FUNNEL_SQL, tags=("ext", "pipeline"))
def x_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X90: per-source corpus funnel — docs and tokens surviving each
    cleaning stage (raw -> exact dedup -> Gopher gates). Canonical pick
    is the lowest doc_id per content fingerprint (x_dedup_exact's rule),
    counted under the canonical's source; the quality stage is
    x_gopher_gates' integer rule battery applied to the dedup survivors.
    All-integer outputs -> bit-stable hash.

    Scale: the per-doc stats are zero-shuffle token-array folds; the
    funnel adds exactly TWO corpus-scale exchanges — the fingerprint
    window (hash(fp), same as exact dedup) and the final per-source
    aggregate (map-side combinable). No joins: the gates are computed
    in the same projection as the fingerprint, so the stages compose in
    one pass."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir)
    toks = TS.tokens("text")
    nw = F.size(toks).cast("long")
    sl = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, tok: a + F.length(tok)
    )
    na = F.size(F.filter(toks, lambda tok: tok.rlike("^[a-z]+$"))).cast(
        "long"
    )
    stop = F.array(*[F.lit(w) for w in TS.LANG_MARKERS["en"]])
    ns = F.size(F.array_intersect(toks, stop)).cast("long")
    base = t["documents"].select(
        "doc_id",
        "source",
        TS.fingerprint().alias("fp"),
        nw.alias("nw"),
        sl.alias("sl"),
        na.alias("na"),
        ns.alias("ns"),
    )
    keep = (
        (F.col("sl") >= 3 * F.col("nw"))
        & (F.col("sl") <= 10 * F.col("nw"))
        & (10 * F.col("na") >= 8 * F.col("nw"))
        & (F.col("ns") >= 2)
        & (F.col("nw") >= 50)
        & (F.col("nw") <= 100000)
    )
    canon = F.row_number().over(W.partitionBy("fp").orderBy("doc_id")) == 1
    s = base.select(
        "source", "nw", keep.alias("keep"), canon.alias("canon")
    )
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nw").alias("tokens_raw"),
        F.sum(F.when(F.col("canon"), 1).otherwise(0)).alias("n_after_dedup"),
        F.sum(F.when(F.col("canon"), F.col("nw")).otherwise(0)).alias(
            "tokens_after_dedup"
        ),
        F.sum(F.when(F.col("canon") & F.col("keep"), 1).otherwise(0)).alias(
            "n_final"
        ),
        F.sum(
            F.when(F.col("canon") & F.col("keep"), F.col("nw")).otherwise(0)
        ).alias("tokens_final"),
    )
