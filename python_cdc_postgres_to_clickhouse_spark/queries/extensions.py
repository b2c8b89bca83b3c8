"""Declared LLM-data-pipeline queries (SURVEY.md §2.7) over documents /
embeddings — the driver-checkable face of operators/{dedup,similarity,
textstats}.

MinHash and SimHash are built entirely from the portable md5-int hash
plus arithmetic (permutations / bit votes), so despite being
*approximate dedup algorithms* their outputs are deterministic and
fully oracle-checked — the DuckDB SQL below replays signature
construction, banding/blocking, the candidate join, and verification
bit-for-bit. Only the ANN paths whose randomness lives outside SQL
(numpy-seeded LSH hyperplanes, IVF centroids) remain rows-only; their
accuracy is asserted against exact ground truth in
tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import textstats as TS
from ._exprs import SQL_NORM
from ..registry import query
from ..session import state
from ..tables import load_tables

_SQL_TOKENS = f"string_split({SQL_NORM}, ' ')"
# Engine-portable hash bucket: int(md5(salt||key)[:8]) — mirrors
# operators/sampling.md5_bucket exactly.
_SQL_MD5_INT = "CAST(concat('0x', substr(md5({v}), 1, 8)) AS BIGINT)"



@query(
    "x_dedup_exact",
    oracle=f"""
    SELECT fp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
    FROM (SELECT doc_id, md5({SQL_NORM}) AS fp FROM documents) t
    GROUP BY fp
    """,
    tags=("ext", "dedup"),
)
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: content-fingerprint groups (md5 of normalized text) — one
    shuffle on a 16-byte key regardless of document size."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select("doc_id", TS.fingerprint().alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query(
    "x_text_stats",
    oracle=rf"""
    SELECT doc_id, lang,
           CAST(length(text) AS INTEGER) AS n_chars_text,
           CAST(len(string_split({SQL_NORM}, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER)
             AS n_bpe_tokens,
           CAST(len(regexp_extract_all(text, '[^\w\s]')) AS INTEGER) AS n_punct
    FROM documents
    """,
    tags=("ext", "text"),
)
def x_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: per-document token/char counts (whitespace + BPE-ish regex)."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_text"),
        TS.token_count().alias("n_tokens"),
        TS.bpe_ish_token_count().alias("n_bpe_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), F.lit(0))).alias("n_punct"),
    )


_STOP_SQL = "['" + "', '".join(TS.LANG_MARKERS["en"]) + "']"


@query(
    "x_quality_score",
    oracle=f"""
    SELECT doc_id,
           n_tokens,
           stopword_hits,
           least(1.0, (CAST(n_tokens AS DOUBLE) / 50.0) * 0.5
                      + (CAST(stopword_hits AS DOUBLE) / 4.0) * 0.5) AS quality_score
    FROM (
      SELECT doc_id,
             CAST(len(string_split({SQL_NORM}, ' ')) AS INTEGER) AS n_tokens,
             CAST(len(list_intersect(string_split({SQL_NORM}, ' '), {_STOP_SQL}))
                  AS INTEGER) AS stopword_hits
      FROM documents) t
    """,
    tags=("ext", "text"),
)
def x_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: composite quality score from token count + stopword hits."""
    t = load_tables(spark, sf_dir)
    return TS.quality_features(t["documents"]).select(
        "doc_id", "n_tokens", "stopword_hits", "quality_score"
    )


_SQL_QUALITY = (
    f"least(1.0, (CAST(len(string_split({SQL_NORM}, ' ')) AS DOUBLE) / 50.0) * 0.5"
    f" + (CAST(len(list_intersect(string_split({SQL_NORM}, ' '), {_STOP_SQL}))"
    f" AS DOUBLE) / 4.0) * 0.5)"
)

QUALITY_GATE_SQL = f"""
WITH q AS (
  SELECT doc_id, lang, {_SQL_QUALITY} AS q FROM documents
), hist AS (
  SELECT lang, q, CAST(COUNT(*) AS BIGINT) AS cnt FROM q GROUP BY lang, q
), cum AS (
  SELECT lang, q,
         SUM(cnt) OVER (PARTITION BY lang ORDER BY q) AS cum,
         SUM(cnt) OVER (PARTITION BY lang) AS n
  FROM hist
), med AS (
  SELECT lang, MIN(q) AS med_quality
  FROM cum WHERE cum >= CAST(ceil(0.5*n) AS BIGINT) GROUP BY lang
)
SELECT q.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN q.q >= med.med_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       med.med_quality AS med_quality
FROM q JOIN med ON q.lang = med.lang
GROUP BY q.lang, med.med_quality
"""


@query("x_quality_gate_per_lang", oracle=QUALITY_GATE_SQL, tags=("ext", "pipeline", "text"))
def x_quality_gate_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 follow-through: per-language quality gating — keep documents at
    or above their OWN language's median quality (a fixed global threshold
    under-filters the dominant language and guts the small ones). The
    median is percentile_disc-style element SELECTION — the smallest score
    whose cumulative count reaches ⌈n/2⌉, an actual data point, no
    interpolation arithmetic, engine-exact.

    Scale shape: HISTOGRAM median, not a corpus sort — the quality
    composite has a bounded value domain (two small-int features), so the
    corpus collapses to a (lang, score) histogram via one hash aggregate
    with map-side partials, and the rank-selection window runs over the
    per-lang DISTINCT SCORES (bounded), never corpus rows — a per-lang
    window over raw docs would be one multi-billion-row sort task for the
    dominant language at 100 TB. The |langs|-row median table broadcasts
    back onto the scored docs for the gate count. Output is |langs| rows."""
    t = load_tables(spark, sf_dir)
    from pyspark.sql import Window as W

    q = TS.quality_features(t["documents"]).select(
        "doc_id", "lang", F.col("quality_score").alias("q")
    )
    hist = q.groupBy("lang", "q").agg(F.count(F.lit(1)).alias("cnt"))
    cum = hist.select(
        "lang",
        "q",
        F.sum("cnt").over(W.partitionBy("lang").orderBy("q")).alias("cum"),
        F.sum("cnt").over(W.partitionBy("lang")).alias("n"),
    )
    med = (
        cum.filter(F.col("cum") >= F.ceil(F.lit(0.5) * F.col("n")).cast("long"))
        .groupBy("lang")
        .agg(F.min("q").alias("med_quality"))
    )
    return (
        q.join(F.broadcast(med), "lang")
        .groupBy("lang", "med_quality")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("q") >= F.col("med_quality")).cast("long")).alias("n_kept"),
        )
        .select("lang", "n_docs", "n_kept", "med_quality")
    )


def _lang_id_sql() -> str:
    """DuckDB oracle generated from the SAME marker vocabularies the Spark
    heuristic uses (no drift possible). Tie-break mirrors Spark's
    ``array_max`` over (score, lang) structs: max score, then
    lexicographically greatest language code."""
    scores: dict[str, str] = {}
    for lang, words in TS.LANG_MARKERS.items():
        if lang in TS.UNSPACED_LANGS:
            parts = " + ".join(
                f"CAST(contains({SQL_NORM}, '{w}') AS INTEGER)" for w in words
            )
            scores[lang] = f"({parts})"
        else:
            arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
            scores[lang] = f"len(list_intersect({_SQL_TOKENS}, {arr}))"
    cols = ",\n         ".join(f"{e} AS s_{lang}" for lang, e in scores.items())
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in scores) + ")"
    arms = "\n            ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'"
        for lang in sorted(scores, reverse=True)
    )
    return f"""
WITH s AS (
  SELECT doc_id, lang,
         {cols}
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN {best} = 0 THEN 'und'
            {arms}
       END AS predicted_lang
FROM s
"""


@query("x_lang_id", oracle=_lang_id_sql(), tags=("ext", "text"))
def x_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: marker-vocabulary language ID (accuracy vs ground truth on real
    multilingual text asserted in tests/test_textstats.py). Fully
    oracle-checked: the argmax-with-tie-break heuristic is replayed in
    DuckDB from the same marker vocabularies."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id", "lang", TS.predict_lang().alias("predicted_lang")
    )


@query(
    "x_jaccard_near_dup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id AS doc, string_split({SQL_NORM}, ' ') AS t FROM documents
    ), tok AS (
      SELECT DISTINCT doc,
             unnest(list_transform(generate_series(1, greatest(len(t)-2, 1)),
                                   i -> array_to_string(t[i:i+2], ' '))) AS token
      FROM toks
    ), sizes AS (
      SELECT doc, COUNT(*) AS n_tok FROM tok GROUP BY doc
    ), inter AS (
      SELECT ta.doc AS a, tb.doc AS b, COUNT(*) AS n_common
      FROM tok ta JOIN tok tb ON ta.token = tb.token AND ta.doc < tb.doc
      GROUP BY ta.doc, tb.doc
    )
    SELECT a, b, n_common, sa.n_tok AS n_a, sb.n_tok AS n_b,
           CAST(n_common AS DOUBLE) / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE)
             AS jaccard
    FROM inter
      JOIN sizes sa ON sa.doc = a
      JOIN sizes sb ON sb.doc = b
    WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE) >= 0.6
    """,
    tags=("ext", "dedup"),
)
def x_jaccard_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: complete 3-gram-shingle Jaccard near-dup pairs (postings join)
    — the exact ground truth the MinHash path approximates."""
    t = load_tables(spark, sf_dir)
    return D.jaccard_pairs(t["documents"], threshold=0.6)


_SQL_SHINGLE_HASHES = f"""
toks AS (
  SELECT doc_id AS doc, string_split({SQL_NORM}, ' ') AS t FROM documents
), sh AS (
  SELECT doc, list_transform(generate_series(1, greatest(len(t)-2, 1)),
                             i -> array_to_string(t[i:i+2], ' ')) AS shs
  FROM toks
)"""


def _minhash_sql(n_hashes: int = 16, n_bands: int = 8, threshold: float = 0.6) -> str:
    """Full DuckDB replay of the MinHash+LSH pipeline: md5-int shingle
    hashes → arithmetic permutations → per-band bucket keys → candidate
    self-join → exact-Jaccard verification. Constants imported from
    operators/dedup.py so oracle and engine cannot drift."""
    rpb = n_hashes // n_bands
    a, b, p = D._MH_A, D._MH_B, D.MH_PRIME
    jac = """CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
         / CAST(len(ta.toks) + len(tb.toks)
                - len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)"""
    return f"""
    WITH {_SQL_SHINGLE_HASHES}, hv AS (
      SELECT doc, list_transform(shs,
               s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)) AS h
      FROM sh
    ), sig AS (
      SELECT doc, list_transform(generate_series(1, {n_hashes}),
               i -> list_min(list_transform(h,
                      x -> ({a}*i*x + {b}*i) % {p}))) AS mh
      FROM hv
    ), bands AS (
      SELECT doc, g.band,
             array_to_string(mh[{rpb}*g.band+1:{rpb}*g.band+{rpb}], ',') AS bucket
      FROM sig CROSS JOIN generate_series(0, {n_bands - 1}) g(band)
    ), cand AS (
      SELECT DISTINCT l.doc AS a, r.doc AS b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.bucket = r.bucket AND l.doc < r.doc
    ), st AS (
      SELECT doc, list_distinct(shs) AS toks FROM sh
    )
    SELECT a, b, {jac} AS jaccard
    FROM cand JOIN st ta ON ta.doc = a JOIN st tb ON tb.doc = b
    WHERE {jac} >= {threshold}
    """


@query("x_minhash_near_dup", oracle=_minhash_sql(), tags=("ext", "dedup"))
def x_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: MinHash+LSH near-dup pairs, exact-Jaccard verified. Fully
    oracle-checked: signatures are arithmetic permutations of portable
    md5-int shingle hashes, so DuckDB replays the entire approximate
    pipeline (banding, candidate join, verification) bit-for-bit. Recall
    vs x_jaccard_near_dup additionally asserted in tests/test_dedup.py."""
    t = load_tables(spark, sf_dir)
    return D.minhash_near_duplicates(t["documents"], threshold=0.6)


def _simhash_sql(n_bits: int = 16, max_hamming: int = 1) -> str:
    """Full DuckDB replay of SimHash: md5-int token hashes → per-bit ±1
    votes → sign bits → pigeonhole block keys → candidate self-join →
    Hamming filter. Mirrors operators/dedup.simhash_near_duplicates."""
    h = "CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)"
    bits = "\n           + ".join(
        f"(CASE WHEN list_sum(list_transform(t, tok -> CASE WHEN ({h} >> {i}) & 1 = 1"
        f" THEN 1 ELSE -1 END)) > 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {i})"
        for i in range(n_bits)
    )
    n_blocks = max_hamming + 1
    base = n_bits // n_blocks
    parts, offset = [], 0
    for blk in range(n_blocks):
        width = base + (1 if blk < n_bits % n_blocks else 0)
        parts.append(
            f"SELECT doc, sh, {blk} AS half,"
            f" (sh >> {offset}) & {(1 << width) - 1} AS key FROM sig"
        )
        offset += width
    return f"""
    WITH toks AS (
      SELECT doc_id AS doc, string_split({SQL_NORM}, ' ') AS t FROM documents
    ), sig AS (
      SELECT doc,
             {bits} AS sh
      FROM toks
    ), parts AS (
      {" UNION ALL ".join(parts)}
    )
    SELECT DISTINCT l.doc AS a, r.doc AS b,
           CAST(bit_count(xor(l.sh, r.sh)) AS INTEGER) AS hamming
    FROM parts l JOIN parts r
      ON l.half = r.half AND l.key = r.key AND l.doc < r.doc
    WHERE bit_count(xor(l.sh, r.sh)) <= {max_hamming}
    """


@query("x_simhash_near_dup", oracle=_simhash_sql(), tags=("ext", "dedup"))
def x_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: SimHash Hamming-ball near-dup pairs. Radius 1 is the
    discriminative setting on short same-vocabulary documents (true
    near-dups measured at 0-1 bits, background pairs at 2+). Fully
    oracle-checked: token hashes are portable md5-ints, so DuckDB replays
    votes, sign bits, pigeonhole blocking, and the Hamming filter."""
    t = load_tables(spark, sf_dir)
    return D.simhash_near_duplicates(t["documents"], max_hamming=1)


# Shared recursive-CTE chain: Jaccard pairs → undirected edges → transitive
# closure → (vertex, component). Appended-to by x_dedup_clusters and
# x_cluster_canonical so the two oracles cannot drift.
_CLUSTER_CTE = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id AS doc, string_split({SQL_NORM}, ' ') AS t FROM documents
), tok AS (
  SELECT DISTINCT doc,
         unnest(list_transform(generate_series(1, greatest(len(t)-2, 1)),
                               i -> array_to_string(t[i:i+2], ' '))) AS token
  FROM toks
), sizes AS (
  SELECT doc, COUNT(*) AS n_tok FROM tok GROUP BY doc
), inter AS (
  SELECT ta.doc AS a, tb.doc AS b, COUNT(*) AS n_common
  FROM tok ta JOIN tok tb ON ta.token = tb.token AND ta.doc < tb.doc
  GROUP BY ta.doc, tb.doc
), pairs AS (
  SELECT a, b
  FROM inter
    JOIN sizes sa ON sa.doc = a
    JOIN sizes sb ON sb.doc = b
  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE)
        >= 0.6
), edges AS (
  SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs
), reach AS (
  SELECT u AS vertex, u AS lbl FROM edges
  UNION
  SELECT e.v AS vertex, r.lbl FROM reach r JOIN edges e ON e.u = r.vertex
), comp AS (
  SELECT vertex, MIN(lbl) AS component FROM reach GROUP BY vertex
)"""

DEDUP_CLUSTERS_SQL = f"""{_CLUSTER_CTE}
SELECT component,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       MIN(vertex) AS representative
FROM comp GROUP BY component
"""


@query("x_dedup_clusters", oracle=DEDUP_CLUSTERS_SQL, tags=("ext", "dedup", "iterative"))
def x_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 follow-through: near-dup pairs → connected components → one
    representative per cluster. Spark side iterates min-label propagation
    to fixpoint (not single-pass-SQL); the *result* is deterministic given
    the edge set (component id = min vertex id), so the oracle recomputes
    it in DuckDB with a recursive-CTE transitive closure over the same
    Jaccard-pair edges. Union-find ground truth in tests/test_clusters.py."""
    from ..operators.clusters import connected_components

    t = load_tables(spark, sf_dir)
    pairs = D.jaccard_pairs(t["documents"], threshold=0.6)
    comp = connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("vertex").alias("representative"),
        )
        .orderBy("component")
    )


CLUSTER_CANONICAL_SQL = f"""{_CLUSTER_CTE},
qual AS (
  SELECT doc_id,
         least(1.0, (CAST(len(string_split({SQL_NORM}, ' ')) AS DOUBLE) / 50.0) * 0.5
                    + (CAST(len(list_intersect(string_split({SQL_NORM}, ' '),
                                               {_STOP_SQL})) AS DOUBLE) / 4.0) * 0.5)
           AS q
  FROM documents
), ranked AS (
  SELECT component, vertex, q,
         ROW_NUMBER() OVER (PARTITION BY component ORDER BY q DESC, vertex ASC) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
  FROM comp JOIN qual ON vertex = doc_id
)
SELECT component, cluster_size, vertex AS canonical, q AS canonical_score
FROM ranked WHERE rn = 1
"""


@query(
    "x_cluster_canonical",
    oracle=CLUSTER_CANONICAL_SQL,
    tags=("ext", "dedup", "iterative"),
)
def x_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 keep/drop stage: near-dup clusters → the member each cluster
    KEEPS, chosen by quality score (ties → min doc_id) rather than min id —
    the canonical-selection decision a production dedup pipeline actually
    ships (keep the best copy, drop cluster_size-1 others).

    Scale shape: the clustered-vertex set is a small fraction of the
    corpus, so the (vertex, component) frame joins the per-doc quality
    features on doc_id and shuffles only clustered docs, never the
    corpus. The per-cluster argmax is a min-STRUCT hash aggregate
    ((-q, vertex) — IEEE negation is exact, so the score round-trips
    bit-identically), NOT a window: partial aggregation keeps one
    candidate row per partition, so a pathological giant cluster (site
    boilerplate) never becomes a single sort task. Quality is the same
    deterministic token/stopword composite x_quality_score oracle-checks;
    the component closure is the same edge set x_dedup_clusters
    oracle-checks (shared CTE, no drift); the oracle keeps its window
    formulation — equivalent result, and the oracle only runs at test
    scale."""
    from ..operators.clusters import connected_components

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    pairs = D.jaccard_pairs(docs, threshold=0.6)
    comp = connected_components(pairs)
    qual = TS.quality_features(docs).select(
        F.col("doc_id").alias("vertex"), F.col("quality_score").alias("q")
    )
    member = comp.join(qual, "vertex")
    best = member.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min(
            F.struct((-F.col("q")).alias("nq"), F.col("vertex").alias("v"))
        ).alias("b"),
    )
    return best.select(
        "component",
        "cluster_size",
        F.col("b.v").alias("canonical"),
        (-F.col("b.nq")).alias("canonical_score"),
    )


COSINE_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id % 25 = 0
), c AS (
  SELECT vec_id AS neighbor_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_inner_product(q.v, c.v)
           / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v)))
           AS sim
  FROM q, c WHERE q.query_id <> c.neighbor_id
)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= 5
"""


@query("x_cosine_topk", oracle=COSINE_TOPK_SQL, tags=("ext", "similarity"))
def x_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: exact brute-force cosine top-5 for a query subset. Dot products
    are bit-identical across engines (sequential double fold over float32
    casts), so even the ranking oracle-matches."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    return S.cosine_topk(
        emb.filter(F.col("vec_id") % 25 == 0), emb, k=5
    ).select("query_id", "neighbor_id", "sim", "rank")


EMB_NEAR_DUP_SQL = """
SELECT a.vec_id AS a, b.vec_id AS b,
       list_inner_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                          list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
         / (sqrt(list_inner_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                    list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
            * sqrt(list_inner_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
                                      list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))
         AS cosine
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND list_inner_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                         list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
      / (sqrt(list_inner_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                 list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
         * sqrt(list_inner_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
                                   list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))
      >= 0.4
"""


def _emb_rows(sf_dir: str):
    """(ids, float-widened vectors) straight from parquet via DuckDB —
    the shared loader for the round-12 ANN lazy oracles (one
    implementation, queries/embeddings.py)."""
    from .embeddings import _emb_rows_local

    return _emb_rows_local(sf_dir)


def _float_sql(x: float) -> str:
    """Exact double literal for a DuckDB VALUES row: repr through a
    string cast (bare decimals parse as DECIMAL, whose DOUBLE conversion
    can be 1 ulp off)."""
    return f"CAST('{x!r}' AS DOUBLE)"


def _near_dup_oracle(sf_dir: str) -> str:
    """Lazy VALUES oracle for x_embedding_near_dup (round-12 promotion):
    LSH candidates via the shared lsh_topk_replay (k=50), a<b dedup, the
    pair cosine re-scored with the JVM fold replay, threshold filter —
    the exact pipeline, Spark-free."""
    from .embeddings import _cos_fold

    ids, X = _emb_rows(sf_dir)
    topk = S.lsh_topk_replay(ids, X, ids, X, 50, 4, 8)
    idx = {v: i for i, v in enumerate(ids)}
    pairs = sorted({(q, n) for q, n, _s, _r in topk if q < n})
    rows = []
    for a, b in pairs:
        cos = _cos_fold(X[idx[a]], X[idx[b]])
        if cos >= 0.4:
            rows.append(f"({a}, {b}, {_float_sql(cos)})")
    if not rows:  # tiny/filtered corpora: zero-row oracle, right schema
        return ("SELECT CAST(NULL AS BIGINT) AS a, CAST(NULL AS BIGINT) "
                "AS b, CAST(NULL AS DOUBLE) AS cosine WHERE 1 = 0")
    return (
        "SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, cosine "
        f"FROM (VALUES {', '.join(rows)}) AS t(a, b, cosine) ORDER BY a, b"
    )


@query(
    "x_embedding_near_dup",
    oracle=_near_dup_oracle,
    tags=("ext", "dedup", "similarity"),
)
def x_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (embedding-cosine flavor): semantic near-dup pairs at cosine
    ≥ 0.4 via the scale-safe sign-LSH candidate path (linear shuffle on
    (table,bucket) — no all-pairs crossJoin; plan-asserted in
    tests/test_plans.py). FULL ORACLE since round 12 (the shared-math
    replay device: hyperplanes are seeded constants, bucket/scoring math
    is shared verbatim with the UDFs and batch-boundary independent);
    recall and the exact O(N²) ground truth (EMB_NEAR_DUP_SQL) live in
    tests/test_similarity.py."""
    t = load_tables(spark, sf_dir)
    return S.embedding_near_duplicates(t["embeddings"], threshold=0.4, exact=False)


def _lsh_topk_oracle(sf_dir: str) -> str:
    """Lazy VALUES oracle for x_lsh_cosine_topk (round-12 promotion via
    the shared-math replay device — see operators/similarity.py
    lsh_topk_replay)."""
    ids, X = _emb_rows(sf_dir)
    q_idx = [i for i, v in enumerate(ids) if v % 25 == 0]
    rows = [
        f"({q}, {n}, {_float_sql(s)}, {r})"
        for q, n, s, r in S.lsh_topk_replay(
            [ids[i] for i in q_idx], [X[i] for i in q_idx], ids, X, 5, 4, 8
        )
    ]
    if not rows:  # tiny/filtered corpora: zero-row oracle, right schema
        return ("SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS "
                "BIGINT) AS neighbor_id, CAST(NULL AS DOUBLE) AS sim, "
                "CAST(NULL AS BIGINT) AS rank WHERE 1 = 0")
    return (
        "SELECT CAST(query_id AS BIGINT) AS query_id, "
        "CAST(neighbor_id AS BIGINT) AS neighbor_id, sim, "
        "CAST(rank AS BIGINT) AS rank "
        f"FROM (VALUES {', '.join(rows)}) AS t(query_id, neighbor_id, "
        "sim, rank) ORDER BY query_id, rank"
    )


@query(
    "x_lsh_cosine_topk",
    oracle=_lsh_topk_oracle,
    tags=("ext", "similarity"),
)
def x_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: sign-LSH approximate top-5. FULL ORACLE since round 12 (the
    shared-math replay device); recall vs the exact path asserted in
    tests/test_similarity.py."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    return S.lsh_cosine_topk(
        emb.filter(F.col("vec_id") % 25 == 0), emb, k=5, n_planes=4, n_tables=8
    ).select("query_id", "neighbor_id", "sim", "rank")


# Build-once/query-many: the IVF coarse quantizer is an *index artifact*,
# not part of the query — train it once per corpus and reuse across every
# query batch (in production: persist the (n_centroids × dim) matrix next
# to the corpus). Here: one training per (session, corpus dir), kept in
# the session's state.
def _ivf_centroids_for(emb: DataFrame, sf_dir: str):
    st, key = state(emb.sparkSession), ("ivf_centroids", sf_dir)
    if key not in st:
        # id_col: layout-independent md5 sample rank (round 12) — the
        # trained matrix is a pure function of the rows, which is what
        # lets the oracle retrain it outside Spark.
        st[key] = S.train_ivf_centroids(
            emb, n_centroids=16, seed=42, id_col="vec_id"
        )
    return st[key]


def _ivf_topk_oracle(sf_dir: str) -> str:
    """Lazy VALUES oracle for x_ivf_cosine_topk (round-12 promotion):
    quantizer retrained outside Spark (md5 rank + shared kmeans_fit),
    cells and scoring via the shared math replays."""
    from .embeddings import _quantizer_replay

    ids, X, C, _assign = _quantizer_replay(sf_dir, 16, 42)
    q_idx = [i for i, v in enumerate(ids) if v % 25 == 0]
    rows = [
        f"({q}, {n}, {_float_sql(s)}, {r})"
        for q, n, s, r in S.ivf_topk_replay(
            [ids[i] for i in q_idx], [X[i] for i in q_idx],
            ids, X, 5, 6, C,
        )
    ]
    if not rows:  # tiny/filtered corpora: zero-row oracle, right schema
        return ("SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS "
                "BIGINT) AS neighbor_id, CAST(NULL AS DOUBLE) AS sim, "
                "CAST(NULL AS BIGINT) AS rank WHERE 1 = 0")
    return (
        "SELECT CAST(query_id AS BIGINT) AS query_id, "
        "CAST(neighbor_id AS BIGINT) AS neighbor_id, sim, "
        "CAST(rank AS BIGINT) AS rank "
        f"FROM (VALUES {', '.join(rows)}) AS t(query_id, neighbor_id, "
        "sim, rank) ORDER BY query_id, rank"
    )


@query(
    "x_ivf_cosine_topk",
    oracle=_ivf_topk_oracle,
    tags=("ext", "similarity"),
)
def x_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: IVF (inverted-file) approximate top-5 — the data-adaptive ANN
    path next to sign-LSH (FULL ORACLE since round 12 via the shared-math
    replay device; recall vs the exact path asserted in
    tests/test_similarity.py). Corpus: one GEMM pass to its cell; queries
    probe nprobe cells; candidates via cell equi-join. The quantizer is
    trained once per corpus (one bounded one-pass sample over a
    layout-independent md5 rank, no count()) and passed in — repeat
    executions add no training or extra corpus scan."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    return S.ivf_cosine_topk(
        emb.filter(F.col("vec_id") % 25 == 0), emb,
        k=5, n_centroids=16, nprobe=6,
        centroids=_ivf_centroids_for(emb, sf_dir),
    ).select("query_id", "neighbor_id", "sim", "rank")


CORPUS_PREP_SQL = f"""
WITH canon AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY md5({SQL_NORM}) ORDER BY doc_id) AS rn
    FROM documents) t
  WHERE rn = 1
), q AS (
  SELECT doc_id,
         md5({SQL_NORM}) AS fp,
         CAST(len(string_split({SQL_NORM}, ' ')) AS INTEGER) AS n_tokens,
         CAST(len(list_intersect(string_split({SQL_NORM}, ' '), {_STOP_SQL}))
              AS INTEGER) AS stopword_hits
  FROM canon
)
SELECT doc_id, fp, n_tokens, stopword_hits,
       least(1.0, (CAST(n_tokens AS DOUBLE) / 50.0) * 0.5
                  + (CAST(stopword_hits AS DOUBLE) / 4.0) * 0.5) AS quality_score
FROM q
WHERE least(1.0, (CAST(n_tokens AS DOUBLE) / 50.0) * 0.5
                 + (CAST(stopword_hits AS DOUBLE) / 4.0) * 0.5) >= 0.5
"""


@query("x_corpus_prep", oracle=CORPUS_PREP_SQL, tags=("ext", "pipeline"))
def x_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus prep as ONE declarative plan (X1+X4
    composed): normalize → exact-dedup keeping the canonical (min doc_id)
    copy per content fingerprint → quality-score → filter. The point of a
    Spark-first design: the whole pipeline is a single Catalyst plan
    (window dedup + narrow maps + one filter), so pushdown/pruning/AQE see
    through every stage — no materialization between 'operators'."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir)
    canon = (
        t["documents"]
        .select("doc_id", "text", TS.fingerprint().alias("fp"))
        .withColumn(
            "rn", F.row_number().over(W.partitionBy("fp").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        TS.quality_features(canon)
        .filter(F.col("quality_score") >= 0.5)
        .select("doc_id", "fp", "n_tokens", "stopword_hits", "quality_score")
    )


# ---------------------------------------------------------------------------
# Round-3 EXT additions: deterministic sampling/splits, repetition signals,
# rolling fingerprints, PII scrubbing, sequence packing — the remaining
# pipeline stages between "raw corpus" and "training batches". All six are
# fully oracle-checked (no approximation anywhere in them).
# ---------------------------------------------------------------------------




HASH_SPLIT_SQL = f"""
WITH b AS (
  SELECT CAST({_SQL_MD5_INT.format(v="concat('split', CAST(doc_id AS VARCHAR))")} % 100
              AS INTEGER) AS bucket,
         len({_SQL_TOKENS}) AS n
  FROM documents
)
SELECT CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS sum_tokens
FROM b GROUP BY 1
"""


@query("x_hash_split", oracle=HASH_SPLIT_SQL, tags=("ext", "sampling"))
def x_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment from a salted content
    hash of the key — reproducible under any partitioning/ordering and
    stable as the corpus grows (documents never switch splits). A narrow
    projection: the only shuffle is the 3-group summary below; the split
    column itself costs zero shuffles at 100 TB."""
    from ..operators.sampling import assign_split

    t = load_tables(spark, sf_dir)
    docs = assign_split(t["documents"], "doc_id")
    return docs.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TS.token_count().cast("bigint")).alias("sum_tokens"),
    )


DET_SAMPLE_SQL = f"""
SELECT doc_id, CAST(len({_SQL_TOKENS}) AS INTEGER) AS n_tokens
FROM documents
WHERE {_SQL_MD5_INT.format(v="concat('sample', CAST(doc_id AS VARCHAR))")} % 10000 < 1000
"""


@query("x_det_sample", oracle=DET_SAMPLE_SQL, tags=("ext", "sampling"))
def x_det_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus cut: same rows every run, every engine,
    any layout — unlike seeded DataFrame.sample, which is partition-layout
    dependent. One pushdown-friendly filter; no shuffle."""
    from ..operators.sampling import deterministic_sample

    t = load_tables(spark, sf_dir)
    return deterministic_sample(t["documents"], "doc_id", 0.10).select(
        "doc_id", TS.token_count().alias("n_tokens")
    )


REPETITION_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents
), cnt AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
), agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS INTEGER) AS n_tokens,
         CAST(COUNT(*) AS INTEGER) AS n_distinct_tokens,
         CAST(MAX(c) AS INTEGER) AS top_token_count
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct_tokens, top_token_count,
       CAST(top_token_count AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         AS top_token_fraction,
       CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         AS type_token_ratio
FROM agg
"""


@query("x_repetition_stats", oracle=REPETITION_SQL, tags=("ext", "text"))
def x_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (top-token fraction, type/token
    ratio). Spark side is a zero-shuffle narrow projection — the top-token
    count is a fold over the sorted token array (higher-order functions),
    not the explode→groupBy→groupBy shape that would shuffle the whole
    tokenized corpus twice at 100 TB. The oracle recomputes it relationally
    in DuckDB, so the fold's correctness is hash-checked per document."""
    t = load_tables(spark, sf_dir)
    return TS.repetition_features(t["documents"])


ROLLING_FP_SQL = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(
           CAST(0 AS BIGINT),
           list_transform({_SQL_TOKENS},
                          t -> {_SQL_MD5_INT.format(v="t")})),
         (a, b) -> (a * 31 + b) % 2147483647) AS fingerprint
FROM documents
"""


@query("x_rolling_fingerprint", oracle=ROLLING_FP_SQL, tags=("ext", "text"))
def x_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive Rabin-Karp document fingerprint: left fold
    h = (h*31 + md5_int(token)) mod 2^31-1 over the token stream. Catches
    permuted-token near-misses that a bag-of-words hash can't; the fold
    state is resumable for streaming/chunked corpora. Engine-portable
    because token values come from md5, not engine-internal hashes."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id", TS.rolling_fingerprint().alias("fingerprint")
    )


PII_SCRUB_SQL = r"""
WITH e AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
           AS n_emails,
         regexp_replace(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
           AS no_email
  FROM documents
)
SELECT doc_id, n_emails,
       CAST(len(regexp_extract_all(no_email, '[0-9]+')) AS INTEGER) AS n_numbers,
       regexp_replace(no_email, '[0-9]+', '<NUM>', 'g') AS scrubbed
FROM e
"""


@query("x_pii_scrub", oracle=PII_SCRUB_SQL, tags=("ext", "text"))
def x_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction (emails → <EMAIL>, digit runs → <NUM>) with
    per-document redaction counts. A regexp_replace chain — narrow, no
    Python, RE2-safe patterns so Spark (Java regex) and the oracle (RE2)
    agree byte-for-byte on the scrubbed text."""
    t = load_tables(spark, sf_dir)
    return TS.scrub_pii(t["documents"])


PACKING_BUDGET = 256

PACKING_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens FROM documents
), o AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)
              - n_tokens AS BIGINT) AS start_offset
  FROM t
)
SELECT doc_id, n_tokens, start_offset,
       start_offset // {PACKING_BUDGET} AS bin_first,
       (start_offset + greatest(n_tokens - 1, 0)) // {PACKING_BUDGET} AS bin_last,
       start_offset // {PACKING_BUDGET}
         <> (start_offset + greatest(n_tokens - 1, 0)) // {PACKING_BUDGET}
         AS spans_boundary
FROM o
"""


@query("x_token_packing", oracle=PACKING_SQL, tags=("ext", "pipeline"))
def x_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: each document's global token start
    offset in corpus order and the context-window bins it occupies (budget
    {PACKING_BUDGET} tokens). Spark side is the scalable two-phase prefix
    sum (operators/packing.py): range-repartition → parallel per-partition
    running sums → O(#partitions) base-offset broadcast — never the naive
    single-task Window.orderBy the oracle uses (fine in DuckDB at sf0.01;
    fatal on a cluster at 100 TB)."""
    from ..operators.packing import pack_sequences

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id", TS.token_count().cast("bigint").alias("n_tokens")
    )
    return pack_sequences(docs, budget=PACKING_BUDGET)


EMBEDDING_STATS_SQL = """
WITH n AS (
  SELECT label, vec_id,
         sqrt(list_inner_product(
                list_transform(embedding, x -> CAST(x AS DOUBLE)),
                list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
), agg AS (
  SELECT label, COUNT(*) AS n_vecs,
         MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
  FROM n GROUP BY label
), am AS (
  SELECT label, vec_id AS max_norm_vec_id FROM (
    SELECT label, vec_id,
           ROW_NUMBER() OVER (PARTITION BY label ORDER BY nrm DESC, vec_id) AS rn
    FROM n) t
  WHERE rn = 1
)
SELECT agg.label, n_vecs, min_norm, max_norm, max_norm_vec_id
FROM agg JOIN am ON agg.label = am.label
"""


@query("x_embedding_stats", oracle=EMBEDDING_STATS_SQL, tags=("ext", "similarity"))
def x_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 health check: per-label vector counts, norm range, and the
    extreme (max-norm) vector id — the drift/outlier stats an embedding
    pipeline monitors before indexing. Every output is bit-exact across
    engines: norms are sequential double folds (identical to DuckDB's
    list_inner_product), min/max/count are order-insensitive, and the
    argmax tie-breaks on vec_id. One narrow pass + a two-phase agg on
    label + a WindowGroupLimit argmax — no float summation anywhere."""
    from pyspark.sql import Window as W

    from ..operators.similarity import norm

    t = load_tables(spark, sf_dir)
    n = t["embeddings"].select("label", "vec_id", norm("embedding").alias("nrm"))
    agg = n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
    )
    am = (
        n.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("label").orderBy(F.desc("nrm"), "vec_id")),
        )
        .where(F.col("rn") == 1)
        .select("label", F.col("vec_id").alias("max_norm_vec_id"))
    )
    return agg.join(am, "label")


LEAKAGE_SAFE_SPLIT_SQL = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id AS doc, string_split({SQL_NORM}, ' ') AS t FROM documents
), tok AS (
  SELECT DISTINCT doc,
         unnest(list_transform(generate_series(1, greatest(len(t)-2, 1)),
                               i -> array_to_string(t[i:i+2], ' '))) AS token
  FROM toks
), sizes AS (
  SELECT doc, COUNT(*) AS n_tok FROM tok GROUP BY doc
), inter AS (
  SELECT ta.doc AS a, tb.doc AS b, COUNT(*) AS n_common
  FROM tok ta JOIN tok tb ON ta.token = tb.token AND ta.doc < tb.doc
  GROUP BY ta.doc, tb.doc
), pairs AS (
  SELECT a, b
  FROM inter
    JOIN sizes sa ON sa.doc = a
    JOIN sizes sb ON sb.doc = b
  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE)
        >= 0.6
), edges AS (
  SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs
), reach AS (
  SELECT u AS vertex, u AS lbl FROM edges
  UNION
  SELECT e.v AS vertex, r.lbl FROM reach r JOIN edges e ON e.u = r.vertex
), comp AS (
  SELECT vertex, MIN(lbl) AS component FROM reach GROUP BY vertex
), keyed AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS split_key
  FROM documents d LEFT JOIN comp c ON c.vertex = d.doc_id
)
SELECT doc_id, split_key,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, split_key,
         CAST({_SQL_MD5_INT.format(v="concat('split', CAST(split_key AS VARCHAR))")}
              % 100 AS INTEGER) AS bucket
  FROM keyed) b
"""


@query(
    "x_leakage_safe_split",
    oracle=LEAKAGE_SAFE_SPLIT_SQL,
    tags=("ext", "sampling", "dedup", "iterative"),
)
def x_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe train/val/test assignment: near-duplicate
    documents must never straddle splits (a test document with a training
    near-copy leaks). Split key = the doc's dup-cluster representative
    (connected components over shingle-Jaccard pairs; min doc_id), own id
    for singletons — every cluster member therefore inherits ONE hash
    bucket. At 100 TB the pair edges come from MinHash candidates; the
    exact Jaccard path here is the ground-truth instance of the same
    composition. Oracle: recursive-CTE transitive closure + the same
    salted-md5 bucket, replayed in DuckDB."""
    from ..operators.clusters import connected_components
    from ..operators.sampling import split_column

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    comp = connected_components(D.jaccard_pairs(docs, threshold=0.6))
    return (
        docs.join(comp, docs["doc_id"] == comp["vertex"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("split_key"),
        )
        .select("doc_id", "split_key", split_column("split_key").alias("split"))
    )


FUZZY_PAIRS_SQL = """
SELECT a.p_partkey AS ida, b.p_partkey AS idb,
       CAST(levenshtein(lower(trim(a.p_name)), lower(trim(b.p_name))) AS INTEGER)
         AS distance
FROM part a JOIN part b ON a.p_partkey < b.p_partkey
WHERE abs(length(lower(trim(a.p_name))) - length(lower(trim(b.p_name)))) <= 2
  AND levenshtein(lower(trim(a.p_name)), lower(trim(b.p_name))) <= 2
"""


@query("x_fuzzy_name_pairs", oracle=FUZZY_PAIRS_SQL, tags=("ext", "dedup"))
def x_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X42: entity-resolution fuzzy join — all part-name pairs within
    Levenshtein distance 2. The Spark side blocks with the COMPLETE q-gram
    multiset count filter (operators/fuzzy.py: one edit destroys ≤ q grams,
    so no true pair can be dropped) and verifies with the JVM levenshtein;
    the DuckDB oracle is the strongest kind — an INDEPENDENT brute-force
    O(N²) formulation, so blocking bugs cannot hide in a shared shape.

    Scale: one (gram, occurrence) postings shuffle + candidate count +
    id-keyed verify joins — never the oracle's all-pairs product (the
    global plan sweep asserts no CartesianProduct)."""
    from ..operators.fuzzy import fuzzy_pairs

    t = load_tables(spark, sf_dir)
    out = fuzzy_pairs(t["part"], "p_partkey", "p_name", max_distance=2)
    return out.withColumn("distance", F.col("distance").cast("int"))


TOKEN_DIVERSITY_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS t FROM documents
), cnt AS (
  SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(c) AS INTEGER) AS n_tokens,
       CAST(COUNT(*) AS INTEGER) AS n_distinct_tokens,
       CAST(SUM(c * c) AS BIGINT) AS collision_mass,
       CAST(SUM(c * c) AS DOUBLE) /
           (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)) AS simpson
FROM cnt
GROUP BY doc_id
"""


@query("x_token_diversity", oracle=TOKEN_DIVERSITY_SQL, tags=("ext", "text"))
def x_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-diversity quality signal (round 8): the exact Simpson index
    Σc²/n² per document — the engine-exact stand-in for Shannon-entropy
    gibberish/repetition filters (low diversity = high Σc²/n²; rational
    arithmetic end to end, so the driver hash is bit-stable where a
    log-based entropy column could never be). Spark side is a ZERO-SHUFFLE
    narrow projection: Σc² comes from one fold over the sorted token array
    (operators/textstats.collision_mass), never the explode → double
    groupBy that would shuffle the tokenized corpus; the DuckDB oracle
    recomputes it relationally, hash-checking the fold per document. At
    100 TB this is a pure map stage like the other textstats signals.

    Domain edge (pinned in test_review_fixes): an empty or
    whitespace-only document tokenizes to the SINGLE empty-string token
    on both engines — Spark's split('', ' ') and DuckDB's
    string_split('', ' ') each yield [''], so both sides emit the doc
    with n_tokens = 1, simpson = 1.0; n_tokens is never 0 and the
    domains coincide exactly (every document appears on both sides)."""
    t = load_tables(spark, sf_dir)
    toks = TS.tokens("text")
    n = F.size(toks)
    mass = TS.collision_mass("text")
    return t["documents_wide"].select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        mass.alias("collision_mass"),
        (mass.cast("double") / (n.cast("double") * n.cast("double")))
        .alias("simpson"),
    )


_CHUNK, _CHUNK_OVERLAP = 64, 16
_CHUNK_STRIDE = _CHUNK - _CHUNK_OVERLAP

CHUNK_DOCUMENTS_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks,
         len(string_split({SQL_NORM}, ' ')) AS n_tokens
  FROM documents),
s AS (
  SELECT doc_id, n_tokens, u.s AS start,
         CAST((u.s - 1) / {_CHUNK_STRIDE} AS INTEGER) AS chunk_idx
  FROM d, LATERAL (SELECT unnest(generate_series(
      1, GREATEST(n_tokens - {_CHUNK_OVERLAP}, 1), {_CHUNK_STRIDE})) AS s) u)
SELECT s.doc_id, s.chunk_idx, CAST(s.start AS INTEGER) AS start_token,
       CAST(LEAST({_CHUNK}, d.n_tokens - s.start + 1) AS INTEGER)
         AS chunk_tokens,
       array_to_string(d.toks[s.start : s.start + {_CHUNK} - 1], ' ')
         AS chunk_text
FROM s JOIN d ON d.doc_id = s.doc_id
"""


@query("x_chunk_documents", oracle=CHUNK_DOCUMENTS_SQL, tags=("ext", "text"))
def x_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (round 9): split each document into
    fixed-size token chunks (64 tokens, 16-token overlap — the sliding
    stride every context-bounded training/embedding pipeline needs so no
    span is lost at a boundary). The LAST chunk of a document is the
    short remainder; documents shorter than one stride yield exactly one
    chunk.

    Spark side is a pure narrow map: tokenize once, generate the start
    offsets with ``sequence``, slice per start inside one ``transform``
    + ``posexplode`` — zero shuffle, no UDF, output rows carry
    (doc_id, chunk_idx, start_token, chunk_tokens, chunk_text). At
    100 TB this is the same map-only shape as the other textstats
    passes; downstream repartitioning is the consumer's choice. The
    DuckDB oracle recomputes the chunking relationally
    (generate_series + array slicing)."""
    t = load_tables(spark, sf_dir)
    toks = TS.tokens("text")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.col("n_tokens") - F.lit(_CHUNK_OVERLAP), F.lit(1)),
        F.lit(_CHUNK_STRIDE),
    )
    chunk = lambda s: F.struct(
        s.alias("start"),
        F.size(F.slice(F.col("toks"), s, F.lit(_CHUNK))).alias("n"),
        F.concat_ws(" ", F.slice(F.col("toks"), s, F.lit(_CHUNK)))
        .alias("txt"),
    )
    return (
        t["documents_wide"]
        .select("doc_id", toks.alias("toks"), F.size(toks).alias("n_tokens"))
        .select("doc_id", F.posexplode(F.transform(starts, chunk)))
        .select(
            "doc_id",
            F.col("pos").alias("chunk_idx"),
            F.col("col.start").alias("start_token"),
            F.col("col.n").alias("chunk_tokens"),
            F.col("col.txt").alias("chunk_text"),
        )
    )


_LQS_BUCKETS, _LQS_MOD, _LQS_SHIFT, _LQS_MULT = 4096, 1997, 998, 2654435761

LINEAR_QUALITY_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split({SQL_NORM}, ' ')) AS tk
  FROM documents),
wt AS (
  SELECT doc_id,
         (CAST(concat('0x', substr(md5('lqs' || tk), 1, 8)) AS BIGINT)
            % {_LQS_BUCKETS}) * {_LQS_MULT} % {_LQS_MOD} - {_LQS_SHIFT} AS w
  FROM tok)
SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_tokens,
       CAST(SUM(w) AS BIGINT) AS weight_sum,
       CAST(SUM(w) AS DOUBLE) / COUNT(*) AS score
FROM wt GROUP BY doc_id
"""


@query("x_linear_quality_score", oracle=LINEAR_QUALITY_SQL,
       tags=("ext", "text"))
def x_linear_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear text scorer (round 9): the execution shape of
    fastText-style model-based quality filtering — every token hashes
    into one of 4096 feature buckets, each bucket carries a fixed integer
    weight, and the document score is the mean token weight. The weight
    table here is a deterministic arithmetic function of the bucket id
    (w = bucket·2654435761 mod 1997 − 998) so the driver oracle can
    recompute it; swapping in trained weights is a broadcast of a
    4096-row map — the plan shape does not change.

    Spark side is ZERO-SHUFFLE: one ``aggregate`` fold over the token
    array sums the weights inside a single codegen projection (md5-bucket
    arithmetic is the engine-portable hash used across the sampling
    operators) — no explode, no groupBy, no UDF; integer sums make the
    hash bit-stable and only the final mean is a double. At 100 TB this
    is the ideal model-scoring shape: a pure map pass whose cost is one
    md5 per token."""
    t = load_tables(spark, sf_dir)
    toks = TS.tokens("text")

    def w(tok):
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit("lqs"), tok)), 1, 8), 16, 10
        ).cast("bigint")
        return (
            (h % F.lit(_LQS_BUCKETS)) * F.lit(_LQS_MULT)
        ) % F.lit(_LQS_MOD) - F.lit(_LQS_SHIFT)

    n = F.size(toks)
    raw = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, tok: acc + w(tok)
    )
    return t["documents_wide"].select(
        "doc_id",
        n.alias("n_tokens"),
        raw.alias("weight_sum"),
        (raw.cast("double") / n.cast("double")).alias("score"),
    )


GOPHER_GATES_SQL = f"""
WITH f AS (
  SELECT doc_id, text, {_SQL_TOKENS} AS toks FROM documents),
g AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list_transform(toks, t -> CAST(length(t) AS BIGINT))),
           (a, b) -> a + b) AS BIGINT) AS sum_word_len,
         CAST(len(list_filter(toks, t -> regexp_full_match(t, '[a-z]+')))
              AS BIGINT) AS n_alpha_words,
         CAST(len(list_intersect(toks, {_STOP_SQL})) AS BIGINT) AS n_stop_hits,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
           AS n_hash,
         CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT)
           AS n_ellipsis
  FROM f)
SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_stop_hits, n_hash,
       n_ellipsis,
       (sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words)
         AS gate_word_len,
       (10 * n_alpha_words >= 8 * n_words) AS gate_alpha,
       (10 * n_hash <= n_words AND 10 * n_ellipsis <= n_words)
         AS gate_symbols,
       (n_stop_hits >= 2) AS gate_stopwords,
       (n_words >= 50 AND n_words <= 100000) AS gate_length,
       (sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words
        AND 10 * n_alpha_words >= 8 * n_words
        AND 10 * n_hash <= n_words AND 10 * n_ellipsis <= n_words
        AND n_stop_hits >= 2
        AND n_words >= 50 AND n_words <= 100000) AS keep
FROM g
"""


@query("x_gopher_gates", oracle=GOPHER_GATES_SQL, tags=("ext", "text"))
def x_gopher_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule battery (Rae et al. 2021 §A1.1, the
    standard pre-training document filter): per document, the raw counts
    each rule reads plus the named boolean gates —

    - gate_word_len: mean word length in [3, 10]
    - gate_alpha: >= 80% of words are purely alphabetic
    - gate_symbols: '#' and '...' symbol-to-word ratios <= 0.1
    - gate_stopwords: >= 2 distinct common-word hits
    - gate_length: 50 <= n_words <= 100k
    - keep: AND of all gates

    Every rule is evaluated on INTEGERS via cross-multiplication (mean
    length in [3,10] becomes 3n <= Σlen <= 10n; ratios become 10·count
    <= n) — no doubles anywhere, so the driver hash is trivially
    bit-stable. Complements x_repetition_stats (Gopher's repetition
    signals) and x_quality_gate_per_lang (adaptive thresholds): this is
    the FIXED-threshold battery.

    Scale: zero-shuffle narrow projection — Σlen and the alpha count are
    folds over the token array (one pass each), never the explode →
    groupBy shape that would shuffle the tokenized corpus. Pure map at
    100 TB."""
    t = load_tables(spark, sf_dir)
    toks = TS.tokens("text")
    n = F.size(toks).cast("long")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, tok: a + F.length(tok)
    )
    n_alpha = F.size(F.filter(toks, lambda tok: tok.rlike("^[a-z]+$"))).cast(
        "long"
    )
    stop = F.array(*[F.lit(w) for w in TS.LANG_MARKERS["en"]])
    n_stop = F.size(F.array_intersect(toks, stop)).cast("long")
    n_hash = (
        F.length("text") - F.length(F.regexp_replace("text", "#", ""))
    ).cast("long")
    n_ellipsis = F.size(
        F.regexp_extract_all("text", F.lit(r"\.\.\."), F.lit(0))
    ).cast("long")
    d = (
        t["documents_wide"]
        .select("doc_id", "text")
        .select(
            "doc_id",
            n.alias("n_words"),
            sum_len.alias("sum_word_len"),
            n_alpha.alias("n_alpha_words"),
            n_stop.alias("n_stop_hits"),
            n_hash.alias("n_hash"),
            n_ellipsis.alias("n_ellipsis"),
        )
    )
    g_word_len = (F.col("sum_word_len") >= 3 * F.col("n_words")) & (
        F.col("sum_word_len") <= 10 * F.col("n_words")
    )
    g_alpha = 10 * F.col("n_alpha_words") >= 8 * F.col("n_words")
    g_symbols = (10 * F.col("n_hash") <= F.col("n_words")) & (
        10 * F.col("n_ellipsis") <= F.col("n_words")
    )
    g_stop = F.col("n_stop_hits") >= 2
    g_len = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    return d.select(
        "*",
        g_word_len.alias("gate_word_len"),
        g_alpha.alias("gate_alpha"),
        g_symbols.alias("gate_symbols"),
        g_stop.alias("gate_stopwords"),
        g_len.alias("gate_length"),
        (g_word_len & g_alpha & g_symbols & g_stop & g_len).alias("keep"),
    )
