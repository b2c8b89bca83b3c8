"""Document deduplication (SURVEY.md §2.7 X1/X2): exact, exact-Jaccard via
token postings, MinHash+LSH, SimHash.

Scale ladder (the 100 TB story):
1. **Exact** — hash-groupBy on a content fingerprint: one shuffle on a
   16-byte key, keep min doc_id per group.
2. **Exact Jaccard** — token-postings self-join: explode to (token, doc),
   join on token, count co-occurrences, J = |∩|/(|A|+|B|−|∩|). Complete for
   all pairs with J>0; cost is Σ postings² per token, so hot tokens are
   capped (df-style stopword cut) exactly like production near-dup systems.
3. **MinHash+LSH** — constant-size signature per doc (min over shingle
   hashes for h seeded hash functions), banded into b buckets; only
   same-band-bucket pairs become candidates → linear shuffle, no quadratic
   term. Approximate: recall tuned by (h, b); verified candidates re-check
   exact Jaccard so precision is 1.
4. **SimHash** — 64-bit signed-bit-aggregate fingerprint; near-dups are
   pairs within a small Hamming distance. One pass, bucket by band for
   candidate generation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..tables import widen_small_scan
from .textstats import (
    bind_once,
    fingerprint,
    portable_hash32,
    rolling_hashes,
    shingles,
    token_hash_values,
)


# ---------------------------------------------------------------------------
# X1: exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (post-normalization) documents."""
    w = W.partitionBy("fp").orderBy(id_col)
    return (
        docs.withColumn("fp", fingerprint())
        .withColumn("canonical_id", F.min(id_col).over(W.partitionBy("fp")))
        .withColumn("rn", F.row_number().over(w))
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per content fingerprint."""
    return (
        exact_duplicates(docs, id_col).filter(F.col("rn") == 1).drop("rn", "canonical_id")
    )


# ---------------------------------------------------------------------------
# X2a: exact Jaccard near-dup via token postings (complete, scalable-ish)
# ---------------------------------------------------------------------------


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    shingle: int = 3,
    max_token_df: int | None = None,
    strategy: str = "postings",
) -> DataFrame:
    """All document pairs (a<b) with shingle-set Jaccard ≥ threshold —
    EXACT under either strategy (result-equality is test-asserted).

    ``strategy="postings"`` (default): inverted-index self-join with a
    df ≥ 2 prefilter. Join volume is Σ df² over shingles — optimal when
    document frequency is bounded (measured 35% faster than prefix on the
    fixture corpus, whose df is uniform ≈10), quadratic-explosive when a
    few boilerplate shingles have huge df.

    ``strategy="prefix"``: prefix filtering (Bayardo et al., "Scaling Up
    All Pairs Similarity Search", WWW'07 — the PPJoin candidate scheme).
    Orders every shingle set by one global (df asc, shingle) order and
    joins only each set's first n - ⌈t·n⌉ + 1 shingles, then verifies
    survivors exactly. Candidate volume falls to Σ df_prefix² with hot
    shingles pushed out of prefixes — the skew-robust choice for
    boilerplate-heavy corpora where the postings join blows up.

    Pick per corpus df-skew; both are exact, so the choice is purely a
    physical-plan decision. (At 100 TB neither is the first tool —
    MinHash-LSH generates candidates and Jaccard verifies — but when the
    task IS exhaustive exact pairs, "prefix" is the one that survives
    heavy-tailed df.)

    ``max_token_df`` drops shingles appearing in more than that many docs
    from the shingle universe (pair similarity at that df rests on
    boilerplate). None = complete.
    """
    if strategy not in ("postings", "prefix"):
        raise ValueError(f"unknown strategy {strategy!r}")
    docs = widen_small_scan(docs)
    arrs = docs.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(shingles(shingle=shingle)).alias("shs"),
    )
    # explode_outer + isNotNull, not explode: from explode(shs) Catalyst's
    # InferFiltersFromGenerate adds `size(shs) > 0`, and that filter is
    # pushed below widen_small_scan's round-robin exchange — the whole
    # shingle fold then runs once more in the single scan task. An outer
    # explode infers nothing; shingle strings are never null, so the
    # filter keeps exactly explode's rows.
    posting = arrs.select(
        "doc", F.size("shs").alias("n_tok"), F.explode_outer("shs").alias("token")
    ).filter(F.col("token").isNotNull())
    if max_token_df is not None:
        hot = (
            posting.groupBy("token")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_token_df)
            .select("token")
        )
        posting = posting.select("doc", "token").join(
            F.broadcast(hot), "token", "left_anti"
        )
        # Rebuild arrays without the dropped shingles so sizes and
        # intersections stay mutually consistent.
        arrs = posting.groupBy("doc").agg(
            F.array_sort(F.collect_list("token")).alias("shs")
        )
        posting = arrs.select(
            "doc", F.size("shs").alias("n_tok"), F.explode("shs").alias("token")
        )
    if strategy == "prefix":
        return _jaccard_prefix(arrs, posting, threshold)
    return _jaccard_postings(posting, threshold)


def _jaccard_postings(posting: DataFrame, threshold: float) -> DataFrame:
    """Inverted-index self-join. Postings with df=1 cannot appear in any
    intersection — dropped before the join (sizes ride along in the
    postings, so results are unchanged). The postings feed the df
    aggregate and both join sides; persist the one base they share."""
    tok = posting.persist()
    shared = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .select("token")
    )
    tok2 = tok.join(shared, "token")
    a = tok2.select(F.col("doc").alias("a"), "token", F.col("n_tok").alias("n_a"))
    b = tok2.select(F.col("doc").alias("b"), "token", F.col("n_tok").alias("n_b"))
    inter = (
        a.join(b, "token")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "a",
            "b",
            "n_common",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "jaccard",
        )
    )


def _jaccard_prefix(arrs: DataFrame, posting: DataFrame, threshold: float) -> DataFrame:
    """PPJoin-style candidates + exact verification.

    Completeness of the prefix join: for a qualifying pair,
    o = |a∩b| ≥ t·|a∪b| ≥ t·max(|a|,|b|). If the pair's smallest-ordered
    common shingle were outside a's prefix, all o common shingles would
    lie in a's suffix of size ⌈t·|a|⌉ - 1 < o — contradiction; symmetric
    for b. So the smallest common shingle is in BOTH prefixes.

    Plan: the df table joins on the token key its aggregate just shuffled
    on (exchange reuse); the prefix rank is one window on doc; the size
    band (t·|b| ≤ |a| ≤ |b|/t) prunes before the verify join; the verify
    is a hash-set array_intersect over the full arrays.

    Pruning runs in double arithmetic against exact-rational bounds, so it
    must never round STRICTER than the final double ``jaccard >= t``
    filter: t itself may not be representable (0.1·30 rounds to
    3.0000000000000004, dropping a jaccard==0.1 boundary pair the postings
    strategy accepts). A 1e-9 slack on every pruning bound only ever
    admits extra candidates — the exact verify filter removes them."""
    eps = F.lit(1e-9)
    arrs = arrs.persist()
    dftab = posting.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ranked = posting.join(dftab, "token").withColumn(
        "rn", F.row_number().over(W.partitionBy("doc").orderBy("df", "token"))
    )
    prefix_len = (
        F.col("n_tok") - F.ceil(F.col("n_tok") * F.lit(threshold) - eps) + 1
    )
    pref = ranked.filter(F.col("rn") <= prefix_len).select("doc", "token", "n_tok")
    pa = pref.select(F.col("doc").alias("a"), "token", F.col("n_tok").alias("n_a"))
    pb = pref.select(F.col("doc").alias("b"), "token", F.col("n_tok").alias("n_b"))
    cand = (
        pa.join(pb, "token")
        .filter(F.col("a") < F.col("b"))
        .filter(
            (F.col("n_a").cast("double") >= F.lit(threshold) * F.col("n_b") - eps)
            & (F.col("n_b").cast("double") >= F.lit(threshold) * F.col("n_a") - eps)
        )
        .select("a", "b")
        .distinct()
    )
    aa = arrs.select(F.col("doc").alias("a"), F.col("shs").alias("shs_a"))
    bb = arrs.select(F.col("doc").alias("b"), F.col("shs").alias("shs_b"))
    return (
        cand.join(aa, "a")
        .join(bb, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("shs_a", "shs_b")).cast("long").alias("n_common"),
            F.size("shs_a").cast("long").alias("n_a"),
            F.size("shs_b").cast("long").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "n_common", "n_a", "n_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# X2b: MinHash + banded LSH (approximate, linear)
# ---------------------------------------------------------------------------


# Largest 32-bit prime: the permutation modulus. Base shingle hashes are
# md5-ints < 2^32 and multipliers stay < 2^24, so a*h + b < 2^57 — no
# overflow in either engine's BIGINT arithmetic.
MH_PRIME = 4_294_967_291
_MH_A = 1_000_003
_MH_B = 7_654_321


def minhash_permutation(i: int, h: Column) -> Column:
    """i-th universal-family permutation (a_i·h + b_i) mod p over a portable
    md5-int shingle hash — pure arithmetic, so the whole MinHash signature
    is replayable in the DuckDB oracle (no engine-internal hash anywhere)."""
    return (F.lit(_MH_A * (i + 1)) * h + F.lit(_MH_B * (i + 1))) % F.lit(MH_PRIME)


def minhash_signature(n_hashes: int = 16) -> list[Column]:
    """h permuted min-hash values over a shared shingle-hash array column
    named ``_sh`` (portable md5-ints, see ``rolling_hashes``). Arithmetic
    permutations keep everything inside one JVM expression per hash — no
    UDF, no extra pass over the data, and bit-identical replay in SQL."""
    sh = F.col("_sh")
    return [
        F.array_min(F.transform(sh, lambda x: minhash_permutation(i, x))).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]


def minhash_bands(sig: DataFrame, n_hashes: int = 16, n_bands: int = 8) -> DataFrame:
    """(doc, band, bucket) rows from a signature frame with mh_i columns.

    One explode instead of a b-way union: a union would re-run the whole
    signature pipeline once per band (the signature subtree is duplicated
    under each union branch — measured 8× recompute at sf0.1). Bucket key =
    the band's minhash values joined as a string — an exact
    (collision-free) key that both engines render identically; hashing it
    again would only save key bytes at the cost of oracle replayability."""
    rows_per_band = n_hashes // n_bands
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("doc", F.explode(band_entries).alias("bb")).select(
        "doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_candidates(
    docs: DataFrame,
    n_hashes: int = 16,
    n_bands: int = 8,
    shingle: int = 3,
    id_col: str = "doc_id",
    shingle_hashes: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs from banded MinHash: docs agreeing on all rows of at
    least one band. Bands hash to a bucket key → equi-join on
    (band, bucket); the shuffle is linear in corpus size.

    ``shingle_hashes`` optionally supplies a precomputed (doc, _sh) frame
    (e.g. hashes of the *distinct* shingle set — the signature is a min,
    so multiset vs set is immaterial); callers that also need the shingle
    strings downstream avoid hashing twice."""
    rows_per_band = n_hashes // n_bands
    # Materialize the shingle-hash array ONCE: computing it inline in each
    # of the h min-hash expressions re-runs the whole normalize→tokenize→
    # shingle→hash pipeline h times (measured 16× slowdown at sf0.1).
    with_sh = (
        shingle_hashes
        if shingle_hashes is not None
        else docs.select(
            F.col(id_col).alias("doc"), rolling_hashes(shingle=shingle).alias("_sh")
        )
    )
    sig = with_sh.select("doc", *minhash_signature(n_hashes))
    all_bands = minhash_bands(sig, n_hashes, n_bands).persist()
    # ^ persisted: feeds both sides of the self-join below.
    left = all_bands.select(F.col("doc").alias("a"), "band", "bucket")
    right = all_bands.select(F.col("doc").alias("b"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_near_duplicates(
    docs: DataFrame,
    threshold: float = 0.6,
    n_hashes: int = 16,
    n_bands: int = 8,
    shingle: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH candidates re-verified with exact Jaccard (precision 1; recall
    governed by the (h,b) S-curve, measured in tests against
    ``jaccard_pairs``).

    The distinct shingle-string array is materialized ONCE and feeds both
    the signature hashes (md5 of each distinct shingle — a min over the
    distinct set equals the min over the multiset) and the verification
    sets; building them separately would run the normalize→tokenize→
    shingle pipeline twice and md5 every duplicate occurrence (the md5
    base hash is what buys cross-engine oracle replay — see
    textstats.portable_hash32 — so its one pass is the one to optimize).

    The (doc, text) frame is repartitioned to the session's parallelism
    BEFORE the shingle fold and the persist: a one-file scan caches as ONE
    partition, and everything above the cache but below the first shuffle
    — the md5 hash transform, all h permutation mins, the band explode —
    then runs in a single task on every reuse (measured: the whole query
    1.35 s warm at sf0.1 with a 1-partition cache vs 0.80 s with a widened
    one; cold 9.1 s vs 4.9 s), and a fold below the repartition runs in
    the one scan task. The cache keeps the hash-on-doc layout the verify
    joins use. At cluster scale the scan has thousands of splits and the
    widen is a no-op (see widen_small_scan)."""
    sc = docs.sparkSession.sparkContext
    text = docs.select(F.col(id_col).alias("doc"), "text")
    if text.rdd.getNumPartitions() < sc.defaultParallelism:
        text = text.repartition(sc.defaultParallelism, "doc")
    tok = text.select(
        "doc", F.array_distinct(shingles(shingle=shingle)).alias("toks")
    ).persist()  # feeds the signature pass AND both sides of the verify join
    hashed = tok.select("doc", F.transform("toks", portable_hash32).alias("_sh"))
    cands = minhash_candidates(
        docs, n_hashes, n_bands, shingle, id_col, shingle_hashes=hashed
    )
    ta = tok.select(F.col("doc").alias("a"), F.col("toks").alias("toks_a"))
    tb = tok.select(F.col("doc").alias("b"), F.col("toks").alias("toks_b"))
    return (
        cands.join(ta, "a")
        .join(tb, "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
            / F.size(F.array_union("toks_a", "toks_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------------------------
# X2c: SimHash
# ---------------------------------------------------------------------------


def simhash(text_col: str = "text", n_bits: int = 16) -> Column:
    """n-bit SimHash: bit i = sign of Σ_tokens (±1 by token-hash bit i).
    Expression-only (no explode): transform token array → per-bit votes →
    aggregate. n_bits=16 keeps the expression tree small; 64-bit variants
    shard into 4 longs."""
    # The per-token hash array is bound once (``bind_once``): passed
    # directly to each of the n_bits folds, the tokenization and one md5
    # per token ran again for every bit.
    def per_doc(hashes: Column) -> Column:
        out = F.lit(0).cast("long")
        for i in range(n_bits):
            votes = F.aggregate(
                F.transform(
                    hashes,
                    lambda h: F.when(
                        F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
                    ).otherwise(-1),
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            out = out + F.shiftleft((votes > 0).cast("long"), i)
        return out

    return bind_once(token_hash_values(text_col), per_doc)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bits: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairs within a Hamming ball. Candidate generation splits the
    signature into ``max_hamming + 1`` bit-blocks: a pair with ≤ max_hamming
    differing bits must agree exactly on at least one block (pigeonhole —
    with only k blocks, k−1 differing bits can ruin at most k−1 of them).
    Fewer blocks would silently miss qualifying pairs; more blocks would
    only inflate candidates.
    """
    n_blocks = max_hamming + 1
    if n_blocks > n_bits:
        raise ValueError(f"max_hamming={max_hamming} needs more blocks than {n_bits} bits")
    base = n_bits // n_blocks
    # The per-bit vote folds are interpreted expressions — widen a
    # single-split scan so they use every core.
    sig = widen_small_scan(docs).select(
        F.col(id_col).alias("doc"), simhash(n_bits=n_bits).alias("sh")
    )
    entries = []
    offset = 0
    for blk in range(n_blocks):
        width = base + (1 if blk < n_bits % n_blocks else 0)
        key = F.shiftright("sh", offset).bitwiseAND(F.lit((1 << width) - 1))
        entries.append(
            F.struct(F.lit(blk).alias("half"), key.alias("key"), F.col("sh").alias("sh"))
        )
        offset += width
    # Explode, not union: union branches would re-evaluate the (expensive)
    # simhash expression once per block. `sh` leaves through the explode,
    # not beside it: the join and Hamming filter infer `isnotnull(sh)`, and
    # a filter on a column the Generate passes through is pushed below
    # widen_small_scan's exchange, where it runs every vote fold a second
    # time in the single scan task. A generated column stops it there.
    parts = sig.select("doc", F.explode(F.array(*entries)).alias("e")).select(
        "doc", "e.sh", "e.half", "e.key"
    )
    left = parts.select(F.col("doc").alias("a"), F.col("sh").alias("sh_a"), "half", "key")
    right = parts.select(F.col("doc").alias("b"), F.col("sh").alias("sh_b"), "half", "key")
    return (
        left.join(right, ["half", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
