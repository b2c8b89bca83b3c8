"""Text analysis: language-ID accuracy vs ground truth; fingerprint and
token behavior on synthetic edge cases."""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.operators import textstats as TS
from python_cdc_postgres_to_clickhouse_spark.registry import all_queries
from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

from .conftest import SF_ORACLE


def test_lang_id_accuracy_on_real_language_text(spark):
    """The driver fixture's `lang` column is decorative (all langs share
    one English-ish vocabulary — measured), so accuracy is asserted on
    actual multilingual snippets instead."""
    samples = [
        (1, "the data and the value of a row in the table", "en"),
        (2, "el valor de la tabla y los datos que vemos por una fila", "es"),
        (3, "der wert und die daten in das system ist nicht ein problem zu", "de"),
        (4, "的 数据 是 在 表 里 我 有 和 不 同 的 值", "zh"),
        (5, "the quick brown fox jumps over a lazy dog and the cat", "en"),
        (6, "die der und das ist ein nicht zu", "de"),
    ]
    df = spark.createDataFrame(samples, ["doc_id", "text", "true_lang"])
    out = df.select("doc_id", "true_lang", TS.predict_lang().alias("p")).collect()
    for r in out:
        assert r["p"] == r["true_lang"], (r["doc_id"], r["p"], r["true_lang"])


def test_lang_id_query_runs_and_is_deterministic(spark):
    out = all_queries()["x_lang_id"].fn(spark, SF_ORACLE)
    rows = out.collect()
    assert len(rows) == 500
    assert set(r["predicted_lang"] for r in rows) <= {"en", "es", "de", "zh", "und"}


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "  HELLO\tWORLD  "), (4, "different")],
        ["doc_id", "text"],
    )
    fps = {r["doc_id"]: r["fp"] for r in df.select("doc_id", TS.fingerprint().alias("fp")).collect()}
    assert fps[1] == fps[2] == fps[3]
    assert fps[4] != fps[1]


def test_token_counts_edge_cases(spark):
    df = spark.createDataFrame(
        [(1, "one two three"), (2, "hy-phen a,b 12 3.4")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["ws"], r["bpe"])
        for r in df.select(
            "doc_id",
            TS.token_count().alias("ws"),
            TS.bpe_ish_token_count().alias("bpe"),
        ).collect()
    }
    assert out[1] == (3, 3)
    # "hy-phen a,b 12 3.4" → ws: 4; bpe: hy - phen a , b 12 3 . 4 = 10
    assert out[2] == (4, 10)


def test_rolling_hashes_shingle_count(spark):
    docs = load_tables(spark, SF_ORACLE)["documents"].limit(50)
    out = docs.select(
        TS.token_count().alias("n"),
        F.size(TS.rolling_hashes(shingle=3)).alias("n_shingles"),
    ).collect()
    for r in out:
        assert r["n_shingles"] == max(r["n"] - 2, 1)


def test_collision_mass_fold_matches_python(spark):
    """Σc² fold vs a python Counter on constructed docs, including the
    single-run and all-distinct edges."""
    from collections import Counter

    from python_cdc_postgres_to_clickhouse_spark.operators.textstats import (
        collision_mass,
        normalized,
    )
    from pyspark.sql import functions as F

    docs = [
        (1, "a a a a"),
        (2, "a b c d"),
        (3, "the the cat CAT  the"),
        (4, "x"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {r["doc_id"]: r["m"] for r in
           df.select("doc_id", collision_mass("text").alias("m")).collect()}
    for doc_id, text in docs:
        toks = " ".join(text.lower().split()).split(" ")
        want = sum(c * c for c in Counter(toks).values())
        assert got[doc_id] == want, (doc_id, got[doc_id], want)


# Null, empty, whitespace-only and 1–4-token texts: the fold edges of the
# bound-once token array (a null text folds to one empty shingle).
_FOLD_EDGE_TEXTS = [None, "", "  \t\n ", "One", "one  TWO", " a\tb C ", "a b c d", "x y x y x"]


def _py_tokens(text):
    return [] if text is None else re.sub(r"\s+", " ", text.lower()).strip(" ").split(" ")


def _py_shingles(text, k):
    t = _py_tokens(text)
    return [" ".join(t[i : i + k]) for i in range(max(len(t) - k + 1, 1))]


def _py_hash32(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _py_simhash(text, n_bits=16):
    if text is None:
        return None
    hashes = [_py_hash32(t) for t in _py_tokens(text)]
    votes = [sum(1 if (h >> i) & 1 else -1 for h in hashes) for i in range(n_bits)]
    return sum(1 << i for i, v in enumerate(votes) if v > 0)


@pytest.mark.parametrize("k", [2, 3])
def test_shingle_folds_match_python_on_edge_texts(spark, k):
    from python_cdc_postgres_to_clickhouse_spark.operators import dedup as D

    df = spark.createDataFrame(list(enumerate(_FOLD_EDGE_TEXTS)), "id int, text string")
    got = df.select(
        "id",
        TS.shingles(shingle=k).alias("s"),
        TS.rolling_hashes(shingle=k).alias("h"),
        D.simhash().alias("sh"),
    ).collect()
    assert len(got) == len(_FOLD_EDGE_TEXTS)
    for r in got:
        text = _FOLD_EDGE_TEXTS[r["id"]]
        want = _py_shingles(text, k)
        assert r["s"] == want, (text, r["s"])
        assert r["h"] == [_py_hash32(s) for s in want], text
        assert r["sh"] == _py_simhash(text), text
