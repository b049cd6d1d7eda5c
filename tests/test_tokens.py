"""The token kernels (``operators/tokens.py``) on whitespace edge forms.

A few sf0.001 documents are rewritten to a double space, leading and
trailing spaces, a tab and an empty string. Both split rules must give
the same tokens as their DuckDB twins on these forms, and the queries
built on the kernels must still equal their oracles on that corpus.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators import tokens

#: doc_id -> the edge form its text is rewritten to.
EDGE_FORMS = {
    1: "double space",
    2: "leading and trailing spaces",
    3: "tab",
    4: "empty string",
}

#: One query per kernel entry point (default tier).
REPRESENTATIVE = {
    "ws_split": "x4_text_stats",
    "re_split": "x4_quality_and_lang",
    "n_tokens": "x4_token_length_histogram",
    "doc_tokens": "x4_gopher_quality_rules",
    "doc_token_positions": "x4_bigram_lm_quality",
    "token_counts": "x4_type_token_ratio",
    "kgram_hashes": "x4_winnowing_fingerprints",
}

#: Queries that differ from their oracle on the edge corpus, with the
#: reason: declared behaviour, not a kernel divergence.
DECLARED: dict[str, str] = {}


def _edge_text(text):
    doc = F.col("doc_id")
    first_space = "^(\\S+) "
    return (
        F.when(doc == 1, F.regexp_replace(text, first_space, "$1  "))
        .when(doc == 2, F.concat(F.lit(" "), text, F.lit(" ")))
        .when(doc == 3, F.regexp_replace(text, first_space, "$1\t"))
        .when(doc == 4, F.lit(""))
        .otherwise(text)
    )


@pytest.fixture
def edge_corpus(spark, sf_dir, replace_table):
    from etl_generator_demo_spark.operators.relational import t

    docs = t(spark, sf_dir, "documents")
    cols = [_edge_text(F.col("text")).alias("text") if c == "text" else c for c in docs.columns]
    return replace_table("documents", docs.select(*cols))


def test_both_split_rules_match_their_twins(spark):
    import duckdb

    texts = [" a  b ", "", "a\tb", "  ", "a b"]
    rows = spark.createDataFrame([(i, s) for i, s in enumerate(texts)], "i int, s string")
    got = rows.select(
        "i", tokens.ws_split("s").alias("ws"), tokens.re_split("s").alias("re")
    ).orderBy("i")
    con = duckdb.connect()
    for (i, s), r in zip(enumerate(texts), got.collect()):
        ws, re_ = con.execute(
            f"SELECT {tokens._duck_ws_split('$1')}, {tokens._duck_re_split('$1')}", [s]
        ).fetchone()
        assert (r["ws"], r["re"]) == (ws, re_), s
    assert got.first()["ws"] == ["", "a", "", "b", ""]
    assert got.collect()[1]["ws"] == [""]


def test_edge_corpus_holds_every_form(spark, edge_corpus):
    from etl_generator_demo_spark.operators.relational import t

    text = {
        r["doc_id"]: r["text"]
        for r in t(spark, edge_corpus, "documents").filter(F.col("doc_id") <= 4).collect()
    }
    assert "  " in text[1] and "\t" not in text[1]
    assert text[2].startswith(" ") and text[2].endswith(" ")
    assert "\t" in text[3]
    assert text[4] == ""


def test_kernel_queries_match_their_oracles_on_edge_forms(edge_corpus, oracle_mismatches):
    names = [q for q in REPRESENTATIVE.values() if q not in DECLARED]
    assert not oracle_mismatches(edge_corpus, names)


def _tokenizing_queries() -> list[str]:
    """Every registered query whose oracle splits text: each one reaches
    the split through a DuckDB twin, so it is a kernel user."""
    import re

    from etl_generator_demo_spark.registry import load_all

    splits = re.compile(r"(STRING_SPLIT|REGEXP_SPLIT_TO_ARRAY)\((LOWER\()?(\w+\.)?text\b")
    return sorted(name for name, rq in load_all().items() if splits.search(rq.oracle or ""))


@pytest.mark.slow
def test_every_tokenizing_query_matches_its_oracle_on_edge_forms(
    edge_corpus, oracle_mismatches
):
    names = [q for q in _tokenizing_queries() if q not in DECLARED]
    assert len(names) > len(REPRESENTATIVE)
    bad = oracle_mismatches(edge_corpus, names)
    assert not bad, sorted(bad)
