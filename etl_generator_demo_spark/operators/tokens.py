"""The token relation of the text family: what counts as a token, written
once, each kernel with its DuckDB twin (``_duck_*``) beside it.

Two split rules, because the oracles fix two:

- :func:`ws_split` splits on a single space, as ``STRING_SPLIT(text,
  ' ')`` does, so every empty field is a token: ``' a  b '`` gives
  ``['', 'a', '', 'b', '']`` and ``''`` gives ``['']`` in both engines.
  Every other kernel here uses it, and so do the statistics and
  diversity queries, BPE and unigram-LM words, set-similarity and
  near-dup tokens, the bigram LM, retrieval, packing, exact-substring
  dedup and decontamination.
- :func:`re_split` splits on whitespace runs (``\\s+``), as
  ``REGEXP_SPLIT_TO_ARRAY(text, '\\s+')`` does: repeated spaces and
  tabs make no empty token (a leading or trailing run still does).
  Only the stopword-profile language identifier and the heuristic
  quality score (``textops``) use it.

Callers keep their oracle's rule and their own aliases, casts and
formulas; ``tk`` names the token column where a caller's plan already
calls it something else. This leaf imports only pyspark, since the
text-family modules import each other.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Tokens per k-gram hashed by :func:`kgram_hashes` (the winnowing and
#: exact-substring k).
KGRAM_K = 5


def ws_split(col: str | Column = "text") -> Column:
    """Tokens of ``col`` split on single spaces (``STRING_SPLIT``)."""
    return F.split(col, " ")


def re_split(col: str | Column = "text") -> Column:
    """Tokens of ``col`` split on whitespace runs
    (``REGEXP_SPLIT_TO_ARRAY(…, '\\s+')``)."""
    return F.split(col, r"\s+")


def n_tokens(col: str | Column = "text") -> Column:
    """Number of :func:`ws_split` tokens (an int; callers cast)."""
    return F.size(ws_split(col))


def doc_tokens(docs: DataFrame, *keep: str | Column, tk: str = "tk") -> DataFrame:
    """``(*keep, tk)``: one row per whitespace token of each document's
    ``text`` (``keep`` names ``doc_id`` when the caller needs it)."""
    return docs.select(*keep, F.explode(ws_split()).alias(tk))


def doc_token_positions(docs: DataFrame, *keep: str, tk: str = "tk") -> DataFrame:
    """``(*keep, pos, tk)``: :func:`doc_tokens` with each token's
    0-based position. A separate kernel, since Spark keeps a
    ``posexplode`` whose ``pos`` nobody reads."""
    return docs.select(*keep, F.posexplode(ws_split()).alias("pos", tk))


def token_counts(docs: DataFrame, *by: str, tk: str = "tk") -> DataFrame:
    """``(*by, tk, n)``: occurrences of each token per ``by`` group, one
    map-combined rollup (the shuffle is vocabulary-bounded)."""
    return (
        doc_tokens(docs, *by, tk=tk)
        .groupBy(*by, tk)
        .agg(F.count(F.lit(1)).alias("n"))
    )


def kgram_hashes(docs: DataFrame) -> DataFrame:
    """``(doc_id, pos, h)``: md5 of each full ``KGRAM_K``-token gram,
    0-based ``pos`` of its first token. ``concat_ws`` skips NULLs, so
    tail grams are gated on the furthest lead instead."""
    tok = doc_token_positions(docs, "doc_id")
    w = Window.partitionBy("doc_id").orderBy("pos")
    kgram = F.concat_ws(
        "_", F.col("tk"), *[F.lead("tk", i).over(w) for i in range(1, KGRAM_K)]
    )
    return tok.select(
        "doc_id",
        "pos",
        F.when(F.lead("tk", KGRAM_K - 1).over(w).isNotNull(), F.md5(kgram)).alias("h"),
    ).filter(F.col("h").isNotNull())


def _duck_ws_split(col: str = "text") -> str:
    """Twin of :func:`ws_split`."""
    return f"STRING_SPLIT({col}, ' ')"


def _duck_re_split(col: str = "text") -> str:
    """Twin of :func:`re_split`."""
    return f"REGEXP_SPLIT_TO_ARRAY({col}, '\\s+')"


def _duck_n_tokens(col: str = "text") -> str:
    """Twin of :func:`n_tokens`."""
    return f"LEN({_duck_ws_split(col)})"


def _duck_tokens(tk: str = "tk") -> str:
    """Twin of :func:`doc_tokens`: the select-list item that unnests
    ``text`` into ``tk``; the caller writes its own kept columns and
    ``FROM``."""
    return f"UNNEST({_duck_ws_split()}) AS {tk}"


def _duck_token_positions(*keep: str, src: str = "documents") -> str:
    """Twin of :func:`doc_token_positions`: a query over ``src`` giving
    ``(*keep, tk, pos)``, ``pos`` 1-based (``GENERATE_SUBSCRIPTS``)
    against Spark's 0-based ``posexplode``."""
    cols = "".join(f"{c}, " for c in keep)
    return (
        f"SELECT {cols}{_duck_tokens()}, GENERATE_SUBSCRIPTS({_duck_ws_split()}, 1) AS pos"
        f" FROM {src}"
    )


def _duck_token_counts(*by: str, tk: str = "tk") -> str:
    """Twin of :func:`token_counts`: a query over ``documents`` giving
    ``(*by, tk, n)``."""
    cols = "".join(f"{c}, " for c in by)
    return f"""SELECT {cols}{tk}, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT {cols}{_duck_tokens(tk)} FROM documents)
        GROUP BY {cols}{tk}"""


#: Twin of :func:`kgram_hashes`: CTEs ``tok``, ``kg0`` and ``kg(doc_id,
#: pos, h)`` over ``documents``. Positions are 1-based; callers use
#: only position differences, or shift by one where they compare.
_DUCK_KGRAMS = f"""
    tok AS ({_duck_token_positions("doc_id")}),
    kg0 AS (
        SELECT doc_id, pos,
               MD5(tk {"".join(f"|| '_' || LEAD(tk, {i}) OVER w " for i in range(1, KGRAM_K))}) AS h
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    kg AS (SELECT doc_id, pos, h FROM kg0 WHERE h IS NOT NULL)
"""
