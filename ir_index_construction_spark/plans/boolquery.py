"""Nested boolean query expressions — ``(a OR b) AND NOT c``.

The flat query surface already covers AND-all (the reference's boolean
mode, searcher.py:194-197), OR (default), ``-term`` negation, boosts and
minimum_should_match; this module completes the Lucene query-language
story with arbitrary nesting and operator precedence (NOT > AND > OR,
parentheses, implicit OR between adjacent operands — the engine's
default operator, like Lucene with OR default).

Semantics (Lucene/Elasticsearch practice, stated explicitly):

  * The candidate universe is docs matching >= 1 POSITIVE leaf (a term
    that appears somewhere outside any NOT).  A pure-negative
    expression (``NOT a``) retrieves nothing — same stance as Lucene,
    which cannot execute a MUST_NOT-only boolean query.
  * The expression is evaluated per doc over term-presence flags.
  * Score = sum of BM25 contributions of the doc's matched POSITIVE
    leaves (terms appearing only under NOT gate membership but never
    score — Lucene's prohibited clauses are non-scoring).
  * Terms absent from the dictionary simply have a false flag (unlike
    flat AND there is no early empty: ``(missing OR b)`` still
    matches b).

Plan shape: ONE term-pruned postings scan over all expression terms ->
broadcast term-metadata join -> ONE (doc_id) hash agg computing every
presence flag (max of a when()) plus the positive-term score sum ->
codegen'd boolean filter from the AST -> TakeOrderedAndProject ->
broadcast url back-join.  The nesting depth changes only the filter
EXPRESSION, never the data movement — the same one-shuffle plan as the
flat exhaustive path, at any corpus size.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..config import BM25Config
from ..text.normalize import query_normalize
from ..text.porter import stem
from .query import doc_id_frame, empty_topk, query_term_idf, term_in

_OPS = {"AND", "OR", "NOT"}


def _lex(query: str) -> list:
    """Parens become their own tokens; everything else splits on
    whitespace.  Operator words are UPPERCASE-only, the parse_query
    convention (lowercase 'and' is a term — reference quirk)."""
    return re.findall(r"[()]|[^\s()]+", query)


def _leaf(word: str):
    """A raw word -> leaf node via the query-side normalize+stem path.
    Punctuation may split one raw word into several stems
    ('state-of-the-art'); those group as implicit OR, the default
    operator.  Returns None when nothing survives normalization."""
    stems = [stem(w.lower()) for w in query_normalize(word).split()]
    stems = [s for s in stems if s]
    if not stems:
        return None
    if len(stems) == 1:
        return ("term", stems[0])
    return ("or", [("term", s) for s in stems])


def parse_bool_expr(query: str):
    """Recursive-descent parse of the boolean query language.  Returns
    an AST of ("term", t) / ("and", [..]) / ("or", [..]) / ("not", x)
    nodes, or None for an empty/blank expression.  Raises ValueError on
    unbalanced parentheses or a dangling operator."""
    toks = _lex(query)
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else None

    def take():
        t = peek()
        pos[0] += 1
        return t

    def parse_or():
        nodes = [parse_and()]
        while True:
            p = peek()
            if p == "OR":
                take()
                nodes.append(parse_and())
            elif p is not None and p != ")" and p != "AND":
                nodes.append(parse_and())    # implicit OR
            else:
                break
        nodes = [n for n in nodes if n is not None]
        if not nodes:
            return None
        return nodes[0] if len(nodes) == 1 else ("or", nodes)

    def parse_and():
        nodes = [parse_unary()]
        while peek() == "AND":
            take()
            nodes.append(parse_unary())
        nodes = [n for n in nodes if n is not None]
        if not nodes:
            return None
        return nodes[0] if len(nodes) == 1 else ("and", nodes)

    def parse_unary():
        p = peek()
        if p is None or p == ")":
            return None
        if p == "NOT":
            take()
            child = parse_unary()
            return ("not", child) if child is not None else None
        if p == "(":
            take()
            node = parse_or()
            if take() != ")":
                raise ValueError("unbalanced parentheses in boolean query")
            return node
        if p == "AND" or p == "OR":
            raise ValueError(f"dangling operator {p!r} in boolean query")
        return _leaf(take())

    node = parse_or()
    if peek() == ")":
        raise ValueError("unbalanced parentheses in boolean query")
    return node


def expr_terms(node, positive: bool = True,
               pos_out: set | None = None, all_out: set | None = None):
    """Collect leaf terms; a term is POSITIVE if it appears in at least
    one non-negated context (double negation flips back)."""
    pos_out = set() if pos_out is None else pos_out
    all_out = set() if all_out is None else all_out
    if node is None:
        return pos_out, all_out
    kind = node[0]
    if kind == "term":
        all_out.add(node[1])
        if positive:
            pos_out.add(node[1])
    elif kind == "not":
        expr_terms(node[1], not positive, pos_out, all_out)
    else:
        for c in node[1]:
            expr_terms(c, positive, pos_out, all_out)
    return pos_out, all_out


def _to_predicate(node, flags: dict):
    """AST -> one codegen'd boolean Column over the presence flags.
    Terms absent from the dictionary fold to literal False."""
    kind = node[0]
    if kind == "term":
        return flags.get(node[1], F.lit(False))
    if kind == "not":
        return ~_to_predicate(node[1], flags)
    cols = [_to_predicate(c, flags) for c in node[1]]
    out = cols[0]
    for c in cols[1:]:
        out = (out & c) if kind == "and" else (out | c)
    return out


def bool_query_topk(postings: DataFrame, dictionary: DataFrame,
                    docs: DataFrame, query: str, n_docs: int, avgdl: float,
                    k: int = 10, bm25: BM25Config = BM25Config(),
                    idf_cache: dict | None = None,
                    exclude_ids=None,
                    pre_parsed=None) -> DataFrame:
    """Top-k for a nested boolean expression (module docstring has the
    exact semantics).  Returns TOPK (rank, doc_id, url, score).

    ``pre_parsed``: an already-built AST (programmatic callers /
    unstemmed indexes) — bypasses parse_bool_expr."""
    spark = postings.sparkSession
    ast = pre_parsed if pre_parsed is not None else parse_bool_expr(query)
    if ast is None:
        return empty_topk(spark)
    pos_terms, all_terms = expr_terms(ast)
    if not pos_terms:
        return empty_topk(spark)        # pure-negative: nothing to retrieve

    tf_idf = query_term_idf(spark, dictionary, sorted(all_terms), n_docs,
                            cache=idf_cache)
    present = sorted(t for t in all_terms if t in tf_idf)
    if not (pos_terms & set(present)):
        return empty_topk(spark)        # no positive leaf is indexed
    terms_df = spark.createDataFrame(
        [(t, tf_idf[t][1], t in pos_terms) for t in present],
        "term string, idf double, positive boolean",
    )

    k1, b = bm25.k1, bm25.b
    w = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.lit(avgdl)))
    )
    contrib = F.when(F.col("positive"), F.col("idf") * w).otherwise(F.lit(0.0))
    matches = (
        postings.filter(term_in(present))
        .join(F.broadcast(terms_df), "term", "inner")
    )
    if exclude_ids:
        dead = doc_id_frame(spark, exclude_ids)
        matches = matches.join(F.broadcast(dead), "doc_id", "left_anti")

    flag_aggs = [
        F.max(F.when(F.col("term") == t, True).otherwise(False))
        .alias(f"_m{i}")
        for i, t in enumerate(present)
    ]
    per_doc = matches.groupBy("doc_id").agg(
        F.sum(contrib).alias("score"), *flag_aggs)
    flags = {t: F.col(f"_m{i}") for i, t in enumerate(present)}
    qualified = per_doc.filter(_to_predicate(ast, flags))

    topk = (
        qualified.select("doc_id", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    ranked = docs.join(F.broadcast(topk), "doc_id", "inner").withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        ).cast("int"),
    )
    return ranked.select("rank", "doc_id", "url", "score")
