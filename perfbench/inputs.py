"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the workload seed: the pages
(``corpusgen.make_doc``), the micro-batch and its re-crawl picks, and the
query lists.  Pages are staged to parquet with pyarrow, outside every
timed region and outside ``setup_s``.
"""

from __future__ import annotations

import datetime
import os
import random
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from bench import REFERENCE_QUERIES
from ir_index_construction_spark.corpusgen import make_doc
from ir_index_construction_spark.text.normalize import (defrag_url,
                                                        is_valid_url,
                                                        parse_query)


@dataclass(frozen=True)
class Scale:
    """Input sizes of one benchmark run."""
    build_pages: int          # pages indexed by the timed catalog build
    stream_pages: int         # pages of the timed streaming micro-batch
    recrawl_share: float      # share of the micro-batch re-crawling its own pages
    single_queries: int       # distinct queries in a single-query mix
    batch_queries: int        # queries per wand_topk_batch call
    top_terms: int = 400      # queries draw terms from the top-df dictionary terms


FULL = Scale(build_pages=600, stream_pages=400, recrawl_share=0.05,
             single_queries=4, batch_queries=1000)
# self-test scale: same code paths, a few seconds of work
TINY = Scale(build_pages=60, stream_pages=40, recrawl_share=0.1,
             single_queries=3, batch_queries=20, top_terms=50)


def pages(ids, seed: int) -> list:
    return [make_doc(int(i), seed) for i in ids]


def stage(rows: list, path: str) -> str:
    """Write pages as one parquet file Spark reads with the DOCUMENTS
    schema (warc_ts as a UTC-adjusted timestamp)."""
    os.makedirs(path, exist_ok=True)
    pdf = pd.DataFrame(rows)
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"]).dt.tz_localize("UTC") \
        .astype("datetime64[us, UTC]")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(path, "pages.parquet"))
    return path


def indexable_urls(rows: list) -> set:
    """Urls the engine must index: defragmented, valid, distinct (the
    reference indexer's rules, independent of the Spark path)."""
    out = set()
    for r in rows:
        u = defrag_url(r["url"])
        if is_valid_url(u):
            out.add(u)
    return out


def stream_batch(rng: random.Random, seed: int, n: int,
                 recrawl_share: float) -> tuple:
    """(rows, n_recrawls): a micro-batch of ``n`` pages in which a seeded
    ``recrawl_share`` are later re-crawls (same url and page, a day later)
    of pages earlier in the batch, which the commit must drop."""
    n_re = max(1, round(n * recrawl_share))
    rows = pages(range(n - n_re), seed)
    valid = [r for r in rows if is_valid_url(defrag_url(r["url"]))]
    recrawls = [dict(r, warc_ts=r["warc_ts"] + datetime.timedelta(days=1))
                for r in rng.sample(valid, n_re)]
    rows = rows + recrawls
    rng.shuffle(rows)
    return rows, n_re


def query_terms(dictionary: pd.DataFrame, top: int) -> list:
    """The ``top`` highest-df terms that parse back to themselves, so a
    generated query scores exactly the terms it names."""
    ranked = dictionary.sort_values(["df", "term"], ascending=[False, True])
    out = []
    for t in ranked["term"]:
        if t.isalpha() and parse_query(t) == ([t], False):
            out.append(t)
            if len(out) == top:
                break
    return out


def single_query_mix(rng: random.Random, terms: list, n: int) -> list:
    """``n`` queries: about 70% OR of 1-4 terms, 20% ``a AND b`` and 10%
    ``a b -c`` (the exhaustive route); at least one of each kind."""
    n_and = max(1, round(0.2 * n))
    n_neg = max(1, round(0.1 * n))
    kinds = ["and"] * n_and + ["neg"] * n_neg
    kinds += ["or"] * max(1, n - len(kinds))
    rng.shuffle(kinds)
    out = []
    for kind in kinds:
        if kind == "or":
            out.append(" ".join(rng.sample(terms, rng.randint(1, 4))))
        elif kind == "and":
            a, b = rng.sample(terms, 2)
            out.append(f"{a} AND {b}")
        else:
            a, b, c = rng.sample(terms, 3)
            out.append(f"{a} {b} -{c}")
    return out


def warmup_queries(mix: list) -> list:
    """Two queries that look up the idf of every term of ``mix`` and run
    both query plans: an OR query over all its positive terms and the
    mix's first negated query."""
    terms = [w for q in mix for w in q.split() if w != "AND"
             and not w.startswith("-")]
    return [" ".join(dict.fromkeys(terms)),
            next(q for q in mix if " -" in q)]


def or_queries(rng: random.Random, terms: list, n: int) -> list:
    """``n`` OR queries of 2-3 terms."""
    return [" ".join(rng.sample(terms, rng.randint(2, 3))) for _ in range(n)]


def batch_queries(rng: random.Random, terms: list, n: int) -> dict:
    """{query_id: text}: the four reference queries plus seeded OR
    queries of 1-4 terms."""
    texts = list(REFERENCE_QUERIES)
    while len(texts) < n:
        texts.append(" ".join(rng.sample(terms, rng.randint(1, 4))))
    return {f"q{i:05d}": q for i, q in enumerate(texts[:n])}
