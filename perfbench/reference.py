"""Independent correctness checks, run outside every timed region.

Query results are compared against BM25 computed here in numpy over the
catalog's flat ``postings`` and ``docs`` tables, read with pyarrow (no
Spark, no compressed index, no engine scorer): k1=1.2, b=0.75,
idf = ln((N - df + 0.5) / (df + 0.5) + 1), with df counted from the
postings rows and N and avgdl from the docs rows.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from ir_index_construction_spark.sources.catalog import Catalog
from ir_index_construction_spark.text.normalize import \
    parse_query_with_negation

K1, B = 1.2, 0.75
REL_TOL = 1e-9


def read_table(cat: Catalog, table: str, columns=None) -> pd.DataFrame:
    """The table's current snapshot, read straight from its data files."""
    snap = cat.current_snapshot(table)
    files = [os.path.join(cat.root, table, f) for f in snap["files"]]
    return pq.read_table(files, columns=columns).to_pandas()


def table_bytes(cat: Catalog, table: str) -> int:
    snap = cat.current_snapshot(table)
    return sum(os.path.getsize(os.path.join(cat.root, table, f))
               for f in snap["files"])


def live_files(cat: Catalog) -> dict:
    """{table: [data file paths]} of the current catalog version."""
    cur = cat._catalog_current()
    out = {}
    for table in cur["tables"]:
        snap = cat.current_snapshot(table)
        out[table] = [os.path.join(cat.root, table, f) for f in snap["files"]]
    return out


def df_checksum(dictionary: pd.DataFrame) -> str:
    """sha256 over the sorted (term, df) pairs, summing per-segment rows."""
    df = dictionary.groupby("term")["df"].sum().sort_index()
    h = hashlib.sha256()
    for t, n in df.items():
        h.update(f"{t}\t{int(n)}\n".encode())
    return h.hexdigest()


class Bm25Reference:
    """BM25 top-k over one catalog snapshot's postings and docs."""

    def __init__(self, cat: Catalog):
        docs = read_table(cat, "docs", ["doc_id", "doc_len"])
        post = read_table(cat, "postings", ["term", "doc_id", "tf"])
        self.n_docs = len(docs)
        avgdl = float(docs["doc_len"].mean())
        dl = pd.Series(docs["doc_len"].to_numpy(np.float64),
                       index=docs["doc_id"].to_numpy())
        tf = post["tf"].to_numpy(np.float64)
        dls = dl.reindex(post["doc_id"].to_numpy()).to_numpy()
        w = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dls / avgdl))
        ids = post["doc_id"].to_numpy(np.int64)
        self.terms = {}
        for term, idx in post.groupby("term").indices.items():
            n = len(idx)
            idf = math.log((self.n_docs - n + 0.5) / (n + 0.5) + 1.0)
            self.terms[term] = (ids[idx], w[idx], idf)

    def topk(self, query: str, k: int = 10) -> list:
        """[(doc_id, score)] in (score desc, doc_id asc) order, plus the
        full {doc_id: score} map of every matching doc."""
        terms, is_bool, neg = parse_query_with_negation(query)
        counts = Counter(terms)
        present = [t for t in dict.fromkeys(terms) if t in self.terms]
        if not present or (is_bool and len(present) < len(counts)):
            return [], {}
        docs = np.concatenate([self.terms[t][0] for t in present])
        scores = np.concatenate(
            [counts[t] * self.terms[t][2] * self.terms[t][1] for t in present])
        uniq, inv = np.unique(docs, return_inverse=True)
        sums = np.bincount(inv, weights=scores, minlength=len(uniq))
        keep = np.ones(len(uniq), bool)
        if is_bool:
            keep &= np.bincount(inv, minlength=len(uniq)) == len(present)
        for t in set(neg):
            if t in self.terms:
                keep &= ~np.isin(uniq, self.terms[t][0])
        uniq, sums = uniq[keep], sums[keep]
        order = np.lexsort((uniq, -sums))[:k]
        return ([(int(uniq[i]), float(sums[i])) for i in order],
                dict(zip(uniq.tolist(), sums.tolist())))


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-300)


def same_topk(engine: list, expected: list, all_scores: dict) -> bool:
    """engine: [(doc_id, score)] in rank order.  Equal when every rank's
    score matches the reference's within 1e-9 relative and its doc_id is
    the reference's, or a doc whose reference score ties that rank."""
    if len(engine) != len(expected):
        return False
    if len({d for d, _ in engine}) != len(engine):
        return False
    for (doc, score), (ref_doc, ref_score) in zip(engine, expected):
        if not _close(score, ref_score):
            return False
        if doc != ref_doc and not (doc in all_scores
                                   and _close(all_scores[doc], ref_score)):
            return False
    return True


def swap_first_distinct(rows: list) -> list:
    """A planted wrong top-k: swap the first two adjacent ranks whose
    scores differ (used by the self-tests)."""
    rows = list(rows)
    for i in range(len(rows) - 1):
        if not _close(rows[i][1], rows[i + 1][1]):
            rows[i], rows[i + 1] = rows[i + 1], rows[i]
            break
    return rows
