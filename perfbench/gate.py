"""Correctness gate: every engine operation a run makes counts as attempted;
one that raises or returns a wrong result counts as failed.

References: the numpy BM25 oracle over the index's live documents (top-k
urls and scores rounded to the engine's score_decimals), the other query
executor, and the fixture's own text for extraction."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.index.build import IndexPaths
from invoicenet_spark.index.deletes import load_tombstones
from invoicenet_spark.oracle.bm25_numpy import NumpyBM25Oracle

DECIMALS = EngineConfig().score_decimals

Answers = dict[int, list[tuple[str, float]]]


class Gate:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)

    def check(self, what: str, got: Answers, want: Answers) -> bool:
        """Record one failure if any query's ranked (url, score) list
        differs from `want`; true when all match."""
        for qid in sorted(want):
            if got.get(qid, []) != want[qid]:
                self.fail(f"{what}: query {qid} got {got.get(qid, [])[:3]} want {want[qid][:3]}")
                return False
        return True


def answers(df: pd.DataFrame) -> Answers:
    """Engine results (query_id, rank, doc_id, url, score) as ranked lists."""
    out: Answers = {}
    df = df.sort_values(["query_id", "rank"])
    for qid, url, score in zip(df["query_id"], df["url"], df["score"]):
        out.setdefault(int(qid), []).append((url, round(float(score), DECIMALS)))
    return out


def live_docs(root: str) -> pd.DataFrame:
    """(doc_id, url, segment) of every untombstoned document."""
    paths = IndexPaths(root)
    docs = (
        ds.dataset(paths.docs, format="parquet", partitioning="hive")
        .to_table(columns=["doc_id", "url", "segment"])
        .to_pandas()
    )
    dead = load_tombstones(paths)
    return docs[~np.isin(docs["doc_id"].to_numpy(), dead)]


def oracle_answers(
    root: str, texts: dict[tuple[str, str], str], flat: pd.DataFrame, bool_offset: int
) -> Answers:
    """Oracle top-k for the flat pool over the live docs; the BOOL twin of
    query q (id q + bool_offset) has the same expected answer."""
    live = live_docs(root)
    oracle = NumpyBM25Oracle(
        {
            int(d): texts[(seg, url)]
            for d, url, seg in zip(live["doc_id"], live["url"], live["segment"])
        }
    )
    id2url = dict(zip(live["doc_id"].astype(int), live["url"]))
    out: Answers = {}
    for q in flat.itertuples():
        ranked = [
            (id2url[d], round(s, DECIMALS))
            for d, s in oracle.topk(list(q.terms), k=int(q.k), mode=q.mode)
        ]
        out[int(q.query_id)] = ranked
        out[int(q.query_id) + bool_offset] = ranked
    return out


def extracted_text_mismatches(
    spark, pages_path: str, cfg: EngineConfig, expected: dict[str, str]
) -> list[str]:
    """Urls whose text, extracted by the engine's build path from the page
    html, is not byte-identical to the fixture text."""
    from pyspark.sql import functions as F

    from invoicenet_spark.index.build import tokens_from_pages

    pages = spark.read.parquet(pages_path).where(F.col("url").isin(list(expected)))
    got = {
        r["url"]: r["text"]
        for r in tokens_from_pages(pages, cfg).select("url", "text").collect()
    }
    return [u for u, text in expected.items() if got.get(u) != text]
