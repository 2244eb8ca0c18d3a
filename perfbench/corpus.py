"""Seeded benchmark inputs: pages parquet, re-crawl deltas and query pools.

Pages come from the engine's fixture generator (Zipfian text over a
10k-word vocabulary, ~5% hot-term docs, ~10% non-English docs the language
gate drops), written with pyarrow so writing the corpus starts no Spark
job. The run seed draws every document and the order queries are sent in;
the vocabulary and the query pool are fixed, so seeds differ in the
documents and the stream, not in word lengths or query mix, which would
otherwise move every metric from seed to seed."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from invoicenet_spark.fixtures import gen_queries
from invoicenet_spark.fixtures.pages import _zipf_probs, gen_doc, make_vocab

VOCAB_SEED = 42
VOCAB = make_vocab(VOCAB_SEED)
PROBS = _zipf_probs(len(VOCAB))


def pages(n_docs: int, seed: int, start: int = 0) -> pd.DataFrame:
    """Docs start..start+n_docs-1 of the corpus the seed draws."""
    df = pd.DataFrame([gen_doc(seed, i, VOCAB, PROBS) for i in range(start, start + n_docs)])
    df["warc_ts"] = pd.to_datetime(df["warc_ts"])
    return df


def write_pages(pdf: pd.DataFrame, out_dir: str, n_files: int) -> str:
    """One parquet file per core, so the build's first stage has a task
    per core. warc_ts is written as a UTC instant (Spark `timestamp`)."""
    os.makedirs(out_dir, exist_ok=True)
    pdf = pdf.assign(warc_ts=pdf["warc_ts"].dt.tz_localize("UTC"))
    for i in range(n_files):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i::n_files], preserve_index=False),
            os.path.join(out_dir, f"part-{i:03d}.parquet"),
            coerce_timestamps="us",
        )
    return out_dir


def recrawl_delta(
    seed: int, first_seq: int, n_docs: int, known_urls: list[str], share: float, k: int
) -> pd.DataFrame:
    """Delta k: `n_docs` fresh pages; a `share` of them re-crawl an already
    ingested url with new content (same vocabulary, new doc text)."""
    delta = pages(n_docs, seed, start=first_seq)
    rng = np.random.default_rng([seed, 31, k])
    n_re = int(round(share * n_docs))
    rows = rng.choice(n_docs, size=n_re, replace=False)
    urls = rng.choice(len(known_urls), size=n_re, replace=False)
    delta.loc[rows, "url"] = [known_urls[u] for u in urls]
    return delta


def query_pool(n: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The engine's reference query mix (head/mid/tail terms, AND/OR) over
    the vocabulary, plus the same queries as BOOL trees ("a OR b")."""
    flat = gen_queries(n, seed=VOCAB_SEED)
    boolq = flat.copy()
    boolq["terms"] = [
        [f" {mode} ".join(ts)] for ts, mode in zip(flat["terms"], flat["mode"])
    ]
    boolq["mode"] = "BOOL"
    boolq["query_id"] = flat["query_id"] + n
    return flat, boolq
