"""The benchmark's workloads. Each is one process with one closed-loop
client that waits for every reply.

bulk_build    repeated fresh builds of one seeded corpus; build layers do
              nearly all of the timed work.
ingest_serve  a static query phase on a base index, then re-crawl deltas
              (upsert), deletes and query bursts over small shards with
              tombstones, then compaction and a final burst.

Every run reports every end-to-end metric, so both end with the same
checked serving tail: oracle-checked single queries, then one batch of
flat and BOOL queries through search_local and Spark search()."""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, replace

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.index import build as ibuild
from invoicenet_spark.index import deletes as ideletes
from invoicenet_spark.index import maintain as imaintain
from invoicenet_spark.query import exec as qexec
from invoicenet_spark.query import local as qlocal
from invoicenet_spark.streaming import incremental

from . import corpus, gate


@dataclass(frozen=True)
class Sizes:
    build_docs: int = 4000  # bulk_build corpus
    base_docs: int = 4000  # ingest_serve base snapshot
    ingest_shard_size: int = 1024  # small shards: each delta lands in its own
    compact_factor: int = 8  # compaction merges this many shards into one
    delta_docs: int = 400  # pages per re-crawl delta
    recrawl_share: float = 0.25  # share of a delta that re-crawls known urls
    deletes_per_write: int = 3  # urls per delete_docs call
    pool: int = 50  # distinct flat queries (plus their BOOL twins)
    burst: int = 40  # single queries after each ingest cycle
    local_batch_reps: int = 5  # repeats of each checked search_local batch
    tail_queries: int = 200  # bulk_build's oracle-checked single queries
    text_sample: int = 200  # docs whose extracted text is compared
    static_share: float = 0.5  # share of the window the static phase takes
    min_builds: int = 1  # bulk builds, even past the deadline
    min_cycles: int = 1  # ingest cycles, even past the deadline


FULL = Sizes()
TINY = Sizes(
    build_docs=400, base_docs=400, ingest_shard_size=128, delta_docs=60, pool=20,
    burst=10, tail_queries=20, text_sample=20,
)


class Run:
    """State of one benchmark run: the session, the gate, samples and the
    (optional) tracer that per-layer runs switch on and off per operation."""

    def __init__(self, spark, work: str, seed: int, seconds: float, sizes: Sizes, trace: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.sizes = sizes
        self.trace = trace
        self.tracer = None
        self.gate = gate.Gate()
        # the engine's default layout, with one build partition per core
        self.cfg = EngineConfig(build_partitions=spark.sparkContext.defaultParallelism)
        self.samples: dict[str, list[float]] = {}
        self.window_ops: list[tuple[str, float, bool]] = []
        self.figures: dict[str, float] = {}
        self.setup_s = 0.0
        self.deadline = 0.0
        self.phases: list[tuple[str, float]] = [("setup", time.perf_counter())]
        self._n_window: dict[str, int] = {}
        self._spark_index = None

    def mark(self, phase: str) -> None:
        """Start a named phase; the report gives each phase's wall time."""
        self.phases.append((phase, time.perf_counter()))

    def phase_seconds(self) -> dict[str, float]:
        ends = [t for _, t in self.phases[1:]] + [time.perf_counter()]
        return {name: round(end - t, 3) for (name, t), end in zip(self.phases, ends)}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def add(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def end_setup(self, t0: float) -> None:
        """Set-up ends: record its time and, in a traced run, start tracing
        (set-up operations such as the warm build stay out of the trace)."""
        self.setup_s += time.perf_counter() - t0
        if self.trace:
            from .trace import Tracer

            self.tracer = Tracer(self.spark, f"{os.getpid()}")
            self.tracer.install()
            self.tracer.enabled = True

    def start_window(self) -> None:
        self.mark("window")
        self.deadline = time.perf_counter() + self.seconds

    def expired(self) -> bool:
        return time.perf_counter() >= self.deadline

    def op(self, kind: str, fn, *a, window: bool = False, **k):
        """Run one engine operation: counted as attempted, failed if it
        raises. Window operations alternate traced / untraced in a traced
        run, which gives trace.overhead; every other one is traced."""
        traced = True
        if self.tracer is not None:
            if window:
                n = self._n_window.get(kind, 0)
                self._n_window[kind] = n + 1
                traced = n % 2 == 0
            self.tracer.enabled = traced
        self.gate.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*a, **k)
        except Exception as e:  # a failed operation is a result, not a crash
            self.gate.fail(f"{kind}: {type(e).__name__}: {e}"[:500])
            out = None
        dt = time.perf_counter() - t0
        if window:
            self.window_ops.append((kind, dt, traced))
        if self.tracer is not None:
            self.tracer.enabled = True
        return out, dt

    # ------------------------------------------------------------ serving --
    def search_local(self, root: str, q: pd.DataFrame, kind: str, window: bool = False):
        def call():
            if self.tracer is not None:
                self.tracer.count("local_queries", len(q))
            return qlocal.search_local(root, q)

        return self.op(kind, call, window=window)

    def single_queries(self, root: str, queries: list[pd.DataFrame], want=None, window=False):
        """Closed loop of single search_local calls; returns their answers.
        With `want`, each reply is checked as it arrives."""
        got: gate.Answers = {}
        for q in queries:
            out, dt = self.search_local(root, q, "query", window=window)
            if out is None:
                continue
            self.add("query_ms", dt * 1e3)
            ans = gate.answers(out)
            qid = int(q["query_id"].iloc[0])
            got[qid] = ans.get(qid, [])
            if want is not None:
                self.gate.check("search_local single query", {qid: got[qid]}, {qid: want.get(qid, [])})
        return got

    def batches(self, root: str, q: pd.DataFrame, want) -> None:
        """The same batch through search_local (repeated) and Spark
        search(): search_local must match `want`, Spark must match it."""
        for _ in range(self.sizes.local_batch_reps):
            out, dt = self.search_local(root, q, "local_batch")
            if out is None:
                return
            self.add("local_batch_qps", len(q) / dt)
            local_ans = gate.answers(out)
            self.gate.check("search_local batch vs oracle", local_ans, want)
        out, dt = self.op("spark_batch", self._spark_batch, root, q)
        if out is not None:
            self.add("spark_batch_qps", len(q) / dt)
            self.gate.check("Spark search vs search_local", gate.answers(out), local_ans)

    def _spark_batch(self, root: str, q: pd.DataFrame) -> pd.DataFrame:
        stats_mtime = os.stat(os.path.join(root, "stats.json")).st_mtime_ns
        if self._spark_index is None or self._spark_index[0] != (root, stats_mtime):
            self._spark_index = ((root, stats_mtime), qexec.load_index(self.spark, root))
        df = qexec.search(self.spark, self._spark_index[1], q)
        if self.tracer is None:
            return df.toPandas()
        with self.tracer.span("spark_query.exec", spark_jobs=True):
            return df.toPandas()

    # -------------------------------------------------------------- churn --
    def delete_then_probe(self, root: str, urls: list[str], probe: pd.DataFrame) -> None:
        """delete_docs, then the time until the first query is answered on
        the new generation."""
        n, dt = self.op("delete", ideletes.delete_docs, self.spark, root, urls=urls)
        if n is None:
            return
        self.add("delete_ms", dt * 1e3)
        out = self.fresh_probe(root, probe)
        if out is not None:
            self.check_no_tombstoned(root, out)

    def fresh_probe(self, root: str, probe: pd.DataFrame):
        """The first query after a write: answered on the new generation,
        so it pays for opening the serving handle."""
        out, dt = self.search_local(root, probe, "fresh_query")
        if out is not None:
            self.add("fresh_ms", dt * 1e3)
        return out

    def check_no_tombstoned(self, root: str, out: pd.DataFrame) -> None:
        dead = ideletes.load_tombstones(ibuild.IndexPaths(root))
        self.figures["delete.tombstones_live"] = len(dead)
        hit = np.isin(out["doc_id"].to_numpy(), dead)
        if hit.any():
            self.gate.fail(f"tombstoned doc_ids served: {out['doc_id'][hit].tolist()[:5]}")

    def compact(self, root: str) -> None:
        t_start = time.time()
        new_size = self.cfg.shard_size * self.sizes.compact_factor
        out, dt = self.op("compact", imaintain.compact_index, self.spark, root, new_size)
        if out is None:
            return
        self.add("compact_s", dt)
        self.figures["compact.bytes_rewritten"] = _bytes_since(root, t_start)

    # ------------------------------------------------------- verification --
    def serve_checked(
        self, root: str, texts: dict, flat: pd.DataFrame, boolq: pd.DataFrame, n_single: int
    ) -> None:
        """Oracle-checked single queries, then one batch of the flat queries
        and their BOOL twins through both executors. The oracle is exact
        only while the index holds no unpurged tombstones."""
        want = gate.oracle_answers(root, texts, flat, self.sizes.pool)
        both = pd.concat([flat, boolq], ignore_index=True)
        self.single_queries(root, self.query_stream(both, n_single, 2), want)
        self.batches(root, both, want)

    def query_stream(self, both: pd.DataFrame, n: int, salt: int):
        """n single-query frames drawn from the pool, seeded."""
        rng = np.random.default_rng([self.seed, salt])
        return (both.iloc[[i]] for i in rng.integers(0, len(both), size=n))

    def index_figures(self, root: str, texts: dict) -> None:
        """Size figures of the index as it stands, against the bytes of
        extracted text of its live documents."""
        live = gate.live_docs(root)
        text_bytes = sum(len(texts[k].encode()) for k in zip(live["segment"], live["url"]))
        self.figures["index_bytes_per_text_byte"] = index_bytes(root) / text_bytes
        n_postings = row_groups = file_bytes = 0
        for f in ibuild.committed_postings_files(ibuild.IndexPaths(root)) or []:
            pf = pq.ParquetFile(f)
            row_groups += pf.metadata.num_row_groups
            n_postings += int(pf.read(columns=["df_shard"]).column("df_shard").to_numpy().sum())
            file_bytes += os.path.getsize(f)
        self.figures["build.n_postings"] = n_postings
        self.figures["build.row_groups"] = row_groups
        self.figures["codec.bytes_per_posting"] = file_bytes / n_postings if n_postings else 0.0


def _bytes_since(root: str, t: float) -> int:
    total = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            if st.st_mtime >= t:
                total += st.st_size
    return total


def index_bytes(root: str) -> int:
    """Bytes of the index as readers see it: committed postings files plus
    the data files of the dictionary, terms, current docs tree, tombstones,
    shard log and the json metadata. Uncommitted and replaced files that
    only vacuum would remove are not counted."""
    paths = ibuild.IndexPaths(root)
    total = sum(os.path.getsize(f) for f in ibuild.committed_postings_files(paths) or [])
    for d in (paths.terms, os.path.join(root, "term_dict"), paths.docs,
              os.path.join(root, "deletes"), os.path.join(root, "shard_log")):
        for dirpath, _, names in os.walk(d):
            total += sum(
                os.path.getsize(os.path.join(dirpath, n))
                for n in names if not n.startswith((".", "_"))
            )
    return total + os.path.getsize(paths.stats) + os.path.getsize(paths.manifest)


def _indexed(pdf: pd.DataFrame, cfg: EngineConfig) -> pd.DataFrame:
    return pdf[pdf["lang"].isin(cfg.index_langs)]


def _check_extraction(r: Run, pages_path: str, pdf: pd.DataFrame) -> None:
    indexed = _indexed(pdf, r.cfg)
    sample = indexed.sample(n=min(r.sizes.text_sample, len(indexed)), random_state=r.seed)
    expected = dict(zip(sample["url"], sample["text"]))
    bad, _ = r.op("extract_check", gate.extracted_text_mismatches, r.spark, pages_path, r.cfg, expected)
    if bad:
        r.gate.fail(f"extracted text differs for {len(bad)} urls, e.g. {bad[:3]}")


# ---------------------------------------------------------------- workloads --
def bulk_build(r: Run) -> None:
    t0 = time.perf_counter()
    s = r.sizes
    pdf = corpus.pages(s.build_docs, r.seed)
    pages_path = corpus.write_pages(pdf, r.path("pages"), r.cfg.build_partitions)
    pages = r.spark.read.parquet(pages_path)
    r.op("warm_build", ibuild.build_index, r.spark, pages, r.path("warm"), r.cfg)
    shutil.rmtree(r.path("warm"), ignore_errors=True)
    r.end_setup(t0)

    n_docs = len(_indexed(pdf, r.cfg))
    flat, boolq = corpus.query_pool(s.pool)
    r.start_window()
    # a traced run needs a traced and an untraced build for trace.overhead
    min_builds = s.min_builds if r.tracer is None else max(s.min_builds, 2)
    i, last = 0, None
    while i < min_builds or not r.expired():
        out = r.path(f"index{i}")
        done, dt = r.op("build", ibuild.build_index, r.spark, pages, out, r.cfg, window=True)
        if done is not None:
            r.add("build_docs_per_s", n_docs / dt)
            if last is not None:
                shutil.rmtree(last, ignore_errors=True)
            last = out
            r.fresh_probe(out, flat.iloc[[i % len(flat)]])
        i += 1
    if last is None:
        return
    # verification tail: extraction, then oracle-checked queries and
    # batches on the last build
    r.mark("verify")
    _check_extraction(r, pages_path, pdf)
    texts = {("base", u): t for u, t in zip(pdf["url"], pdf["text"])}
    r.index_figures(last, texts)
    r.serve_checked(last, texts, flat, boolq, s.tail_queries)


def ingest_serve(r: Run) -> None:
    from invoicenet_spark.sources.snapshots import SnapshotTable

    t0 = time.perf_counter()
    s = r.sizes
    r.cfg = replace(r.cfg, shard_size=s.ingest_shard_size)
    base = corpus.pages(s.base_docs, r.seed)
    base_path = corpus.write_pages(base, r.path("base_pages"), r.cfg.build_partitions)
    table = SnapshotTable(r.path("table"))
    root = r.path("index")
    r.op("snapshot", table.append, r.spark.read.parquet(base_path))
    r.op("base_build", incremental.update_index, r.spark, table, root, r.cfg)
    flat, boolq = corpus.query_pool(s.pool)
    both = pd.concat([flat, boolq], ignore_index=True)
    r.op("warm_handle", qlocal.search_local, root, flat.iloc[[0]])
    r.end_setup(t0)

    texts = {("base", u): t for u, t in zip(base["url"], base["text"])}

    # static phase: single queries on the base index, each checked against
    # a batch answer of the same generation (the oracle checks the final,
    # compacted index)
    r.start_window()
    out, dt = r.search_local(root, both, "local_batch")
    if out is None:
        return
    r.add("local_batch_qps", len(both) / dt)
    ref = gate.answers(out)
    static_end = time.perf_counter() + s.static_share * r.seconds
    stream = r.query_stream(both, 1_000_000, 1)
    while time.perf_counter() < static_end:
        r.single_queries(root, [next(stream)], ref, window=True)

    # ingest cycles: upsert a re-crawl delta, delete a few urls, serve a burst
    r.mark("cycles")
    known = list(_indexed(base, r.cfg)["url"])
    next_seq, k = s.base_docs, 0
    while k < s.min_cycles or not r.expired():
        delta = corpus.recrawl_delta(r.seed, next_seq, s.delta_docs, known, s.recrawl_share, k)
        next_seq += s.delta_docs
        delta_path = corpus.write_pages(delta, r.path(f"delta{k}"), r.cfg.build_partitions)
        sid, _ = r.op("snapshot", table.append, r.spark.read.parquet(delta_path))
        texts.update({(f"snap{sid}", u): t for u, t in zip(delta["url"], delta["text"])})
        res, dt = r.op("update", incremental.update_index, r.spark, table, root, r.cfg, window=True)
        if res is not None:
            r.add("build_docs_per_s", res["docs_added"] / dt)
        probe = flat.iloc[[k % len(flat)]]
        r.fresh_probe(root, probe)
        live = gate.live_docs(root)
        urls = np.random.default_rng([r.seed, 77, k]).choice(
            live["url"].unique(), size=s.deletes_per_write, replace=False
        )
        r.delete_then_probe(root, list(urls), probe)
        burst = r.query_stream(both, s.burst, 100 + k)
        got = r.single_queries(root, burst, window=True)
        # within one generation every reply must equal the batch answer
        # and no tombstoned doc may be served
        out, dt = r.search_local(root, both, "local_batch")
        if out is not None:
            r.add("local_batch_qps", len(both) / dt)
            batch = gate.answers(out)
            r.gate.check("burst vs batch on one generation", got, {q: batch.get(q, []) for q in got})
            r.check_no_tombstoned(root, out)
        known += list(_indexed(delta, r.cfg)["url"])
        k += 1

    # the run ends with compaction, then a final oracle-checked burst and
    # batch over the purged index
    r.mark("compact")
    r.compact(root)
    r.mark("final")
    r.index_figures(root, texts)
    r.serve_checked(root, texts, flat, boolq, s.burst)


WORKLOADS = {"bulk_build": bulk_build, "ingest_serve": ingest_serve}
