"""Per-layer trace, recorded from outside the engine.

The tracer wraps the module-level functions (and the serving classes'
methods) through which a run enters each engine layer. Each wrapper opens
a span (name, start, end, parent, run id); spans around Spark work also set
a Spark job group, so the jobs a span caused can be listed afterwards with
`statusTracker`. Stage shuffle, spill and executor time come from the
driver's REST endpoint on localhost. Spans stay in memory and are written
out when the run ends.

Wrappers check `enabled` on every call, so a run can alternate traced and
untraced operations and measure what the tracing costs."""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
import urllib.request
from collections import Counter
from contextlib import contextmanager
from datetime import datetime

BUILD_SPANS = ("doc_table", "term_dict", "range_sample", "encode_write", "finalize")
SPAN_STATS = (
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("tasks", "count", "lower"),
    ("executor_run_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("shuffle_read_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
)

# (name, unit, better): every metric a traced run reports, in output order
PER_LAYER = (
    [("session.start_s", "s", "lower")]
    + [(f"build.{s}.{m}", u, b) for s in BUILD_SPANS for m, u, b in SPAN_STATS]
    + [
        ("codec.bytes_per_posting", "B", "lower"),
        ("build.n_postings", "count", "lower"),
        ("build.row_groups", "count", "lower"),
        ("serve.normalize_ms", "ms", "lower"),
        ("serve.term_info_ms", "ms", "lower"),
        ("serve.postings_read_ms", "ms", "lower"),
        ("serve.row_groups_read", "count", "lower"),
        ("serve.postings_bytes_read", "B", "lower"),
        ("serve.shards_touched", "count", "lower"),
        ("serve.kernel_ms", "ms", "lower"),
        ("serve.url_ms", "ms", "lower"),
        ("serve.handle_open_ms", "ms", "lower"),
        ("kernels.blocks_decoded", "count", "lower"),
        ("kernels.blocks_total", "count", "lower"),
        ("kernels.blocks_decoded_ratio", "ratio", "lower"),
        ("spark_query.plan_s", "s", "lower"),
        ("spark_query.exec_s", "s", "lower"),
        ("spark_query.jobs_per_batch", "count", "lower"),
        ("spark_query.tasks", "count", "lower"),
        ("spark_query.py4j_calls", "count", "lower"),
        ("spark_query.shuffle_write_mb", "MB", "lower"),
        ("spark_query.shuffle_read_mb", "MB", "lower"),
        ("update.jobs", "count", "lower"),
        ("update.docs_upserted", "count", "higher"),
        ("delete.tombstones_live", "count", "lower"),
        ("compact.tasks", "count", "lower"),
        ("compact.bytes_rewritten", "B", "lower"),
        ("compact.purged_docs", "count", "higher"),
        ("trace.coverage", "ratio", "higher"),
        ("trace.overhead", "ratio", "lower"),
    ]
)

# top-level operations whose own (non-child) time is driver glue, not a layer
_GLUE = {"build", "update", "serve"}
_MB = 1 / (1 << 20)


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._stack: list[dict] = []
        self._seq = itertools.count()
        self._lock = threading.Lock()
        self._own_call = False
        self._in_postings_read = False

    # ------------------------------------------------------------- spans --
    @contextmanager
    def span(self, name: str, spark_jobs: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._seq),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "attrs": attrs,
        }
        if spark_jobs:
            rec["group"] = f"{self.run_id}.{rec['id']}"
            self._set_group(rec["group"], name)
        py4j_at_start = self.counts["py4j_calls"]
        rec["start"] = time.perf_counter()
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["py4j_calls"] = self.counts["py4j_calls"] - py4j_at_start
            if spark_jobs:
                outer = next((s for s in reversed(self._stack) if "group" in s), None)
                self._set_group(outer["group"] if outer else None, outer and outer["name"])
            self.spans.append(rec)

    def _set_group(self, group: str | None, description: str | None) -> None:
        self._own_call = True
        try:
            if group is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(group, description)
        finally:
            self._own_call = False

    def count(self, key: str, n: int = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[key] += n

    # ---------------------------------------------------------- wrappers --
    def wrap_function(self, module: str, attr: str, name: str, spark_jobs: bool = True) -> None:
        """Replace a module-level function everywhere the engine's modules
        hold a reference to it (including `from x import f` aliases)."""
        orig = getattr(sys.modules[module], attr)

        @functools.wraps(orig)
        def wrapper(*a, **k):
            with self.span(name, spark_jobs) as rec:
                out = orig(*a, **k)
                if rec is not None and isinstance(out, dict):
                    rec["attrs"]["result"] = {
                        key: v for key, v in out.items() if isinstance(v, (int, float))
                    }
                return out

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("invoicenet_spark"):
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, wrapper)

    def wrap_method(self, cls, attr: str, name: str | None, cold=None, after=None) -> None:
        """Span a method. `cold(obj)` true before the call means the call
        opens serving state (the span is serve.handle_open); name=None
        spans only cold calls. `after(obj, args, out)` records counters."""
        orig = getattr(cls, attr)

        @functools.wraps(orig)
        def wrapper(obj, *a, **k):
            span_name = "serve.handle_open" if cold is not None and cold(obj) else name
            if span_name is None or not self.enabled:
                out = orig(obj, *a, **k)
            else:
                with self.span(span_name):
                    out = orig(obj, *a, **k)
            if after is not None and self.enabled:
                after(obj, a, out)
            return out

        setattr(cls, attr, wrapper)

    def install(self) -> None:
        import py4j.java_gateway
        import pyarrow.parquet as pq

        from invoicenet_spark.index import codec
        from invoicenet_spark.query import kernels, local

        for module, attr, name in (
            ("invoicenet_spark.index.build", "build_index", "build"),
            ("invoicenet_spark.index.build", "_term_dictionary", "build.term_dict"),
            ("invoicenet_spark.index.build", "_encode_and_commit", "build.encode_write"),
            ("invoicenet_spark.index.build", "_finalize", "build.finalize"),
            ("invoicenet_spark.streaming.incremental", "update_index", "update"),
            ("invoicenet_spark.index.deletes", "delete_docs", "delete"),
            ("invoicenet_spark.index.deletes", "write_tombstones", "delete.write"),
            ("invoicenet_spark.index.maintain", "compact_index", "compact"),
            ("invoicenet_spark.query.exec", "search", "spark_query.plan"),
        ):
            self.wrap_function(module, attr, name)
        for attr, name in (
            ("search_local", "serve"),
            ("normalize_local_queries", "serve.normalize"),
            ("_run_one_query", "serve.kernel"),
        ):
            self.wrap_function("invoicenet_spark.query.local", attr, name, spark_jobs=False)

        li = local.LocalIndex
        self.wrap_method(li, "__init__", "serve.handle_open")
        self.wrap_method(li, "catalog", None, cold=lambda o: o._catalog is None)
        self.wrap_method(li, "deleted_by_shard", None, cold=lambda o: o._deleted_by_shard is None)
        self.wrap_method(li, "docs_dataset", None, cold=lambda o: o._docs_ds is None)
        self.wrap_method(
            li, "term_info", "serve.term_info",
            cold=lambda o: o._dict is None and not o._dict_too_big,
        )
        self.wrap_method(li, "urls_for", "serve.url")

        tracer = self
        read = local._PostingsCatalog.read

        @functools.wraps(read)
        def postings_read(obj, *a, **k):
            if not tracer.enabled:
                return read(obj, *a, **k)
            with tracer.span("serve.postings_read"):
                tracer._in_postings_read = True
                try:
                    out = read(obj, *a, **k)
                finally:
                    tracer._in_postings_read = False
            if len(out) and "shard" in out:
                tracer.count("shards_touched", int(out["shard"].nunique()))
            return out

        local._PostingsCatalog.read = postings_read

        read_row_groups = pq.ParquetFile.read_row_groups

        @functools.wraps(read_row_groups)
        def counted_read_row_groups(pf, row_groups, columns=None, *a, **k):
            if tracer.enabled and tracer._in_postings_read:
                md = pf.metadata
                names = pf.schema_arrow.names
                cols = [names.index(c) for c in columns] if columns else range(md.num_columns)
                nbytes = sum(
                    md.row_group(rg).column(c).total_compressed_size
                    for rg in row_groups for c in cols
                )
                tracer.count("row_groups_read", len(row_groups))
                tracer.count("postings_bytes_read", nbytes)
            return read_row_groups(pf, row_groups, columns, *a, **k)

        pq.ParquetFile.read_row_groups = counted_read_row_groups

        tp = kernels.TermPostings
        self.wrap_method(tp, "__init__", None, after=lambda o, a, out: self.count("blocks_total", o.n_blocks))
        self.wrap_method(tp, "decode_all", None, after=lambda o, a, out: self.count("blocks_decoded", o.n_blocks))
        self.wrap_method(tp, "decode_one_block", None, after=lambda o, a, out: self.count("blocks_decoded"))
        batch = codec.decode_blocks_batch

        @functools.wraps(batch)
        def counted_batch(row, block_idxs, *a, **k):
            tracer.count("blocks_decoded", len(block_idxs))
            return batch(row, block_idxs, *a, **k)

        codec.decode_blocks_batch = counted_batch

        send = py4j.java_gateway.GatewayClient.send_command

        @functools.wraps(send)
        def counted_send(client, *a, **k):
            if tracer.enabled and not tracer._own_call:
                tracer.counts["py4j_calls"] += 1
            return send(client, *a, **k)

        py4j.java_gateway.GatewayClient.send_command = counted_send

    # --------------------------------------------------------- resolution --
    def _rest(self, path: str) -> list:
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def resolve(self) -> None:
        """Attach Spark job, stage and task figures to every span that set
        a job group, and split out the synthetic child spans: the range
        sampling job inside the encode, and the doc-table phase at the start
        of a build or update."""
        self.enabled = False
        time.sleep(0.5)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        stages = {s["stageId"]: s for s in self._rest("stages")}
        jobs = {j["jobId"]: j for j in self._rest("jobs")}
        status = self.sc.statusTracker()
        job_stages: dict[int, list[int]] = {}
        for rec in self.spans:
            if "group" not in rec:
                continue
            rec["jobs"] = sorted(status.getJobIdsForGroup(rec["group"]))
            for j in rec["jobs"]:
                info = status.getJobInfo(j)
                job_stages[j] = sorted(info.stageIds) if info else []

        def job_stats(job_ids: list[int]) -> dict:
            ran = [
                stages[s] for j in job_ids for s in job_stages.get(j, ())
                if s in stages and stages[s]["status"] == "COMPLETE"
            ]
            return {
                "jobs": len(job_ids),
                "stages": len(ran),
                "tasks": sum(s["numCompleteTasks"] for s in ran),
                "executor_run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
                "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) * _MB,
                "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in ran) * _MB,
                "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran) * _MB,
            }

        def job_seconds(j: int) -> float:
            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            a, b = jobs[j]["submissionTime"], jobs[j]["completionTime"]
            return (datetime.strptime(b, fmt) - datetime.strptime(a, fmt)).total_seconds()

        synthetic = []
        by_parent: dict[int, list[dict]] = {}
        for rec in self.spans:
            by_parent.setdefault(rec["parent"], []).append(rec)
        for rec in self.spans:
            if "group" not in rec:
                continue
            own = rec["jobs"]
            if rec["name"] == "build.encode_write":
                sample = self._range_sample_jobs(own, job_stages, stages)
                if sample:
                    own = [j for j in own if j not in sample]
                    dur = sum(job_seconds(j) for j in sample)
                    synthetic.append({
                        "id": next(self._seq), "name": "build.range_sample",
                        "parent": rec["id"], "run": self.run_id, "attrs": {},
                        "start": rec["start"], "end": rec["start"] + dur,
                        "jobs": sample, "stats": job_stats(sample), "synthetic": True,
                    })
            elif rec["name"] in ("build", "update"):
                kids = sorted(by_parent.get(rec["id"], []), key=lambda s: s["start"])
                end = kids[0]["start"] if kids else rec["end"]
                synthetic.append({
                    "id": next(self._seq), "name": "build.doc_table",
                    "parent": rec["id"], "run": self.run_id, "attrs": {},
                    "start": rec["start"], "end": end,
                    "jobs": own, "stats": job_stats(own), "synthetic": True,
                })
                own = []
            rec["stats"] = job_stats(own)
        self.spans.extend(synthetic)

    @staticmethod
    def _range_sample_jobs(job_ids, job_stages, stages) -> list[int]:
        """The range partitioner's sampling job: the job right before a
        shuffle-map job of the same span, running one stage that writes no
        shuffle and recomputes that map stage's input (they share RDDs)."""

        def ran(j):
            return [
                stages[s] for s in job_stages.get(j, ())
                if s in stages and stages[s]["status"] == "COMPLETE"
            ]

        out = []
        for j in job_ids:
            mine, nxt = ran(j), ran(j + 1) if j + 1 in job_ids else []
            map_rdds = set().union(*(set(s["rddIds"]) for s in nxt if s["shuffleWriteBytes"]))
            if len(mine) == 1 and not mine[0]["shuffleWriteBytes"] and map_rdds & set(mine[0]["rddIds"]):
                out.append(j)
        return out

    # --------------------------------------------------------- reporting --
    def self_times(self) -> dict[int, float]:
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - kids.get(s["id"], 0.0) for s in self.spans}

    def coverage(self) -> float:
        """Sum of layer self times over the wall time of the top-level
        operations; the own time of build, update and search_local calls
        (driver glue between layers) is not a layer."""
        selft = self.self_times()
        top = [s for s in self.spans if s["parent"] is None]
        layer = sum(t for s in self.spans for t in [selft[s["id"]]] if s["name"] not in _GLUE)
        wall = sum(s["end"] - s["start"] for s in top)
        return layer / wall if wall else 0.0

    def _subtree(self, root_id: int) -> list[dict]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out, todo = [], [root_id]
        while todo:
            for s in kids.get(todo.pop(), ()):
                out.append(s)
                todo.append(s["id"])
        return out

    def layer_metrics(self, extra: dict) -> dict[str, float]:
        """Every PER_LAYER value. Build spans are averaged per build (or,
        in a run without bulk builds, per incremental update); serving
        figures per query answered by search_local; Spark query figures
        per batch. `extra` carries what is read from the index files and
        the run itself rather than from spans."""
        top = [s for s in self.spans if s["parent"] is None]
        selft = self.self_times()
        out: dict[str, float] = {"session.start_s": extra["session.start_s"]}

        def stats_sum(spans) -> dict:
            acc = Counter()
            for s in spans:
                acc["wall_s"] += s["end"] - s["start"]
                for k, v in s.get("stats", {}).items():
                    acc[k] += v
            return acc

        kind = "build" if any(s["name"] == "build" for s in top) else "update"
        ops = [s for s in top if s["name"] == kind]
        for name in BUILD_SPANS:
            acc = Counter()
            for op in ops:
                acc.update(stats_sum(
                    s for s in self._subtree(op["id"]) if s["name"] == f"build.{name}"
                ))
            for m, _, _ in SPAN_STATS:
                out[f"build.{name}.{m}"] = acc[m] / len(ops) if ops else 0.0

        out["codec.bytes_per_posting"] = extra["codec.bytes_per_posting"]
        out["build.n_postings"] = extra["build.n_postings"]
        out["build.row_groups"] = extra["build.row_groups"]

        nq = self.counts["local_queries"]
        for part in ("normalize", "term_info", "postings_read", "kernel", "url", "handle_open"):
            t = sum(selft[s["id"]] for s in self.spans if s["name"] == f"serve.{part}")
            out[f"serve.{part}_ms"] = 1e3 * t / nq if nq else 0.0
        for key in ("row_groups_read", "postings_bytes_read", "shards_touched"):
            out[f"serve.{key}"] = self.counts[key] / nq if nq else 0.0
        out["kernels.blocks_decoded"] = self.counts["blocks_decoded"] / nq if nq else 0.0
        out["kernels.blocks_total"] = self.counts["blocks_total"] / nq if nq else 0.0
        total = self.counts["blocks_total"]
        out["kernels.blocks_decoded_ratio"] = self.counts["blocks_decoded"] / total if total else 0.0

        plans = [s for s in top if s["name"] == "spark_query.plan"]
        execs = [s for s in top if s["name"] == "spark_query.exec"]
        nb = len(execs)
        both = stats_sum(plans + execs)
        out["spark_query.plan_s"] = stats_sum(plans)["wall_s"] / nb if nb else 0.0
        out["spark_query.exec_s"] = stats_sum(execs)["wall_s"] / nb if nb else 0.0
        out["spark_query.jobs_per_batch"] = both["jobs"] / nb if nb else 0.0
        out["spark_query.tasks"] = both["tasks"] / nb if nb else 0.0
        out["spark_query.py4j_calls"] = sum(s["py4j_calls"] for s in plans + execs) / nb if nb else 0.0
        out["spark_query.shuffle_write_mb"] = both["shuffle_write_mb"] / nb if nb else 0.0
        out["spark_query.shuffle_read_mb"] = both["shuffle_read_mb"] / nb if nb else 0.0

        updates = [s for s in top if s["name"] == "update"]
        out["update.jobs"] = (
            sum(stats_sum([u, *self._subtree(u["id"])])["jobs"] for u in updates) / len(updates)
            if updates else 0.0
        )
        out["update.docs_upserted"] = (
            sum(u["attrs"].get("result", {}).get("docs_upserted", 0) for u in updates) / len(updates)
            if updates else 0.0
        )
        out["delete.tombstones_live"] = extra["delete.tombstones_live"]
        compacts = [s for s in top if s["name"] == "compact"]
        out["compact.tasks"] = (
            sum(stats_sum([c, *self._subtree(c["id"])])["tasks"] for c in compacts) / len(compacts)
            if compacts else 0.0
        )
        out["compact.bytes_rewritten"] = extra["compact.bytes_rewritten"]
        out["compact.purged_docs"] = (
            sum(c["attrs"].get("result", {}).get("purged_docs", 0) for c in compacts) / len(compacts)
            if compacts else 0.0
        )
        out["trace.coverage"] = self.coverage()
        out["trace.overhead"] = extra["trace.overhead"]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
