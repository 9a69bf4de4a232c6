"""Traced runs: spans around the calls into each layer, and Spark's own
account of the jobs each facade call launched.

Spans are kept in memory (name, start, end, parent, call id) and written out
when the run ends. A span is named ``<layer>:<function>``; the layer is the
package module that owns the function. Wrappers replace the name the caller
actually looks up (the engine binds ``compile_filters`` and ``knn`` into its
own namespace, ``_load_ivf`` imports ``load_ivf_index`` from the ann module at
call time, the query embedder is an attribute of the handle), and
:meth:`Tracer.uninstall` puts every original back.

After each facade call, outside its timed interval, the tracer waits for
Spark's listener bus to drain and reads, for the call's job group, the job and
stage records of Spark's status store plus the Catalyst phase times and the
executed plan of every DataFrame the call collected.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: module attribute -> layer, for every wrapped function
MODULE_WRAPS = [
    ("modal_vector_db_spark.engine", "compile_filters", "operators.filters"),
    ("modal_vector_db_spark.operators.knn", "compile_filters", "operators.filters"),
    ("modal_vector_db_spark.engine", "knn", "operators.knn"),
    ("modal_vector_db_spark.operators.ann", "load_ivf_index", "operators.ann"),
    ("modal_vector_db_spark.operators.ann", "ivf_topk_multi", "operators.ann"),
    ("modal_vector_db_spark.operators.ann", "brute_force_topk_multi", "operators.ann"),
    ("modal_vector_db_spark.operators.hybrid", "bm25_scores", "operators.hybrid"),
    ("modal_vector_db_spark.operators.hybrid", "rrf_fuse", "operators.hybrid"),
    ("modal_vector_db_spark.sources.catalog", "read_table", "sources.catalog"),
    ("modal_vector_db_spark.sources.catalog", "append", "sources.catalog"),
    ("modal_vector_db_spark.sources.catalog", "rewrite_where", "sources.catalog"),
    ("modal_vector_db_spark.sources.catalog", "replace_where", "sources.catalog"),
    ("modal_vector_db_spark.sources.versioned", "read_table", "sources.versioned"),
    ("modal_vector_db_spark.sources.versioned", "scan", "sources.versioned"),
    ("modal_vector_db_spark.sources.versioned", "resolve_files", "sources.versioned"),
    ("modal_vector_db_spark.sources.versioned", "append", "sources.versioned"),
    ("modal_vector_db_spark.sources.versioned", "tombstone", "sources.versioned"),
    ("modal_vector_db_spark.sources.versioned", "rewrite_where", "sources.versioned"),
    ("modal_vector_db_spark.sources.versioned", "replace_where", "sources.versioned"),
]


def _now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self.calls: list[dict] = []
        self._next_call = 0
        self._stack: list[int] = []
        self._call: dict | None = None
        self._restore: list[tuple[object, str, object]] = []
        self.udf_rows = self.sc.accumulator(0)
        self.bookkeeping_s = 0.0

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": _now_ms(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "call": self._call["id"] if self._call else None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = _now_ms()
            self._stack.pop()

    def _wrapped(self, fn, name: str, after=None):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
            if after is not None:
                out = after(out, rec)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self, db=None) -> None:
        """Wrap the layers' functions; ``db``'s query embedder too."""
        import importlib

        for mod_name, attr, layer in MODULE_WRAPS:
            mod = importlib.import_module(mod_name)
            after = self._wrap_index if attr == "load_ivf_index" else None
            self._patch(mod, attr, self._wrapped(getattr(mod, attr), f"{layer}:{attr}", after))
        engine = importlib.import_module("modal_vector_db_spark.engine")
        self._patch(engine, "embed_udf", self._counting_embed_udf(engine.embed_udf))
        if db is not None:
            self.watch_embedder(db)
        frame = type(self.spark.range(1))
        self._patch(frame, "collect", self._collect(frame.collect))

    def watch_embedder(self, db) -> None:
        emb = db._embedder
        emb.embed = self._wrapped(emb.embed, "embedders:embed")

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, old = self._restore.pop()
            setattr(owner, attr, old)

    def _wrap_index(self, index, rec):
        """A loaded IVF index is a fresh object per load: wrap its probe."""
        def after(probes, span):
            span["probes"] = len(probes)
            return probes

        index.nearest_centroids = self._wrapped(
            index.nearest_centroids, "operators.ann:nearest_centroids", after
        )
        return index

    def _counting_embed_udf(self, make_udf):
        """The insert path's embedding UDF, counting the rows it embeds in
        an accumulator (the UDF runs in executor Python workers)."""
        acc = self.udf_rows
        wrap = self._wrapped

        def embed_udf(*args, **kwargs):
            from pyspark.sql import functions as F
            from pyspark.sql.types import ArrayType, FloatType

            inner = make_udf(*args, **kwargs).func

            @F.pandas_udf(ArrayType(FloatType()))
            def _counted(texts):
                acc.add(len(texts))
                return inner(texts)

            return _counted

        return wrap(embed_udf, "embedders:embed_udf")

    def _collect(self, orig):
        tracer = self

        def collect(df):
            call = tracer._call
            if call is None:
                return orig(df)
            with tracer.span("spark:collect"):
                out = orig(df)
            call["collects"].append((df, _now_ms()))
            return out

        return collect

    # -- facade calls -----------------------------------------------------
    @contextmanager
    def call(self, op: str):
        """Root span of one facade call; its Spark jobs carry a job group."""
        rec = {"id": self._next_call, "op": op, "collects": [], "first_span": len(self.spans)}
        self._next_call += 1
        group = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(group, op)
        self._call = rec
        try:
            with self.span(f"engine:{op}") as root:
                yield rec
        finally:
            self._call = None
            self.sc._jsc.clearJobGroup()
        rec["wall_ms"] = root["end"] - root["start"]
        t0 = time.perf_counter()
        self._account(rec, group)
        self.calls.append(rec)
        self.bookkeeping_s += time.perf_counter() - t0

    def _account(self, rec: dict, group: str) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jobs = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(jid)
            start, end = jd.submissionTime(), jd.completionTime()
            if not (start.isDefined() and end.isDefined()):
                continue
            jobs.append(
                {
                    "start": float(start.get().getTime()),
                    "end": float(end.get().getTime()),
                    "tasks": jd.numCompletedTasks(),
                }
            )
        rec["jobs"] = sorted(jobs, key=lambda j: j["start"])
        rec["exec_ms"] = _union_ms([(j["start"], j["end"]) for j in jobs])
        rec["tasks"] = sum(j["tasks"] for j in jobs)
        phases = defaultdict(float)
        scan = defaultdict(float)
        for df, _ in rec["collects"]:
            qe = df._jdf.queryExecution()
            tracked = qe.tracker().phases()
            for p in ("analysis", "optimization", "planning"):
                opt = tracked.get(p)
                if opt.isDefined():
                    phases[p] += opt.get().durationMs()
            _walk_plan(qe.executedPlan(), scan)
        rec["phases"] = dict(phases)
        rec["scan"] = dict(scan)
        if rec["collects"] and jobs:
            last_return = rec["collects"][-1][1]
            ends = [j["end"] for j in jobs if j["end"] <= last_return]
            rec["readback_ms"] = last_return - max(ends) if ends else 0.0
        rec["collects"] = len(rec["collects"])
        rec["self_ms"] = self._self_times(rec)

    def _self_times(self, rec: dict) -> dict:
        """Self time per layer for one call: each span's duration minus its
        child spans and minus the Spark job time that ran inside it (job
        time is the ``spark.jobs`` layer; what remains of ``spark:collect``
        is ``spark.driver``: planning, scheduling and readback)."""
        spans = list(enumerate(self.spans[rec["first_span"]:], start=rec["first_span"]))
        child_ms = defaultdict(float)
        for _, s in spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += s["end"] - s["start"]
        owned = defaultdict(list)
        for j in rec["jobs"]:
            owner = None
            for i, s in spans:  # deepest span open when the job started
                if s["start"] <= j["start"] <= s["end"]:
                    owner = i
            if owner is not None:
                owned[owner].append((j["start"], min(j["end"], self.spans[owner]["end"])))
        # concurrent jobs (AQE submits independent stages together) count once
        job_ms = {i: _union_ms(iv) for i, iv in owned.items()}
        out = defaultdict(float)
        for i, s in spans:
            layer = s["name"].split(":")[0]
            if layer == "spark":
                layer = "spark.driver"
            out[layer] += s["end"] - s["start"] - child_ms[i] - job_ms.get(i, 0.0)
        out["spark.jobs"] = sum(job_ms.values())
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return []  # its child was already counted where it ran
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _metric(node, key: str) -> float:
    m = node.metrics().get(key)
    return float(m.get().value()) if m.isDefined() else 0.0


def _walk_plan(node, acc: dict) -> None:
    """Sum the scan and shuffle SQL metrics of an executed plan."""
    try:
        cls = node.getClass().getSimpleName()
        if cls == "FileSourceScanExec":
            acc["rows"] += _metric(node, "numOutputRows")
            acc["files"] += _metric(node, "numFiles")
            acc["bytes"] += _metric(node, "filesSize")
        elif cls == "ShuffleExchangeExec":
            acc["shuffle_bytes"] += _metric(node, "shuffleBytesWritten")
        for child in _children(node):
            _walk_plan(child, acc)
    except Py4JJavaError:
        acc["walk_errors"] += 1


OPS = ("query", "ann_query", "ann_batch", "hybrid", "insert", "update", "delete")
READ_OPS = ("query", "ann_query", "ann_batch", "hybrid")
PHASES = ("analysis", "optimization", "planning")


def span_cost_ms(tracer: Tracer, n: int = 2000) -> float:
    """What one span adds to a traced call, measured on a no-op."""
    probe = tracer._wrapped(lambda: None, "probe:noop")
    t = time.perf_counter()
    for _ in range(n):
        probe()
    cost = (time.perf_counter() - t) * 1000.0 / n
    del tracer.spans[-n:]
    return cost


def summarize(tracer: Tracer) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the traced calls. Per-op values are means per
    call of that op, or shares of that op's wall time (``*_frac``); an op
    the workload never runs reads 0."""
    by_op: dict[str, list[dict]] = defaultdict(list)
    for c in tracer.calls:
        by_op[c["op"]].append(c)
    spans: dict[int, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        if s["call"] is not None:
            spans[s["call"]].append(s)

    def mean(op, f) -> float:
        xs = [f(c) for c in by_op[op]] if op else [f(c) for c in tracer.calls]
        return float(sum(xs) / len(xs)) if xs else 0.0

    def share(op, f) -> float:
        wall = sum(c["wall_ms"] for c in by_op[op])
        return float(sum(f(c) for c in by_op[op]) / wall) if wall else 0.0

    def in_spans(c, name, f=lambda s: s["end"] - s["start"]) -> float:
        return sum(f(s) for s in spans[c["id"]] if s["name"] == name)

    def span_mean(names) -> float:
        ds = [s["end"] - s["start"] for c in tracer.calls for s in spans[c["id"]] if s["name"] in names]
        return float(sum(ds) / len(ds)) if ds else 0.0

    def jobs_in(c, name) -> int:
        box = [(s["start"], s["end"]) for s in spans[c["id"]] if s["name"] == name]
        return sum(1 for j in c["jobs"] if any(a <= j["start"] <= b for a, b in box))

    out: dict[str, tuple[float, str]] = {}
    for op in OPS:
        out[f"engine.{op}.jobs"] = (mean(op, lambda c: len(c["jobs"])), "count")
        out[f"engine.{op}.tasks"] = (mean(op, lambda c: c["tasks"]), "count")
        out[f"engine.{op}.exec_frac"] = (share(op, lambda c: c["exec_ms"]), "fraction")
    for op in READ_OPS:
        out[f"scan.{op}.rows"] = (mean(op, lambda c: c["scan"].get("rows", 0.0)), "rows")
        out[f"scan.{op}.files"] = (mean(op, lambda c: c["scan"].get("files", 0.0)), "count")
        out[f"scan.{op}.bytes"] = (mean(op, lambda c: c["scan"].get("bytes", 0.0)), "bytes")
        out[f"shuffle.{op}.bytes"] = (mean(op, lambda c: c["scan"].get("shuffle_bytes", 0.0)), "bytes")
        out[f"spark.{op}.catalyst_frac"] = (share(op, lambda c: sum(c["phases"].values())), "fraction")
        out[f"readback.{op}.frac"] = (share(op, lambda c: c.get("readback_ms", 0.0)), "fraction")
    out["engine.query.exec_ms"] = (mean("query", lambda c: c["exec_ms"]), "ms")
    out["engine.query.driver_ms"] = (mean("query", lambda c: c["wall_ms"] - c["exec_ms"]), "ms")
    for p in PHASES:
        out[f"spark.query.{p}_ms"] = (mean("query", lambda c: c["phases"].get(p, 0.0)), "ms")
    out["readback.query.ms"] = (mean("query", lambda c: c.get("readback_ms", 0.0)), "ms")
    out["engine.exec_ms"] = (mean(None, lambda c: c["exec_ms"]), "ms")
    out["engine.driver_ms"] = (mean(None, lambda c: c["wall_ms"] - c["exec_ms"]), "ms")
    out["embedders.embed_ms"] = (span_mean({"embedders:embed"}), "ms")
    out["embedders.udf_rows"] = (float(tracer.udf_rows.value), "rows")
    out["filters.compile_ms"] = (span_mean({"operators.filters:compile_filters"}), "ms")
    reads = ("sources.catalog:read_table", "sources.versioned:read_table")
    out["catalog.read_table_ms"] = (span_mean(set(reads)), "ms")
    for op in ("query", "ann_query"):
        out[f"catalog.{op}.read_table_calls"] = (
            mean(op, lambda c: sum(in_spans(c, r, lambda s: 1) for r in reads)), "count"
        )
    load = "operators.ann:load_ivf_index"
    out["ann.index_load_ms"] = (span_mean({load}), "ms")
    loads = sum(in_spans(c, load, lambda s: 1) for c in tracer.calls)
    out["ann.index_load_jobs"] = (
        sum(jobs_in(c, load) for c in tracer.calls) / loads if loads else 0.0, "count"
    )
    probe = "operators.ann:nearest_centroids"
    out["ann.nearest_centroids_frac"] = (share("ann_query", lambda c: in_spans(c, probe)), "fraction")
    out["ann.probed_clusters"] = (mean("ann_query", lambda c: in_spans(c, probe, lambda s: s["probes"])), "count")
    out["versioned.append_frac"] = (share("insert", lambda c: in_spans(c, "sources.versioned:append")), "fraction")
    out["versioned.resolve_files_frac"] = (
        share("query", lambda c: in_spans(c, "sources.versioned:resolve_files")), "fraction"
    )
    return out


def self_time_table(tracer: Tracer) -> dict[str, dict[str, float]]:
    """Mean self time per layer per call, by op, with the mean wall time."""
    by_op: dict[str, list[dict]] = defaultdict(list)
    for c in tracer.calls:
        by_op[c["op"]].append(c)
    table = {}
    for op, calls in by_op.items():
        layers: dict[str, float] = defaultdict(float)
        for c in calls:
            for layer, ms in c["self_ms"].items():
                layers[layer] += ms / len(calls)
        layers["wall"] = sum(c["wall_ms"] for c in calls) / len(calls)
        table[op] = dict(layers)
    return table
