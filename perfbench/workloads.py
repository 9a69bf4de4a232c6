"""The workloads. Each is a closed loop with one client: the benchmark waits
for every reply before it sends the next call.

A workload sets up its table, then repeats a short fixed pattern of calls,
whole patterns only, until ``--seconds`` have run. The order of call types is
fixed; the seed picks the data: the corpus, query vectors and texts, filters,
and which rows each write touches.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

import numpy as np

from perfbench import checks
from perfbench.corpus import (
    CATEGORIES,
    DIM,
    VOCAB,
    content_id,
    hashing_embed,
    make_doc,
    serve_corpus,
    user_bytes,
    write_parquet,
)

K = 10
SIZES = {
    # serve_rows: corpus rows; ingest_rows: rows before the first timed write
    "full": {"serve_rows": 5000, "batch_queries": 64, "ingest_rows": 2000, "insert_batch": 200},
    "tiny": {"serve_rows": 1500, "batch_queries": 8, "ingest_rows": 300, "insert_batch": 40},
}


class Run:
    """One benchmark run: the session, the inputs' seed, and what the
    workload measured."""

    def __init__(self, spark, seed: int, seconds: float, size: str, work_dir: str, tracer, t0: float, sentinel):
        self.spark = spark
        self.sentinel = sentinel
        self.sentinel_ms: list[float] = []
        self.seed = seed
        self.seconds = seconds
        self.size = SIZES[size]
        self.work_dir = work_dir
        self.warehouse = os.path.join(work_dir, "warehouse")
        self.tracer = tracer
        self.t0 = t0
        self.setup_s: float | None = None
        self.warming = False
        #: calls of each op in one run of the workload's fixed mix
        self.mix: dict[str, int] = {}
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.notes: list[str] = []
        self.e2e: dict[str, tuple[float, str, str]] = {}
        # counters of a versioned table; they stay 0 on a workload without one
        self.layer: dict[str, tuple[float, str]] = {
            name: (0.0, unit)
            for name, unit in (
                ("versioned.manifest_versions", "count"),
                ("versioned.files_live", "count"),
                ("versioned.commits_per_insert", "count"),
                ("storage.write_amp", "ratio"),
            )
        }

    def setup_done(self) -> None:
        """Set-up ends at the first timed call; the drift sentinel runs
        between the two."""
        self.setup_s = time.perf_counter() - self.t0
        self.sentinel()  # warms the calibration's own code paths
        self.sentinel_ms.append(self.sentinel())

    def call(self, op: str, fn):
        """Time one facade call. Returns (ok, result); a raised exception
        is a failed call. Warm-up calls are checked but not timed."""
        self.attempted += 1
        ctx = self.tracer.call(op) if self.tracer and not self.warming else nullcontext()
        try:
            with ctx:
                t = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t
        except Exception:
            self.failed += 1
            self.problems.append(f"{op} raised: {traceback.format_exc(limit=3)}")
            return False, None
        if not self.warming:
            self.lat[op].append(dt * 1000.0)
        return True, out

    def warm_up(self, steps) -> None:
        """Run each step once before the timed loop, as part of set-up: a
        call type's first call pays one-off costs (Python workers, JIT)."""
        self.warming = True
        try:
            for step in steps:
                step(0)
        finally:
            self.warming = False

    def check(self, what: str, problems: list[str]) -> None:
        if problems:
            self.failed += 1
            self.problems.append(f"{what}: " + "; ".join(problems[:3]))

    def repeat(self, pattern, min_cycles: int = 1) -> int:
        """Run whole patterns, at least ``min_cycles`` of them, until
        ``seconds`` have run (the tracer's own bookkeeping between calls
        does not count)."""
        start = time.perf_counter()
        bk0 = self.tracer.bookkeeping_s if self.tracer else 0.0
        cycles = 0
        while True:
            for step in pattern:
                step(cycles)
            cycles += 1
            bk = (self.tracer.bookkeeping_s - bk0) if self.tracer else 0.0
            if cycles >= min_cycles and time.perf_counter() - start - bk >= self.seconds:
                return cycles

    def mix_mean_ms(self) -> float | None:
        """Mean latency of one call of the fixed mix, from each op's median
        latency: it does not depend on where in the mix the time ran out."""
        if not self.mix or any(not self.lat.get(op) for op in self.mix):
            return None
        total = sum(n * statistics.median(self.lat[op]) for op, n in self.mix.items())
        return total / sum(self.mix.values())

    def metric(self, name: str, value: float, unit: str, note: str = "") -> None:
        self.e2e[name] = (float(value), unit, note)

    def latency_metrics(self, name: str, op: str, tail: bool = True) -> None:
        xs = self.lat.get(op)
        if not xs:
            return
        self.metric(f"{name}_p50_ms", statistics.median(xs), "ms", f"n={len(xs)}")
        if tail:
            got = tail_percentile(xs)
            if got is None:
                self.notes.append(f"{name}_tail_ms not reported: {len(xs)} samples, p75 needs 40")
            else:
                self.metric(f"{name}_tail_ms", got[1], "ms", f"p{got[0]:g} of n={len(xs)}")


def tail_percentile(xs: list[float]) -> tuple[float, float] | None:
    """The highest of p99.9/p99/p95/p90/p75 with at least 10 samples beyond
    it, as (percentile, value); None below 40 samples, where none qualifies."""
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        if n * (100.0 - p) >= 1000.0 - 1e-9:  # n·(1 − p/100) ≥ 10, free of rounding
            return p, float(np.percentile(xs, p))
    return None


def _rows(results) -> list[tuple[str, float]]:
    return [(r.id, r.distance) for r in results]


def _meta_problems(results, corpus) -> list[str]:
    return [
        f"id {r.id}: metadata {r.metadata} differs from the stored row"
        for r in results
        if corpus.row(r.id) is not None and corpus.metas[corpus.row(r.id)] != r.metadata
    ]


# -- serve --------------------------------------------------------------------
def serve(run: Run) -> None:
    """Read-only serving over a bulk-loaded plain table with an IVF index."""
    from modal_vector_db_spark.engine import VectorDB

    size = run.size
    corpus = serve_corpus(run.seed, size["serve_rows"])
    path = os.path.join(run.work_dir, "corpus.parquet")
    write_parquet(corpus, path)
    db = VectorDB(run.spark, "serve", warehouse=run.warehouse, create_new_table=True)
    db.load_from_parquet(path, build_index=False)
    db.create_index()
    rng = np.random.default_rng([run.seed, 2])
    recalls: list[float] = []

    def near_vec() -> np.ndarray:
        base = corpus.vecs[rng.integers(len(corpus))]
        return (base + 0.3 * rng.normal(size=DIM)).astype(np.float32)

    def words() -> str:
        return " ".join(rng.choice(VOCAB, 3))

    def a_filter(i: int) -> dict:
        c = int(rng.integers(CATEGORIES))
        lo = round(float(rng.uniform(0.0, 80.0)), 2)
        return [
            {"category": c},
            {"price": ("between", (lo, lo + 20.0))},
            {"$or": [{"category": c}, {"price": (">", 95.0)}]},
        ][i % 3]

    def exact_filtered(cycle: int) -> None:
        q, f = near_vec(), a_filter(cycle)
        ok, res = run.call("query", lambda: db.query(q.tolist(), k=K, filters=f))
        if ok:
            run.check("query", checks.check_exact(_rows(res), corpus, q, K, f) + _meta_problems(res, corpus))

    def exact_text(cycle: int) -> None:
        text = words()
        ok, res = run.call("query", lambda: db.query(text, k=K))
        if ok:
            q = hashing_embed(text)
            run.check("query", checks.check_exact(_rows(res), corpus, q, K) + _meta_problems(res, corpus))

    def ann(cycle: int) -> None:
        q = near_vec()
        ok, res = run.call("ann_query", lambda: db.query(q.tolist(), k=K, use_index=True))
        if ok:
            problems, r = checks.check_ann(_rows(res), corpus, q, K)
            run.check("ann_query", problems + _meta_problems(res, corpus))
            recalls.append(r)

    def batch(cycle: int) -> None:
        qs = [near_vec() for _ in range(size["batch_queries"])]
        ok, out = run.call(
            "ann_batch",
            lambda: db.query_batch([q.tolist() for q in qs], k=K, use_index=True).collect(),
        )
        if not ok:
            return
        per = defaultdict(list)
        for r in out:
            per[r["q_id"]].append((r["id"], r["distance"]))
        problems, batch_recalls = [], []
        for qi, q in enumerate(qs):
            rows = sorted(per.pop(qi, []), key=lambda t: (t[1], t[0]))
            got, r = checks.check_ann(rows, corpus, q, K)
            problems += [f"query {qi}: {p}" for p in got]
            batch_recalls.append(r)
        problems += checks.check_mean_recall(batch_recalls, K)
        problems += [f"unknown q_id {qi}" for qi in per]
        run.check("ann_batch", problems)

    def hybrid(cycle: int) -> None:
        text = words()
        ok, res = run.call("hybrid", lambda: db.query_hybrid(text, k=K))
        if ok:
            run.check(
                "hybrid",
                checks.check_hybrid([(r.id, r.distance) for r in res], corpus, K)
                + _meta_problems(res, corpus),
            )

    def batch_or_hybrid(cycle: int) -> None:
        (batch, hybrid)[cycle % 2](cycle)

    run.warm_up([exact_filtered, exact_text, ann, batch, hybrid])
    if run.tracer:
        run.tracer.install(db)
    run.setup_done()
    # two patterns: one with the batch, one with the hybrid call
    run.mix = {"query": 8, "ann_query": 4, "ann_batch": 1, "hybrid": 1}
    run.repeat([exact_filtered, exact_text, ann, exact_filtered, exact_text, ann, batch_or_hybrid], min_cycles=2)
    run.latency_metrics("query", "query")
    run.latency_metrics("ann_query", "ann_query")
    b = run.lat.get("ann_batch")
    if b:
        run.metric("ann_batch_qps", size["batch_queries"] * len(b) / (sum(b) / 1000.0), "queries/s", f"n={len(b)}")
    run.latency_metrics("hybrid", "hybrid", tail=False)
    if recalls:
        run.check("ann_query", checks.check_mean_recall(recalls, K))
        run.metric("recall_at_10", statistics.mean(recalls), "fraction", f"n={len(recalls)}, min {min(recalls):g}")
    run.metric("space_amp", _space_amp(run.warehouse, user_bytes(corpus.metas)), "ratio")


# -- ingest_mutate --------------------------------------------------------------
def ingest_mutate(run: Run) -> None:
    """Writes beside reads on a versioned table with a declared stats field
    and an IVF index. The pattern is one write, in the fixed order insert,
    update, delete; every write is followed by ``num_rows`` and two exact
    filtered queries, checked against a read-your-writes model."""
    from modal_vector_db_spark.engine import VectorDB
    from modal_vector_db_spark.sources import versioned as vcat

    size = run.size
    name = "ingest"
    db = VectorDB(
        run.spark, name, warehouse=run.warehouse, versioned=True,
        stats_fields={"category": "double"}, create_new_table=True,
    )
    rng = np.random.default_rng([run.seed, 3])
    model = checks.TableModel()
    next_doc = 0
    c = 0  # the category the current pattern's writes touch

    def new_docs(n: int) -> list[dict]:
        nonlocal next_doc
        docs = [make_doc(rng, next_doc + i) for i in range(n)]
        next_doc += n
        return docs

    def as_rows(docs: list[dict]) -> list[tuple]:
        return [(content_id(m), m, hashing_embed(m["text"])) for m in docs]

    def live(c: int | None, n: int, exclude=()) -> list[dict]:
        """n seeded live rows' metadata, from category c when given."""
        cands = sorted(
            (m for m, _ in model.rows.values()
             if (c is None or m["category"] == c) and m["doc"] not in exclude),
            key=lambda m: m["doc"],
        )
        pick = rng.choice(len(cands), size=min(n, len(cands)), replace=False)
        return [dict(cands[i]) for i in sorted(pick)]

    first = new_docs(size["ingest_rows"])
    db.insert(first, embed_field="text")
    model.insert(as_rows(first))
    # no nprobe calibration: this workload never reads through the index
    db.create_index(calibrate=False)
    seen_files: dict[str, int] = _files(run.warehouse)
    written = stored = 0  # traced runs: bytes of files the writes added; user bytes they stored
    commits: list[int] = []

    def wrote(user_bytes: int) -> None:
        nonlocal written, stored
        if run.tracer is None:
            return
        now = _files(run.warehouse)
        written += sum(s for p, s in now.items() if p not in seen_files)
        seen_files.clear()
        seen_files.update(now)
        stored += user_bytes

    def read_back(c: int, probe_docs: list[int]) -> None:
        """``num_rows``, then the rows the write touched (by doc), then the
        write's whole category."""
        ok, n = run.call("num_rows", db.num_rows)
        if ok:
            run.check("num_rows", model.check_count(n))
        corpus = model.corpus()
        for f in ({"category": c, "doc": ("in", sorted(probe_docs))}, {"category": c}):
            text = " ".join(rng.choice(VOCAB, 3))
            ok, res = run.call("query", lambda: db.query(text, k=K, filters=f))
            if ok:
                run.check(
                    "query",
                    checks.check_exact(_rows(res), corpus, hashing_embed(text), K, f)
                    + model.check_rows([(r.id, r.metadata) for r in res]),
                )

    def insert(cycle: int) -> None:
        nonlocal c
        c = int(rng.integers(CATEGORIES))
        n_dup = size["insert_batch"] // 10  # re-sent rows: the dedup anti-join drops them
        fresh = new_docs(size["insert_batch"] - n_dup)
        for m in fresh[:5]:
            m["category"] = c
        dups_c = live(c, n_dup // 4)
        dups = dups_c + live(None, n_dup - len(dups_c))
        batch = fresh + dups
        versions = _versions(vcat, name, run) if run.tracer else 0
        ok, _ = run.call("insert", lambda: db.insert(batch, embed_field="text"))
        if ok:
            model.insert(as_rows(batch))
            wrote(user_bytes(fresh))
            if run.tracer:
                commits.append(_versions(vcat, name, run) - versions)
        read_back(c, [m["doc"] for m in fresh[:5] + dups_c])

    def update(cycle: int) -> None:
        targets = [m["doc"] for m in live(c, 3)]
        patch = {"label": f"r{cycle}"}
        f = {"category": c, "doc": ("in", targets)}
        ok, n = run.call("update", lambda: db.update(f, patch))
        if ok:
            by_doc = {m["doc"]: i for i, (m, _) in model.rows.items()}
            new_ids = [model.update(by_doc[d], patch) for d in targets]
            run.check("update", [] if n == len(targets) else [f"matched {n}, expected {len(targets)}"])
            wrote(user_bytes([model.rows[i][0] for i in new_ids]))
        read_back(c, targets + [m["doc"] for m in live(c, K - len(targets), exclude=targets)])

    def delete(cycle: int) -> None:
        targets = [m["doc"] for m in live(c, 3)]
        ok, n = run.call("delete", lambda: db.delete({"category": c, "doc": ("in", targets)}))
        if ok:
            by_doc = {m["doc"]: i for i, (m, _) in model.rows.items()}
            model.delete([by_doc[d] for d in targets])
            run.check("delete", [] if n == len(targets) else [f"removed {n}, expected {len(targets)}"])
            wrote(0)
        read_back(c, targets + [m["doc"] for m in live(c, K - len(targets), exclude=targets)])

    first_round_amp = None

    def write(cycle: int) -> None:
        nonlocal first_round_amp
        (insert, update, delete)[cycle % 3](cycle // 3)
        if cycle == 2:  # the table after one insert, update and delete
            first_round_amp = _space_amp(run.warehouse, user_bytes(model.corpus().metas))

    run.warm_up([lambda _: read_back(0, [m["doc"] for m in live(0, K)])])
    if run.tracer:
        run.tracer.install(db)
    run.setup_done()
    # three patterns: one insert, one update, one delete, each read back
    run.mix = {"insert": 1, "update": 1, "delete": 1, "num_rows": 3, "query": 6}
    run.repeat([write], min_cycles=3)
    if run.tracer:
        run.tracer.uninstall()
    run.latency_metrics("query", "query")
    for op in ("insert", "update", "delete"):
        run.latency_metrics(op, op, tail=False)
    # after the first round, so that it does not depend on how many writes
    # the run reached
    run.metric("space_amp", first_round_amp, "ratio")
    if run.tracer:
        run.layer["versioned.manifest_versions"] = (float(len(vcat.versions(name, run.warehouse))), "count")
        run.layer["versioned.files_live"] = (float(len(vcat.resolve_files(name, run.warehouse))), "count")
        run.layer["versioned.commits_per_insert"] = (statistics.mean(commits) if commits else 0.0, "count")
        run.layer["storage.write_amp"] = (written / stored if stored else 0.0, "ratio")


def _versions(vcat, name: str, run: Run) -> int:
    """Commits on the table and its index."""
    return sum(len(vcat.versions(t, run.warehouse)) for t in (name, name + "__ivf"))


def _space_amp(warehouse: str, live_bytes: int) -> float:
    """Bytes on disk under the warehouse (table, index, sidecars, manifests)
    per user byte of the live rows."""
    return sum(_files(warehouse).values()) / live_bytes


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


WORKLOADS = {"serve": serve, "ingest_mutate": ingest_mutate}
