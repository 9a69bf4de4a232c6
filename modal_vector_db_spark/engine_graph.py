"""HNSW graph serving index for
:class:`~modal_vector_db_spark.engine.VectorDB` (mixin): per-IVF-cluster
graphs built in ``applyInPandas`` (``operators/hnsw.py``), stored as two
cluster-partitioned derived tables, served by cogroup over probed
partitions, pinned to an epoch sidecar.  Split out of ``engine.py`` for
review cost only — every method runs as ``VectorDB``; no behavior lives
in the split.

Maintenance model (reference anchor: DuckDB-vss keeps its HNSW current
under ``ON CONFLICT`` inserts, ``duckvdb.py:37-41,57-61``): the graph is
NOT rebuilt per write.  Inserts assign new rows to their IVF cluster and
INSERT them into the touched clusters' live graphs (HNSW's native
incremental insert, ``operators/hnsw.py:grow_hnsw`` — compute scales
with the BATCH, O(batch · ef · log n); the cluster partition is still
the file-swap unit, so at 100 TB an insert touching 3 of 10k clusters
rewrites 3 partitions, partition-pruned on both tables, with only the
new nodes' insert work); takedown-sized deletes shrink ``__hnsw_nodes``
by the same file-pruned rewrite the base uses and rebuild the shrunk
clusters.  Replace-shaped mutations (``update``/``reembed``/``rollback``
/recluster) still invalidate loudly — their incremental unit is the
whole artifact.  Every maintenance path converges the epoch sidecar
through a totals-verified pin, so a crash anywhere leaves a LOUD stale
epoch, never silently wrong serving.
"""

from __future__ import annotations

import json
import logging
import os
from collections.abc import Sequence
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modal_vector_db_spark.operators.filters import compile_filters
from modal_vector_db_spark.sources import catalog

#: recall@k-vs-ef ladder measured at graph build time (bounded: 8 sample
#: queries × one cogroup pass per rung — a build-time one-off next to the
#: O(n·ef·log n) graph construction itself)
_EF_LADDER = (16, 32, 64, 128, 256)


class GraphIndexMixin:
    """HNSW graph index machinery (see module docstring)."""

    # -- epoch sidecar -------------------------------------------------------
    def _hnsw_meta_path(self) -> str:
        return catalog.db_path(self.name + "__hnsw", self.warehouse) + "__meta.json"

    def _ivf_gen_path(self) -> str:
        return (
            catalog.db_path(self.name + "__ivf_centroids", self.warehouse)
            + "__gen.json"
        )

    def _read_ivf_gen(self) -> str | None:
        """The centroid-generation id stamped by :meth:`create_index` —
        ``None`` for a pre-generation index (the graph pin then records
        ``None`` too, and the in-band drop in :meth:`create_index` is the
        sole guard, as it was before the stamp existed)."""
        try:
            with open(self._ivf_gen_path()) as f:
                return json.load(f).get("gen")
        except (FileNotFoundError, ValueError):
            return None

    def _read_hnsw_meta(self) -> dict | None:
        try:
            with open(self._hnsw_meta_path()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return None

    def _invalidate_graph_index(self) -> None:
        """Drop the HNSW artifacts (tables + epoch sidecar) — required
        whenever the IVF layout they are sharded by is rebuilt, or a
        replace-shaped mutation changes content the pins cannot see."""
        for suffix in ("__hnsw", "__hnsw_nodes"):
            catalog.drop_table(self.name + suffix, self.warehouse)
        try:
            os.remove(self._hnsw_meta_path())
        except FileNotFoundError:
            pass

    def _check_graph_epoch(self) -> dict:
        """Load the graph epoch sidecar and enforce the staleness
        contract shared by every graph read path: the pinned base commit
        (versioned) / row count (plain) must match the live table, and the
        pinned IVF centroid generation must match the live one (a
        recluster re-shards the graph without touching the base —
        review finding).  Raises ``ValueError`` loudly on any mismatch;
        returns the epoch meta."""
        meta = self._read_hnsw_meta()
        if meta is None:
            raise ValueError(
                f"no graph index for table {self.name!r}: call "
                "create_graph_index() first"
            )
        if meta.get("ivf_gen") != self._read_ivf_gen():
            raise ValueError(
                "graph index was built over a different IVF layout "
                "(create_index() ran since) — rebuild with "
                "create_graph_index()"
            )
        if self.versioned:
            from modal_vector_db_spark.sources import versioned as vcat

            head = vcat.current_version(self.name, self.warehouse)
            if head != meta.get("base_version"):
                raise ValueError(
                    f"graph index built at version {meta.get('base_version')} "
                    f"but table head is {head} — rebuild with "
                    "create_graph_index()"
                )
        elif self.num_rows() != meta.get("rows"):
            raise ValueError(
                f"graph index built over {meta.get('rows')} rows but the "
                f"table now has {self.num_rows()} — rebuild with "
                "create_graph_index()"
            )
        return meta

    @staticmethod
    def _graph_node_projection(df: DataFrame) -> DataFrame:
        """THE ``__hnsw_nodes`` schema (never inlined: the build and both
        maintenance appends must write the identical projection, or the
        node table's schema drifts between paths).  Node identity inside
        the graph is ``xxhash64(id)``."""
        return df.select(
            "cluster_id",
            F.xxhash64("id").alias("gid"),
            "id",
            "metadata",
            "embedding",
        )

    def _assert_no_gid_collision(self, fresh: DataFrame) -> None:
        """The build-time distinct-gid check, incrementally: new rows'
        gids probed against the WHOLE node table (one column-pruned scan,
        the small side broadcasts) — a hash collision must be a loud
        error, never a silently merged node."""
        existing = self._cat.read_table(
            self.spark, self.name + "__hnsw_nodes", self.warehouse
        )
        hits = existing.select("gid").join(
            F.broadcast(fresh.select("gid")), "gid", "left_semi"
        )
        if hits.limit(1).count():
            raise ValueError(
                "xxhash64(id) collision between a written row and the "
                "graph node table — rebuild with a different table name "
                "(two ids share a gid)"
            )

    def _resolve_ef_search(self, ef_search: int | None, meta: dict) -> int:
        """Explicit caller value wins; otherwise the build-time calibrated
        default persisted in the epoch sidecar (this graph's own
        recall-vs-ef curve); otherwise the legacy constant 64
        (pre-calibration graphs) — the same resolution order as
        ``_resolve_nprobe``."""
        if ef_search is not None:
            return int(ef_search)
        try:
            return int(meta["default_ef_search"])
        except (KeyError, TypeError, ValueError):
            return 64

    # -- build ---------------------------------------------------------------
    def create_graph_index(
        self,
        m: int = 8,
        ef_construction: int = 64,
        calibrate: bool = True,
        target_recall: float = 0.95,
    ) -> None:
        """Per-partition HNSW serving graph (``operators/hnsw.py``) — the
        reference's actual index class (DuckDB-vss HNSW,
        ``duckvdb.py:37-41``), built Spark-shaped: one independent graph
        per IVF cluster (``create_index`` first — the cluster layout IS
        the graph sharding), stored as two cluster-partitioned derived
        tables (``__hnsw`` adjacency + ``__hnsw_nodes`` vectors/metadata)
        so :meth:`query_graph` reads only probed partitions and never
        joins back to the base table.

        The graph is an EPOCH artifact pinned to the base commit
        (versioned tables) or row count (plain) plus the IVF centroid
        generation; :meth:`query_graph` refuses a stale graph loudly.
        Unlike the first-generation rebuild-only contract, inserts and
        deletes now MAINTAIN the artifact incrementally (module
        docstring) — only replace-shaped mutations force a rebuild.
        Node identity inside the graph is ``xxhash64(id)`` — a
        build-time distinct check turns the astronomically-unlikely
        collision into a loud error rather than a silently merged node.

        ``calibrate``: measure THIS graph's recall@k-vs-ef curve on a
        bounded deterministic sample and persist the smallest ``ef``
        reaching ``target_recall`` as the serving default —
        ``query_graph()`` without an explicit ``ef_search`` reads it
        (constant-64 was a guess; the right beam width is a property of
        the corpus geometry, exactly like nprobe)."""
        from modal_vector_db_spark.operators.hnsw import build_hnsw

        if not self._cat.table_exists(self.name + "__ivf", self.warehouse):
            raise ValueError(
                "create_graph_index needs the IVF layout: run create_index() "
                "first (the cluster partitioning is the graph's sharding)"
            )
        if self.versioned:
            # the epoch pin below asserts "this graph mirrors base@head";
            # that is only true if the __ivf source itself is verified at
            # head (the stamp machinery) — otherwise the pin would bless a
            # graph built from a stale index
            from modal_vector_db_spark.sources import versioned as vcat

            head = vcat.current_version(self.name, self.warehouse) or 0
            if self._read_ivf_stamp() != head:
                raise ValueError(
                    f"__ivf is not verified at head version {head} — run "
                    "create_index() (or reconcile_index()) before building "
                    "the graph"
                )
        ivf_df = self._cat.read_table(self.spark, self.name + "__ivf", self.warehouse)
        nodes = self._graph_node_projection(ivf_df)
        self._cat.overwrite(
            nodes,
            self.name + "__hnsw_nodes",
            self.warehouse,
            partition_by=["cluster_id"],
            **self._index_write_kwargs,
        )
        stored = self._cat.read_table(
            self.spark, self.name + "__hnsw_nodes", self.warehouse
        )
        counts = stored.agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("gid").alias("g")
        ).head()
        if counts["n"] != counts["g"]:
            raise ValueError(
                "xxhash64(id) collision in the graph node table — "
                "rebuild with a different table name (two ids share a gid)"
            )
        graph = build_hnsw(
            stored, vec_col="embedding", id_col="gid", m=m,
            ef_construction=ef_construction,
        )
        self._cat.overwrite(
            graph,
            self.name + "__hnsw",
            self.warehouse,
            partition_by=["cluster_id"],
            **self._index_write_kwargs,
        )
        epoch: dict = {
            "m": int(m),
            "ef_construction": int(ef_construction),
            # centroid-generation pin: a create_index() recluster changes
            # the graph's sharding without touching the base table, which
            # the base_version/rows pins cannot see
            "ivf_gen": self._read_ivf_gen(),
        }
        if self.versioned:
            from modal_vector_db_spark.sources import versioned as vcat

            epoch["base_version"] = vcat.current_version(self.name, self.warehouse)
        else:
            epoch["rows"] = int(counts["n"])
        if calibrate:
            stored_graph = self._cat.read_table(
                self.spark, self.name + "__hnsw", self.warehouse
            )
            calib = self._calibrate_ef_search(
                stored, stored_graph, target_recall=target_recall
            )
            if calib is not None:
                # target persisted alongside the curve so a maintenance
                # rebuild re-calibrates at the SAME target, not the
                # default (review finding)
                epoch.update(calib, target_recall=float(target_recall))
        self._atomic_json_write(self._hnsw_meta_path(), epoch)

    def _calibrate_ef_search(
        self,
        nodes: DataFrame,
        graph: DataFrame,
        k: int = 10,
        target_recall: float = 0.95,
        n_queries: int = 8,
    ) -> dict | None:
        """Measure recall@k vs ``ef_search`` on a deterministic
        hash-admitted sample of the graph's own vectors (full probe, so
        the curve isolates the beam width from nprobe), and pick the
        smallest ladder rung reaching ``target_recall`` — the
        :func:`~modal_vector_db_spark.operators.ann.calibrate_nprobe`
        pattern applied to the graph's knob.  Returns
        ``{"ef_curve": [[ef, recall], ...], "default_ef_search": ef}``
        or ``None`` for an empty/degenerate corpus."""
        from modal_vector_db_spark.operators.ann import brute_force_topk_multi
        from modal_vector_db_spark.operators.hnsw import hnsw_topk_multi

        live = nodes.filter(F.col("embedding").isNotNull())
        hb = F.pmod(F.xxhash64(F.col("gid"), F.lit(7)), F.lit(2**31))
        sample = [
            [float(v) for v in r["embedding"]]
            for r in live.select("embedding", hb.alias("_hb"))
            .orderBy("_hb")
            .limit(n_queries)
            .collect()
        ]
        if not sample:
            return None
        qdf = self.spark.createDataFrame(
            list(enumerate(sample)), "q_id int, q_vec array<double>"
        )
        gold: dict[int, set] = {}
        for r in brute_force_topk_multi(live, qdf, k=k, id_col="gid").collect():
            gold.setdefault(r["q_id"], set()).add(r["gid"])
        curve: list[list[float]] = []
        for ef in _EF_LADDER:  # full ladder: the curve is the evidence
            got: dict[int, set] = {}
            for r in hnsw_topk_multi(
                graph, nodes, sample, k=k, ef_search=ef, id_col="gid"
            ).collect():
                got.setdefault(r["q_id"], set()).add(r["vec_id"])
            recalls = [
                len(got.get(qi, set()) & g) / max(len(g), 1)
                for qi, g in gold.items()
            ]
            curve.append([int(ef), round(sum(recalls) / max(len(recalls), 1), 4)])
        # smallest rung clearing the target; the ladder max if none does
        default = next(
            (ef for ef, r in curve if r >= target_recall), _EF_LADDER[-1]
        )
        return {"ef_curve": curve, "default_ef_search": int(default)}

    # -- incremental maintenance ---------------------------------------------
    def _sync_graph_for_append(
        self, ivf_rows: DataFrame | None, base_version: int | None = None
    ) -> None:
        """Keep the graph current on insert (the reference's HNSW is
        maintained on every insert, ``duckvdb.py:37-41,57-61``): append
        the batch's rows to ``__hnsw_nodes`` (replay-safe anti-join, the
        ``__ivf`` protocol) and INSERT the new nodes into the touched
        clusters' LIVE graphs via the native HNSW insert
        (``operators/hnsw.py:grow_hnsw`` — ef_construction search per new
        node, O(batch · ef · log n) compute instead of the old
        whole-cluster rebuild's O(n · ef · log n); the adjacency
        partition rewrite I/O is unchanged, the cluster is the file
        unit either way).  No-op without a graph.

        ``ivf_rows`` is the cluster-assigned, replay-filtered,
        checkpoint-pinned frame :meth:`_sync_index_for_append` already
        computed — the assignment is never recomputed.

        The whole sync (append + rebuild + epoch bump) serializes under
        the epoch-sidecar lock: two concurrent writers rebuilding the
        SAME cluster unserialized could commit an adjacency that misses
        the other's rows — silent recall loss.  A lock timeout fails
        CLOSED: the artifacts are dropped (next :meth:`query_graph`
        demands a rebuild loudly) and the insert proceeds — graph
        maintenance must never block the write path.

        The epoch bump is totals-verified (the ``_stamp_ivf_version``
        sandwich, simplified): versioned tables pin the head only when
        the node-table manifest total equals the base manifest total at
        a stable head — racing writers each converge the pin when the
        LAST sync lands; any in-between crash leaves a loudly-stale
        epoch, never a silently wrong one."""
        if ivf_rows is None or self._read_hnsw_meta() is None:
            return
        from modal_vector_db_spark.plans.checkpoints import release_local_checkpoint

        try:
            with self._sidecar_lock(
                self._hnsw_meta_path(), "hnsw graph", timeout_s=120.0
            ):
                meta = self._read_hnsw_meta()
                if meta is None:  # invalidated while we waited
                    return
                nodes_new = self._graph_node_projection(ivf_rows)
                existing = self._cat.read_table(
                    self.spark, self.name + "__hnsw_nodes", self.warehouse
                )
                # replay safety: a prior attempt that crashed between the
                # node append and the base commit must not double-insert
                conflicts = existing.select("id").join(
                    F.broadcast(nodes_new.select("id")), "id", "left_semi"
                )
                nodes_new = nodes_new.join(F.broadcast(conflicts), "id", "left_anti")
                # pin BEFORE the self-referential append (the plan reads
                # the directory it appends to — the __ivf sync rule)
                nodes_new = nodes_new.localCheckpoint(eager=True)
                try:
                    n_new = nodes_new.count()
                    if n_new:
                        self._assert_no_gid_collision(nodes_new)
                        touched = sorted(
                            r["cluster_id"]
                            for r in nodes_new.select("cluster_id")
                            .distinct()
                            .collect()
                            if r["cluster_id"] is not None
                        )
                        self._cat.append(
                            nodes_new,
                            self.name + "__hnsw_nodes",
                            self.warehouse,
                            partition_by=["cluster_id"],
                            **self._index_write_kwargs,
                        )
                        if touched:
                            self._grow_graph_clusters(touched, nodes_new, meta)
                finally:
                    release_local_checkpoint(nodes_new)
                self._bump_graph_epoch_locked(meta, n_new, base_version)
        except TimeoutError:
            logging.getLogger(__name__).warning(
                "table %s: graph sync lock timed out — dropping the graph "
                "index (fail closed; rebuild with create_graph_index())",
                self.name,
            )
            self._invalidate_graph_index()

    def _grow_graph_clusters(
        self, touched: list, new_nodes: DataFrame, meta: dict
    ) -> None:
        """Insert ``new_nodes``'s gids into the touched clusters' LIVE
        graphs (``operators/hnsw.py:grow_hnsw``): cogroup the stored
        adjacency with the clusters' full node sets (new ones flagged by
        a broadcast gid join — the batch is small by definition of this
        path), insert only the flagged nodes, swap the partitions in.
        Unlike the rebuild, this plan is SELF-REFERENTIAL on ``__hnsw``
        (reads the adjacency it rewrites), so the fresh adjacency is
        checkpoint-pinned before the swap — the ``__ivf`` sync rule.

        Compute scales with the BATCH (ef_construction search per new
        node), not the cluster — the round-11 maintenance economics
        (50 scattered rows ≈ a full rebuild) die here; measured in
        BASELINE.md.  ``grow_hnsw`` itself falls back to a fresh build
        per cluster when new nodes outnumber old (rebuild amortizes)."""
        from modal_vector_db_spark.operators.hnsw import grow_hnsw
        from modal_vector_db_spark.plans.checkpoints import release_local_checkpoint

        touched = [int(c) for c in touched]
        stored = self._cat.read_table(
            self.spark, self.name + "__hnsw_nodes", self.warehouse
        ).filter(F.col("cluster_id").isin(touched))
        flagged = stored.join(
            F.broadcast(
                new_nodes.select("gid").withColumn("_is_new", F.lit(True))
            ),
            "gid",
            "left",
        ).withColumn("_is_new", F.coalesce(F.col("_is_new"), F.lit(False)))
        graph = self._cat.read_table(
            self.spark, self.name + "__hnsw", self.warehouse
        ).filter(F.col("cluster_id").isin(touched))
        fresh = grow_hnsw(
            graph,
            flagged,
            is_new_col="_is_new",
            vec_col="embedding",
            id_col="gid",
            m=int(meta["m"]),
            ef_construction=int(meta["ef_construction"]),
        ).localCheckpoint(eager=True)
        try:
            self._cat.rewrite_where(
                self.spark,
                self.name + "__hnsw",
                ~F.col("cluster_id").isin(touched),
                self.warehouse,
                **self._index_mut_kwargs,
            )
            self._cat.append(
                fresh,
                self.name + "__hnsw",
                self.warehouse,
                partition_by=["cluster_id"],
                **self._index_write_kwargs,
            )
        finally:
            release_local_checkpoint(fresh)

    def _rebuild_graph_clusters(self, touched: list, meta: dict) -> None:
        """Rebuild the adjacency of exactly ``touched`` clusters from the
        CURRENT ``__hnsw_nodes`` (partition-pruned read), then swap them
        in: file-pruned rewrite drops the stale partitions, append lands
        the fresh ones.  The build reads ``__hnsw_nodes`` and writes
        ``__hnsw`` — not self-referential, no checkpoint needed."""
        from modal_vector_db_spark.operators.hnsw import build_hnsw

        touched = [int(c) for c in touched]
        stored = self._cat.read_table(
            self.spark, self.name + "__hnsw_nodes", self.warehouse
        ).filter(F.col("cluster_id").isin(touched))
        fresh = build_hnsw(
            stored, vec_col="embedding", id_col="gid",
            m=int(meta["m"]), ef_construction=int(meta["ef_construction"]),
        )
        self._cat.rewrite_where(
            self.spark,
            self.name + "__hnsw",
            ~F.col("cluster_id").isin(touched),
            self.warehouse,
            **self._index_mut_kwargs,
        )
        self._cat.append(
            fresh,
            self.name + "__hnsw",
            self.warehouse,
            partition_by=["cluster_id"],
            **self._index_write_kwargs,
        )

    def _bump_graph_epoch_locked(
        self, meta: dict, n_delta: int, base_version: int | None
    ) -> None:
        """Advance the epoch pin after a maintenance write (caller holds
        the sidecar lock).  Plain tables: row arithmetic (the sync runs
        BEFORE the base append, so a crashed base commit leaves
        ``rows`` ahead — loudly stale, and the replay anti-join makes the
        retry converge).  Versioned tables: totals-verified head pin
        (see :meth:`_sync_graph_for_append`); verification failure
        leaves the old pin — loudly stale until the last racing sync
        lands."""
        if not self.versioned:
            meta["rows"] = int(meta.get("rows", 0)) + int(n_delta)
            self._atomic_json_write(self._hnsw_meta_path(), meta)
            return
        from modal_vector_db_spark.sources import versioned as vcat

        h1 = vcat.current_version(self.name, self.warehouse) or 0
        nv = vcat.current_version(self.name + "__hnsw_nodes", self.warehouse)
        if nv is None:
            return
        if (vcat.current_version(self.name, self.warehouse) or 0) != h1:
            return  # base moved while reading the node head: fail closed
        b = vcat.manifest_row_count(self.name, self.warehouse, version=h1)
        n = vcat.manifest_row_count(
            self.name + "__hnsw_nodes", self.warehouse, version=nv
        )
        if b is None or n is None or b != n:
            return  # a racing writer's sync is in flight — it will pin
        meta["base_version"] = h1
        self._atomic_json_write(self._hnsw_meta_path(), meta)

    def _heal_graph_if_stale(self) -> int:
        """:meth:`reconcile_index` hook — one repair call heals EVERY
        derived structure.  Zero jobs when the graph is absent or fresh
        (the epoch check is metadata-only); a recluster-stale graph is
        skipped (per-cluster healing cannot cross a re-sharding — the
        query-time error already says rebuild); otherwise delegates to
        :meth:`reconcile_graph`."""
        gmeta = self._read_hnsw_meta()
        if gmeta is None or gmeta.get("ivf_gen") != self._read_ivf_gen():
            return 0
        try:
            self._check_graph_epoch()
            return 0
        except ValueError:
            return self.reconcile_graph()

    def _graph_mark_unchanged(self, pre_head: int, new_v: int) -> None:
        """Re-pin the epoch across a CONTENT-UNCHANGED replace commit
        (compact / optimize_zorder: layout-only rewrites — ids,
        embeddings, metadata, and the cluster assignment are all byte-
        identical), the :meth:`_text_ledger_mark_unchanged` analog.
        Without this, routine maintenance on a versioned table bumps the
        head past the pin and a perfectly valid graph starts raising the
        rebuild demand (review finding).  Only advances a pin that was
        FRESH at the pre-commit head — a stale graph stays stale."""
        try:
            with self._sidecar_lock(
                self._hnsw_meta_path(), "hnsw graph", timeout_s=10.0
            ):
                meta = self._read_hnsw_meta()
                if meta is None or meta.get("base_version") != pre_head:
                    return
                meta["base_version"] = int(new_v)
                self._atomic_json_write(self._hnsw_meta_path(), meta)
        except TimeoutError:
            return  # opportunistic: a missed re-pin is loud, never wrong

    def _graph_delete_begin(self, keep) -> dict | None:
        """Open the graph's delete window (replace-shaped single-writer,
        the ``update()`` contract): UNPIN the epoch FIRST (remove the
        sidecar — a crash anywhere after this point leaves "no graph
        index", loud, never a silently short graph), then shrink
        ``__hnsw_nodes`` by the same file-pruned rewrite the base uses
        and rebuild the clusters that lost rows.  Returns the stash
        :meth:`_graph_delete_finish` re-pins from, or ``None`` when no
        graph exists."""
        meta = self._read_hnsw_meta()
        if meta is None:
            return None
        try:
            os.remove(self._hnsw_meta_path())
        except FileNotFoundError:
            pass
        nodes = self._cat.read_table(
            self.spark, self.name + "__hnsw_nodes", self.warehouse
        )
        touched = sorted(
            r["cluster_id"]
            for r in nodes.filter(~F.coalesce(keep, F.lit(False)))
            .select("cluster_id")
            .distinct()
            .collect()
            if r["cluster_id"] is not None
        )
        removed = self._cat.rewrite_where(
            self.spark,
            self.name + "__hnsw_nodes",
            keep,
            self.warehouse,
            **self._index_mut_kwargs,
        )
        if touched:
            self._rebuild_graph_clusters(touched, meta)
        return {"meta": meta, "removed": int(removed)}

    def _graph_delete_finish(self, stash: dict | None) -> None:
        """Re-pin the epoch after the base commit landed: versioned
        tables pin the new head (totals-verified); plain tables subtract
        the removed count.  Skipping this (crash) leaves the sidecar
        absent — a loud rebuild demand."""
        if stash is None:
            return
        meta = stash["meta"]
        if self.versioned:
            from modal_vector_db_spark.sources import versioned as vcat

            head = vcat.current_version(self.name, self.warehouse) or 0
            b = vcat.manifest_row_count(self.name, self.warehouse, version=head)
            nv = vcat.current_version(self.name + "__hnsw_nodes", self.warehouse)
            n = (
                vcat.manifest_row_count(
                    self.name + "__hnsw_nodes", self.warehouse, version=nv
                )
                if nv is not None
                else None
            )
            if b is None or n is None or b != n:
                return  # totals diverge: stay unpinned (loud), never bless
            meta["base_version"] = head
        else:
            meta["rows"] = int(meta.get("rows", 0)) - stash["removed"]
        self._atomic_json_write(self._hnsw_meta_path(), meta)

    #: a divergence bigger than this amortizes a full rebuild anyway, and
    #: the phantom drop-set is a driver-side id list (the __text shrink cap
    #: rationale)
    _GRAPH_RECONCILE_MAX = 100_000

    def reconcile_graph(self) -> int:
        """Heal the crash windows of the base ↔ graph double write WITHOUT
        a full rebuild (the :meth:`reconcile_index` contract, applied to
        the graph): append rows the graph is MISSING (versioned path —
        crash between the base commit and the graph sync), drop PHANTOM
        rows whose base row does not exist (plain path — crash between
        the sync and the base append, never replayed), rebuild only the
        touched clusters, and re-pin the epoch.  Returns rows repaired.

        Requires the IVF generation to still match — a recluster re-shards
        everything and can only be healed by :meth:`create_graph_index`.
        Divergence past ``_GRAPH_RECONCILE_MAX`` raises with the same
        advice (a rebuild amortizes at that size)."""
        meta = self._read_hnsw_meta()
        if meta is None:
            raise ValueError(
                f"no graph index for table {self.name!r}: call "
                "create_graph_index() first"
            )
        if meta.get("ivf_gen") != self._read_ivf_gen():
            raise ValueError(
                "graph index was built over a different IVF layout "
                "(create_index() ran since) — rebuild with "
                "create_graph_index()"
            )
        # Load the IVF handle BEFORE taking the epoch lock, with its
        # once-per-handle auto-repair probe SUPPRESSED: the probe runs
        # reconcile_index, whose graph-heal hook re-enters this lock — a
        # self-deadlock (found by the chunk suite: 120 s spin, loud
        # timeout) — and would also swallow this call's repair count into
        # the probe.  Suppression is sound: reconcile_graph IS a
        # reconciliation entry point (it diffs against the BASE, not
        # __ivf), and cluster assignment needs only the centroid tables,
        # which load fresh regardless; a caller healing everything after
        # a crash should use reconcile_index(), which repairs __ivf FIRST
        # and then delegates here.
        self._ivf_probed = True
        _, ivf = self._load_ivf()
        try:
            with self._sidecar_lock(
                self._hnsw_meta_path(), "hnsw graph", timeout_s=120.0
            ):
                return self._reconcile_graph_locked(meta, ivf)
        except TimeoutError as e:
            raise TimeoutError(
                "graph reconcile could not take the epoch-sidecar lock — "
                "a writer (or leaked lock) is holding it; retry or remove "
                "the .lock file after confirming no writer is live"
            ) from e

    def _reconcile_graph_locked(self, meta: dict, ivf) -> int:
        from modal_vector_db_spark.plans.checkpoints import release_local_checkpoint

        base = self.items()
        nodes = self._cat.read_table(
            self.spark, self.name + "__hnsw_nodes", self.warehouse
        )
        phantoms = (
            nodes.select("id", "cluster_id")
            .join(base.select("id"), "id", "left_anti")
            # cap INSIDE the plan: the guard below must fire before the
            # driver materializes an unbounded diff, not after (review
            # finding) — limit+1 distinguishes "at the cap" from "past it"
            .limit(self._GRAPH_RECONCILE_MAX + 1)
            .collect()
        )
        if len(phantoms) > self._GRAPH_RECONCILE_MAX:
            raise ValueError(
                f"graph diverged by >{self._GRAPH_RECONCILE_MAX} rows — "
                "rebuild with create_graph_index() (cheaper at this size)"
            )
        touched = {
            r["cluster_id"] for r in phantoms if r["cluster_id"] is not None
        }
        repaired = len(phantoms)
        if phantoms:
            self._cat.rewrite_where(
                self.spark,
                self.name + "__hnsw_nodes",
                None,
                self.warehouse,
                drop_ids=[r["id"] for r in phantoms],
                **self._index_mut_kwargs,
            )
        # the missing-set diff reads the node table AFTER the phantom
        # rewrite — a plan pinned to the pre-rewrite file listing would
        # fail on the rewritten files (and double-count dropped phantoms)
        missing = base.join(
            self._cat.read_table(
                self.spark, self.name + "__hnsw_nodes", self.warehouse
            ).select("id"),
            "id",
            "left_anti",
        )
        nodes_new = self._graph_node_projection(ivf.assign(missing))
        # pin before the self-referential append (reads __hnsw_nodes for
        # the collision probe while appending to it)
        nodes_new = nodes_new.localCheckpoint(eager=True)
        try:
            n_missing = nodes_new.count()
            if n_missing > self._GRAPH_RECONCILE_MAX:
                raise ValueError(
                    f"graph diverged by >{self._GRAPH_RECONCILE_MAX} rows — "
                    "rebuild with create_graph_index() (cheaper at this size)"
                )
            if n_missing:
                self._assert_no_gid_collision(nodes_new)
                self._cat.append(
                    nodes_new,
                    self.name + "__hnsw_nodes",
                    self.warehouse,
                    partition_by=["cluster_id"],
                    **self._index_write_kwargs,
                )
                touched |= {
                    r["cluster_id"]
                    for r in nodes_new.select("cluster_id").distinct().collect()
                    if r["cluster_id"] is not None
                }
            repaired += n_missing
        finally:
            release_local_checkpoint(nodes_new)
        if touched:
            self._rebuild_graph_clusters(sorted(touched), meta)
        if self.versioned:
            self._bump_graph_epoch_locked(meta, 0, None)
        else:
            meta["rows"] = int(self.num_rows())
            self._atomic_json_write(self._hnsw_meta_path(), meta)
        return repaired

    # -- serving ---------------------------------------------------------------
    def _graph_topk_df(
        self,
        qvecs: list[list[float]],
        k: int,
        ef_search: int | None,
        nprobe: int | None,
        filters: Optional[dict],
    ) -> DataFrame:
        """Shared serving plan for every graph read path: epoch check,
        per-query IVF probes, cogrouped beam search over probed clusters
        only, id/metadata resolution from ``__hnsw_nodes`` (never the
        base table).  ``filters`` compile JVM-side into ONE boolean
        column on the node table — the beam navigates the full graph but
        only filter-passing nodes can land in the result, with geometric
        ``ef`` expansion until ``k`` matches or the cluster is exhausted
        (``operators/hnsw.py:hnsw_search_cluster``) — so recall under
        selective filters is bounded, the reference's WHERE+HNSW
        composition (``duckvdb.py:110-116``).  Returns
        ``(q_id, id, metadata, distance)``."""
        from modal_vector_db_spark.operators.hnsw import hnsw_topk_multi

        meta = self._check_graph_epoch()
        efs = self._resolve_ef_search(ef_search, meta)
        probes = dict(enumerate(self._probe_clusters(qvecs, nprobe)))
        graph = self._cat.read_table(self.spark, self.name + "__hnsw", self.warehouse)
        nodes = self._cat.read_table(
            self.spark, self.name + "__hnsw_nodes", self.warehouse
        )
        allowed_col = None
        if filters:
            # compiled Column algebra (operators/filters.py) — predicate
            # NULL (key absent) excludes, matching every scan path; only
            # one boolean per node crosses the Arrow boundary
            nodes = nodes.withColumn(
                "_allowed", F.coalesce(compile_filters(filters), F.lit(False))
            )
            allowed_col = "_allowed"
            # (selectivity-seeded beam width happens EXECUTOR-side from
            # each cluster's own allowed fraction —
            # operators/hnsw.py:hnsw_search_cluster — zero extra jobs
            # here and no cross-query coupling in the batch path)
        top = hnsw_topk_multi(
            graph, nodes, qvecs, k=k, ef_search=efs,
            probes_per_query=probes, vec_col="embedding", id_col="gid",
            allowed_col=allowed_col,
        )
        union = sorted({c for cs in probes.values() for c in cs})
        return (
            nodes.filter(F.col("cluster_id").isin([int(c) for c in union]))
            .select("gid", "id", "metadata")
            # k-row result side broadcasts; the pruned nodes scan streams
            .join(F.broadcast(top.withColumnRenamed("vec_id", "gid")), "gid")
            .select("q_id", "id", "metadata", "distance")
        )

    def query_graph(
        self,
        query: str | Sequence[float],
        k: int = 10,
        ef_search: int | None = None,
        nprobe: int | None = None,
        filters: Optional[dict] = None,
        as_dataframe: bool = False,
    ):
        """Graph-ANN query: IVF centroids pick the probed clusters
        (``nprobe`` resolves explicit > calibrated > 4, like every
        indexed path), each probed cluster's HNSW graph beam-searches
        executor-side (O(ef·log n) distance evaluations per cluster, not
        a scan), global top-k finishes.  ``ef_search`` resolves explicit
        > build-time-calibrated default > 64.  ``filters`` (same DSL as
        :meth:`query`) compose with the beam search — see
        :meth:`_graph_topk_df`.  Returns :class:`Result` rows (or the
        DataFrame with ``as_dataframe=True``).

        Staleness is a loud error: versioned tables pin the exact
        commit, plain tables the row count, both the IVF generation —
        and inserts/deletes MAINTAIN the pins incrementally, so only
        replace-shaped mutations demand a rebuild."""
        from modal_vector_db_spark.engine import _results

        qv = self._query_vec(query)
        out = (
            self._graph_topk_df([qv], k, ef_search, nprobe, filters)
            .select("id", "metadata", "distance")
            .orderBy(F.col("distance").asc(), F.col("id").asc())
        )
        return out if as_dataframe else _results(out.collect())

    def query_graph_batch(
        self,
        queries: Sequence[str | Sequence[float]],
        k: int = 10,
        ef_search: int | None = None,
        nprobe: int | None = None,
        filters: Optional[dict] = None,
    ) -> DataFrame:
        """Graph-ANN top-k for MANY queries in ONE job — the
        :meth:`query_batch` twin on the HNSW path: every probed cluster's
        graph is reconstructed ONCE per task and beam-searched for all
        queries probing it (``operators/hnsw.py:hnsw_topk_multi``), so Q
        queries cost one cogroup pass, not Q jobs.  Same epoch/filters/
        ef-resolution contract as :meth:`query_graph`.  Returns a
        DataFrame ``(q_id, id, metadata, distance)``."""
        if not queries:
            raise ValueError("query_graph_batch needs at least one query")
        qvecs = [self._query_vec(q) for q in queries]
        return self._graph_topk_df(qvecs, k, ef_search, nprobe, filters)
