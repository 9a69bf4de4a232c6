"""IVF index machinery for :class:`~modal_vector_db_spark.engine.VectorDB`
(mixin): the ``__ivf`` cluster-partitioned layout, its centroid/PQ
artifacts, the version-stamp sidecar that lets versioned tables serve
indexed time-travel queries, insert-time sync, reconciliation, and
``create_index`` itself.  Split out of ``engine.py`` for review cost
only — every method runs as ``VectorDB`` (the facade composes the
mixins); no behavior lives in the split.

The sidecar helpers defined here (:meth:`IvfIndexMixin._atomic_json_write`,
:meth:`IvfIndexMixin._sidecar_lock`) are THE shared primitives — the
text/bloom/graph metas route through the same two (one write protocol,
one lock protocol, everywhere).
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modal_vector_db_spark.schema import ITEMS_SCHEMA
from modal_vector_db_spark.sources import catalog

# k-means fits per hot-cluster split; the lowest-cost one is kept
_SPLIT_RESTARTS = 3


class IvfIndexMixin:
    """IVF layout + sidecar machinery (see module docstring)."""


    # -- index ↔ base version stamp (versioned tables) ---------------------
    def _ivf_meta_path(self) -> str:
        return catalog.db_path(self.name + "__ivf", self.warehouse) + "__meta.json"

    def _read_ivf_meta(self) -> dict:
        try:
            with open(self._ivf_meta_path()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {}

    def _read_ivf_stamp(self) -> int | None:
        return self._read_ivf_meta().get("base_version")

    def _resolve_nprobe(self, nprobe: int | None) -> int:
        """Explicit caller value wins; otherwise the calibration
        sidecar's measured default (written by ``create_index`` from this
        index's own recall-vs-scan curve); otherwise the legacy constant
        4 (pre-calibration indexes)."""
        if nprobe is not None:
            return int(nprobe)
        calib_path = (
            catalog.db_path(self.name + "__ivf_centroids", self.warehouse)
            + "__calib.json"
        )
        try:
            with open(calib_path) as f:
                return int(json.load(f)["default_nprobe"])
        except (FileNotFoundError, ValueError, KeyError, TypeError):
            return 4

    @staticmethod
    def _atomic_json_write(path: str, obj: dict) -> None:
        """THE tmp+rename JSON sidecar write (ivf/text/bloom metas share
        it): uuid-suffixed tmp in the same directory, then ``os.replace``
        — readers see the old or the new file, never a torn one."""
        import uuid as _uuid

        tmp = f"{path}.tmp{_uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)

    @contextmanager
    def _sidecar_lock(self, path: str, what: str, timeout_s: float = 5.0):
        """THE O_EXCL sidecar lock (ivf/text metas share it): spin with a
        deadline, raise on timeout instead of falling through — proceeding
        unlocked loses updates AND the cleanup would delete the lock the
        actual holder created, letting a third writer in."""
        import time as _time

        lock = path + ".lock"
        deadline = _time.monotonic() + timeout_s
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                break
            except FileExistsError:
                if _time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"{what} sidecar lock {lock!r} held for >"
                        f"{timeout_s}s — a crashed writer may have leaked "
                        "it; remove the file after confirming no writer "
                        "is live"
                    )
                _time.sleep(0.01)
        try:
            yield
        finally:
            try:
                os.remove(lock)
            except FileNotFoundError:
                pass

    def _write_ivf_meta(self, meta: dict) -> None:
        """Atomic sidecar write (see :meth:`_atomic_json_write`)."""
        self._atomic_json_write(self._ivf_meta_path(), meta)

    def _ivf_version_for_base(self, base_version: int) -> int | None:
        """The ``__ivf`` manifest version VERIFIED to hold exactly the rows
        of the given base version, from the stamp history — or ``None`` if
        that base version was never verified (no index existed yet, a sync
        raced, or the index was dropped/rebuilt since — dropping resets the
        sidecar, so every surviving entry refers to the CURRENT centroid
        generation; serving head centroids for a historical probe is
        therefore always valid)."""
        v = self._read_ivf_meta().get("history", {}).get(str(base_version))
        return int(v) if v is not None else None

    def _stamp_ivf_version(self) -> None:
        """Record which BASE version the ``__ivf`` layout reflects (sidecar
        beside the index dir, atomic tmp+rename, monotonic), plus a HISTORY
        of every verified (base version → ``__ivf`` version) pair — the map
        time-travel indexed queries (``query(version=N, use_index=True)``)
        serve from.

        A pair is only recorded after VERIFYING the two manifests' row
        totals agree AT THE PINNED VERSIONS (two tiny JSON reads of
        immutable manifest files — race-free, unlike a current-head
        compare; an unverified "my commit landed, stamp it" protocol is
        unsound under concurrent CAS inserts).  Equal pinned totals prove
        ``__ivf@I`` holds exactly the rows of ``base@B`` under this repo's
        write orderings: inserts commit the base FIRST and sync the index
        after (a sync still in flight leaves index < base), mutations
        shrink the index FIRST (by the time the base head shows the
        mutation, the index head already reflects it), and a later
        writer's sync can raise the index head past ``I`` only after its
        own base commit raised ``B`` — every interleaving either verifies
        a consistent pair or fails closed to "no stamp, next query
        probes".  Those orderings are only binding while the BASE head is
        stable, so the version reads are a sandwich: base head, index
        head, base head again — any change between the two base reads
        fails closed.  (Without the re-read, an equal-cardinality
        delete+insert landing between the reads could pair ``base@B``
        with an index holding the new rows instead of the deleted ones —
        equal pinned totals prove equal cardinality, not equal sets.)
        The only writes that move the index head while the base head is
        stable are reconcile repairs, which converge the index ON the
        base snapshot — still a consistent pair.  A lost sidecar write
        race between two stampers can drop a HISTORY entry (that
        version's time-travel lookup then fails loudly), never record a
        wrong one.  Replace-shaped mutations (update/overwrite) can
        preserve counts while changing content, so their windows are NOT
        covered by the totals check — they are single-writer by contract
        (their OCC commits pin a read head and a lost race drops the
        index AND this sidecar, ``_recover_index_after_failed_base_
        commit``), which is what keeps a concurrent stamper out of those
        windows.  Plain tables no-op: they have no version to stamp;
        their consistency probe compares row totals directly."""
        if not self.versioned:
            return
        from modal_vector_db_spark.sources import versioned as vcat

        try:
            with self._ivf_meta_lock():
                meta = self._read_ivf_meta()
                if meta.get("mutation_pending"):
                    # Replace-shaped mutation in flight (update() rewrote
                    # __ivf with patched, count-preserving rows; base not
                    # yet committed): the totals check below would pass
                    # while content diverges — fail closed, no stamp.
                    return
                base_v = vcat.current_version(self.name, self.warehouse) or 0
                ivf_v = vcat.current_version(self.name + "__ivf", self.warehouse)
                if ivf_v is None:
                    return
                if (vcat.current_version(self.name, self.warehouse) or 0) != base_v:
                    return  # base moved while reading the index head: fail closed
                b = vcat.manifest_row_count(self.name, self.warehouse, version=base_v)
                i = vcat.manifest_row_count(
                    self.name + "__ivf", self.warehouse, version=ivf_v
                )
                if b is None or i is None or b != i:
                    return
                cur = meta.get("base_version")
                history = dict(meta.get("history", {}))
                if cur is not None and cur >= base_v and str(base_v) in history:
                    return
                history[str(base_v)] = ivf_v
                self._write_ivf_meta(
                    {"base_version": max(cur or 0, base_v), "history": history}
                )
        except TimeoutError:
            return  # stamping is opportunistic: a leaked lock must not fail reads

    def _drop_ivf_stamp(self) -> None:
        try:
            os.remove(self._ivf_meta_path())
        except FileNotFoundError:
            pass

    def _ivf_meta_lock(self, timeout_s: float = 5.0):
        """Serializes ivf-sidecar read-modify-writes (see
        :meth:`_sidecar_lock`).  Callers that can tolerate a missed stamp
        catch the timeout and fail soft."""
        return self._sidecar_lock(self._ivf_meta_path(), "ivf", timeout_s)

    def _begin_ivf_mutation(self) -> None:
        """Open a replace-shaped mutation window: set ``mutation_pending``
        in the sidecar (under the lock, HISTORY preserved) so a concurrent
        reader's :meth:`_stamp_ivf_version` probe fails closed instead of
        recording a poisoned pair.  A count-preserving update() rewrites
        ``__ivf`` (patched rows) BEFORE the base commit; in that window the
        totals check passes while content diverges — the pinned-totals
        verification proves cardinality, not sets, so ONLY this flag keeps
        ``history[old_base] = patched_ivf`` out of the ledger.  (Merely
        dropping the sidecar before the replace would not: a reader
        starting its probe inside the window would re-create it with the
        poisoned pair.)"""
        if not self.versioned:
            return
        with self._ivf_meta_lock():
            meta = self._read_ivf_meta()
            # COUNTER, not boolean (the _begin_text_mutation rule): with
            # two overlapping mutations, a boolean would let the FIRST
            # finalizer close the window while the second's patched __ivf
            # is live and its base commit unlanded — the count-preserving
            # totals check then records a poisoned history pair
            meta["mutation_pending"] = int(meta.get("mutation_pending") or 0) + 1
            self._write_ivf_meta(meta)

    def _end_ivf_mutation(self) -> None:
        """Close the window after the base commit (decrement the counter
        under the lock; stamping re-enables only when the LAST overlapping
        mutation closes, then re-stamp the now-consistent head pair).  A
        crash before this leaves the counter set: stamping stays disabled
        (fail closed — queries still probe fine) until
        ``reconcile_index(deep=True)`` converges the index on the base and
        clears it, or a rebuild resets the sidecar."""
        if not self.versioned:
            return
        with self._ivf_meta_lock():
            meta = self._read_ivf_meta()
            # tolerate the legacy boolean form (True -> 1)
            pending = int(meta.get("mutation_pending") or 0)
            if pending <= 1:
                meta.pop("mutation_pending", None)
            else:
                meta["mutation_pending"] = pending - 1
            self._write_ivf_meta(meta)
        self._stamp_ivf_version()
    def _index_totals_match(self) -> bool:
        """Base vs ``__ivf`` row totals from METADATA alone — versioned:
        both manifests' recorded per-file counts; plain: parquet footer
        sums (O(files) driver-side, no job).  ``False`` whenever a total is
        unknowable (a writer skipped stats) — correctness over speed."""
        ivf_name = self.name + "__ivf"
        if self.versioned:
            from modal_vector_db_spark.sources import versioned as vcat

            b = vcat.manifest_row_count(self.name, self.warehouse)
            i = vcat.manifest_row_count(ivf_name, self.warehouse)
            return b is not None and i is not None and b == i
        return catalog.footer_row_count(
            self.name, self.warehouse
        ) == catalog.footer_row_count(ivf_name, self.warehouse)

    def reconcile_index(self, deep: bool = False) -> int:
        """Bidirectional repair for the crash windows of the base ↔ __ivf
        double write: (a) drop PHANTOM index rows whose base row does not
        exist (plain path: insert died between the index append and the
        base append and was never replayed), and (b) append index rows for
        base rows the index is MISSING (versioned path: insert died between
        the base commit and the index append).  Returns rows repaired
        (orphans removed + missing added).

        A clean table costs ZERO jobs: equal base/__ivf row TOTALS (read
        from manifests / parquet footers, :meth:`_index_totals_match`)
        prove consistency for every state this repo's double-write
        protocols can produce — each crash mode leaves the two totals
        unequal (phantoms: index > base; missing: index < base; a failed
        replace drops the index outright), and the count() set-difference
        jobs run only after the totals disagree.  ``deep=True`` skips the
        short-circuit and runs the full id-set comparison (out-of-band
        tampering, belt-and-suspenders audits).

        A leaked ``mutation_pending`` flag (crash inside update()'s
        __ivf-replace → base-commit window) ESCALATES to deep
        automatically: that is the one crash mode where totals can match
        while content diverges (the patch is count-preserving), so the
        zero-job short-circuit would vouch for a diverged index.  Ids are
        content hashes here, so the id-set comparison detects it (a patch
        re-keys every row it touches) and the repair converges the index on
        whichever side of the commit the crash landed."""
        ivf_name = self.name + "__ivf"
        if not self._cat.table_exists(ivf_name, self.warehouse):
            return 0
        if self.versioned and self._read_ivf_meta().get("mutation_pending"):
            deep = True
        if not deep and self._index_totals_match():
            self._stamp_ivf_version()
            # base/__ivf totals agreeing says nothing about the GRAPH
            # epoch (a crash between the base commit and the graph sync
            # leaves __ivf healed by the next insert but the graph pin
            # stale) — the check is metadata-only, healing runs only when
            # it fails
            return self._heal_graph_if_stale()
        ivf_df = self._cat.read_table(self.spark, ivf_name, self.warehouse)
        base = self.items()
        n_orph = ivf_df.select("id").join(base.select("id"), "id", "left_anti").count()
        if n_orph:
            self._cat.replace_table(
                ivf_df.join(base.select("id"), "id", "left_semi"),
                ivf_name,
                self.warehouse,
                partition_by=["cluster_id"],
                **self._index_write_kwargs,
            )
            # re-resolve: the orphan rewrite swapped the directory out from
            # under the old plan's file list
            ivf_df = self._cat.read_table(self.spark, ivf_name, self.warehouse)
        missing = base.join(ivf_df.select("id"), "id", "left_anti")
        n_miss = missing.count()
        if n_miss:
            from modal_vector_db_spark.operators.ann import load_ivf_index

            ivf = load_ivf_index(
                catalog.db_path(self.name + "__ivf_centroids", self.warehouse),
                self.spark,
            )
            rows = self._encode_pq_if_present(ivf.assign(missing)).localCheckpoint(
                eager=True
            )
            self._cat.append(
                rows, ivf_name, self.warehouse, partition_by=["cluster_id"],
                **self._index_write_kwargs,
            )
        if deep and self.versioned:
            # The full id-set comparison above PROVES index/base content
            # agreement — the one legitimate way to close a mutation window
            # leaked by a crash between update()'s __ivf replace and its
            # base commit (the flag otherwise keeps stamping disabled
            # forever, by design: totals alone can't distinguish patched
            # from consistent).
            try:
                with self._ivf_meta_lock():
                    meta = self._read_ivf_meta()
                    if meta.pop("mutation_pending", None) is not None:
                        self._write_ivf_meta(meta)
            except TimeoutError:
                pass  # leave the flag; stamping stays disabled, reads fine
        self._stamp_ivf_version()
        # graph healing LAST: reconcile_graph assigns missing rows with
        # the same centroids the (now-consistent) __ivf uses
        return n_orph + n_miss + self._heal_graph_if_stale()

    def _ivf_cluster_rows(self) -> dict:
        """Per-cluster row counts of the ``__ivf`` layout from METADATA
        alone — zero Spark jobs (versioned: manifest partition stats;
        plain: parquet footers per ``cluster_id=`` dir).  Shared by
        :meth:`index_stats` and the hot-cluster splitter."""
        ivf_name = self.name + "__ivf"
        per: dict = {}
        if self.versioned:
            from modal_vector_db_spark.sources import versioned as vcat

            v = vcat.current_version(ivf_name, self.warehouse)
            m = vcat._read_manifest(ivf_name, self.warehouse, v)
            stats = m.get("stats", {})
            for f in m["files"]:
                s = stats.get(f, {})
                c = (s.get("cluster_id") or [None])[0]
                per[c] = per.get(c, 0) + int(s.get("rows") or 0)
        else:
            base = catalog.db_path(ivf_name, self.warehouse)
            for entry in os.listdir(base):
                p = os.path.join(base, entry)
                if not (entry.startswith("cluster_id=") and os.path.isdir(p)):
                    continue
                c = entry.split("=", 1)[1]
                per[c] = per.get(c, 0) + sum(
                    catalog._footer_rows(os.path.join(p, f))
                    for f in os.listdir(p)
                    if f.endswith(".parquet")
                )
        return per

    def index_stats(self) -> dict:
        """IVF layout health from METADATA alone — zero Spark jobs:
        per-cluster row counts (versioned: manifest partition stats; plain:
        parquet footers per ``cluster_id=`` dir) folded into balance
        metrics.  A drifted layout (one cluster absorbing most inserts —
        every new row lands in its nearest EXISTING centroid, centroids
        never move) degrades ``nprobe`` recall; rebuild with
        :meth:`create_index` when ``max_cluster_frac`` grows far past
        ``1 / clusters_total``.  ``stamp_fresh`` (versioned) reports
        whether the index sidecar matches the base head — ``False`` means
        the next indexed query will run its consistency probe."""
        ivf_name = self.name + "__ivf"
        if not self._cat.table_exists(ivf_name, self.warehouse):
            raise ValueError(
                f"no index for table {self.name!r}: call create_index() first"
            )
        per = self._ivf_cluster_rows()
        total = sum(per.values())
        cpath = catalog.db_path(self.name + "__ivf_centroids", self.warehouse)
        if os.path.exists(cpath + "__2l.json"):
            # two-level: total fine clusters from the marker (the centroid
            # table itself holds only the k1 coarse rows).  The marker
            # records the ACTUAL emitted count at save time; k1*k2 is only
            # the pre-round-7 fallback (it overcounts on small/duplicate-
            # heavy shards, silently growing the layout on rebuild)
            with open(cpath + "__2l.json") as f:
                mk = json.load(f)
            k = int(mk.get("clusters_total") or int(mk["k1"]) * int(mk["k2"]))
        else:
            k = catalog.footer_row_count(self.name + "__ivf_centroids", self.warehouse)
        out = {
            "clusters_total": int(k),
            "clusters_nonempty": sum(1 for n in per.values() if n),
            "rows": int(total),
            "max_cluster_frac": round(max(per.values()) / total, 6) if total else 0.0,
        }
        if self.versioned:
            from modal_vector_db_spark.sources import versioned as vcat

            # ONE head snapshot for every versioned field below — separate
            # reads could pair one commit's stamp check with another's
            # mask state (review finding)
            head = vcat.current_version(self.name, self.warehouse)
            out["stamp_fresh"] = self._read_ivf_stamp() == (head or 0)
            # base versions an indexed time-travel query can serve
            out["time_travel_versions"] = sorted(
                int(b) for b in self._read_ivf_meta().get("history", {})
            )
            # merge-on-read mask pending (rows every read anti-joins until
            # the next fold) — still zero jobs, straight from the manifest;
            # None when a mask file lacks recorded stats (unknown, the
            # manifest_row_count contract — never a false "no mask")
            m = (
                vcat._read_manifest(self.name, self.warehouse, head)
                if head
                else {}
            )
            stats_map = m.get("stats", {})
            pending: int | None = 0
            for t in m.get("tombstones", []):
                rows = (stats_map.get(t) or {}).get("rows")
                if rows is None:
                    pending = None
                    break
                pending += int(rows)
            out["tombstones_pending"] = pending
        # graph index observability (still zero Spark jobs): epoch pin
        # state + node totals from manifests/footers + the calibrated
        # serving default — "graph_fresh: False" means the next
        # query_graph raises the rebuild/reconcile demand loudly
        gmeta = self._read_hnsw_meta()
        if gmeta is not None:
            g: dict = {
                "m": gmeta.get("m"),
                "ef_construction": gmeta.get("ef_construction"),
                "default_ef_search": gmeta.get("default_ef_search"),
            }
            nodes_name = self.name + "__hnsw_nodes"
            if self.versioned:
                from modal_vector_db_spark.sources import versioned as vcat

                nv = vcat.current_version(nodes_name, self.warehouse)
                g["nodes"] = (
                    vcat.manifest_row_count(nodes_name, self.warehouse, version=nv)
                    if nv is not None
                    else None
                )
                g["graph_fresh"] = gmeta.get("base_version") == (
                    vcat.current_version(self.name, self.warehouse)
                ) and gmeta.get("ivf_gen") == self._read_ivf_gen()
            else:
                g["nodes"] = catalog.footer_row_count(nodes_name, self.warehouse)
                # freshness is the serving contract: pinned rows == BASE
                # rows (plus the centroid-generation match) — exactly what
                # _check_graph_epoch enforces
                g["graph_fresh"] = gmeta.get("rows") == self.num_rows() and (
                    gmeta.get("ivf_gen") == self._read_ivf_gen()
                )
            out["graph"] = g
        return out

    def maintain_index(
        self,
        max_cluster_frac: float = 0.5,
        num_clusters: int | None = None,
        split_hot: bool = False,
    ) -> bool:
        """Make the zero-job drift signal actionable: inserts assign new
        rows to the nearest EXISTING centroid, so a drifting corpus slowly
        collapses into few clusters and probe pruning stops pruning.
        Reads :meth:`index_stats` (manifest/footer metadata only — no
        Spark job) and acts only when the largest cluster exceeds
        ``max_cluster_frac`` of all rows.  Returns True when maintenance
        ran — call from the same maintenance window as
        :meth:`compact`/:meth:`vacuum`.

        ``split_hot=False`` (legacy): full :meth:`create_index` rebuild —
        every partition rewritten, graph + calibration rebuilt.

        ``split_hot=True`` (round 12): INCREMENTAL recluster — k-means
        ONLY the oversized cluster's rows into 2–4 children, rewrite only
        that one partition (file-pruned), insert the child centroids in
        place, migrate the graph shards + centroid generation in the same
        window (:meth:`_split_hot_clusters`).  At 100 TB this is the only
        affordable remedy: the full rebuild re-shuffles the entire corpus
        to fix one hot shard.  Falls back to the full rebuild for
        two-level layouts (their fine centroids are per-shard artifacts —
        an in-place split would re-shard the shard, which IS the rebuild)
        and when the split would exceed the flat-centroid bound.

        An existing PQ codebook is preserved on both paths (codes are
        cluster-independent; the rebuild path re-trains at the same
        ``m``); ``num_clusters`` defaults to the current cluster count.

        Default 0.5: a perfectly balanced layout sits at ``1/k``; 0.5
        means half the corpus scans on every probe of that cluster —
        past the point where the index pays for itself."""
        # maintenance folds any pending merge-on-read delete mask first —
        # masked rows physically leave, reads stop paying the anti-join
        folded = self._fold_tombstones()
        if not self._cat.table_exists(self.name + "__ivf", self.warehouse):
            return folded  # nothing else to maintain (never indexed, or
            # reembed dropped the geometry) — a window must not crash
        stats = self.index_stats()
        if not stats["rows"] or stats["max_cluster_frac"] <= max_cluster_frac:
            return folded
        if split_hot and not os.path.exists(
            catalog.db_path(self.name + "__ivf_centroids", self.warehouse)
            + "__2l.json"
        ):
            done = self._split_hot_clusters(max_cluster_frac)
            if done is not None:
                return done or folded
            # fall through: split would exceed the flat-centroid bound —
            # the full rebuild re-balances within it
        pq_m: int | None = None
        cb = self.name + "__pq_codebooks"
        if catalog.table_exists(cb, self.warehouse):
            from modal_vector_db_spark.operators.pq import PQIndex

            pq_m = PQIndex.load(catalog.db_path(cb, self.warehouse), self.spark).m
        # a two-level layout must rebuild two-level (same total fine count)
        # — a flat rebuild at that count could silently re-enter the
        # driver-artifact regime the hierarchy exists to avoid
        two_level = os.path.exists(
            catalog.db_path(self.name + "__ivf_centroids", self.warehouse)
            + "__2l.json"
        )
        # the recluster invalidates a graph index (it is sharded BY this
        # layout) — snapshot its build parameters and rebuild it in the
        # same maintenance window, or a drifted table's maintenance would
        # silently downgrade graph serving to a loud rebuild demand
        gmeta = self._read_hnsw_meta()
        self.create_index(
            num_clusters=num_clusters or stats["clusters_total"],
            pq_m=pq_m,
            two_level=two_level,
        )
        if gmeta is not None:
            self.create_graph_index(
                m=int(gmeta["m"]),
                ef_construction=int(gmeta["ef_construction"]),
                calibrate="default_ef_search" in gmeta,
                target_recall=float(gmeta.get("target_recall", 0.95)),
            )
        return True

    #: hot-split convergence bound: k-means splits are uneven, so one split
    #: may leave a child still over threshold — re-split up to this many
    #: times before going loud (each round halves-ish the hot mass, so 6
    #: rounds cover a 64× imbalance)
    _MAX_SPLIT_ROUNDS = 6

    def _split_hot_clusters(self, max_cluster_frac: float) -> bool | None:
        """In-place recluster: split every over-threshold cluster into
        2–4 children until ``max_cluster_frac`` holds (bounded by
        :data:`_MAX_SPLIT_ROUNDS`).  Returns ``None`` when a split would
        exceed :data:`~modal_vector_db_spark.operators.ann.MAX_IVF_CLUSTERS`
        (caller falls back to the full rebuild), else True.

        Per round: metadata-only per-cluster counts pick the hot cluster;
        MLlib k-means fits the children on ONLY that partition
        (partition-pruned scan); the reassign rewrites ONLY that
        partition's files (file-pruned, spy-pinned in
        tests/test_index_consistency.py); child centroids land in place
        (child 0 reuses the hot id — the centroid table stays dense, the
        load-order == cluster-id invariant holds); the graph shards and
        the centroid generation migrate in the same window
        (:meth:`_migrate_graph_for_split`) so graph serving survives the
        recluster instead of demanding a rebuild.

        Crash contract (the ``update()`` replace-shape, single-writer):
        versioned tables open the mutation window first — head reads
        redirect to the verified pre-split pair (MVCC) and stamping stays
        out until the window closes; the stamp HISTORY is reset inside
        the window (old pairs refer to the old centroid geometry, the
        ``create_index`` rule).  The gen bump lands BEFORE the graph
        migration, so any crash in between leaves a loudly-stale graph,
        never a silently mis-sharded one."""
        import math

        from modal_vector_db_spark.operators.ann import MAX_IVF_CLUSTERS

        import logging

        did = False
        # progress is tracked PER CLUSTER, and an unsplittable cluster is
        # parked in ``stuck`` instead of aborting the loop — other hot
        # clusters must still get their splits (review findings ×2: a
        # cross-cluster progress compare stopped after the first split; a
        # duplicate-heavy hottest cluster starved splittable ones)
        prev_frac: dict[int, float] = {}
        stuck: set[int] = set()
        splits = 0
        while splits < self._MAX_SPLIT_ROUNDS:
            per = {}
            for c, n in self._ivf_cluster_rows().items():
                try:
                    per[int(c)] = int(n)
                except (TypeError, ValueError):
                    continue  # NULL-embedding partition: never split
            total = sum(per.values())
            if not total:
                return did
            cands = [(c, n) for c, n in per.items() if c not in stuck]
            if not cands:
                break  # every over-threshold cluster is unsplittable
            hot, hot_rows = max(cands, key=lambda t: (t[1], -t[0]))
            frac = hot_rows / total
            if frac <= max_cluster_frac:
                break  # no splittable cluster left over threshold
            if hot_rows < 2 or frac > prev_frac.get(hot, 2.0) - 0.01:
                # barely moved since ITS last split (k-means shaving
                # single rows off a duplicate-heavy cluster) — park it
                # and give the next-hottest its turn
                stuck.add(hot)
                continue
            prev_frac[hot] = frac
            k = int(
                catalog.footer_row_count(
                    self.name + "__ivf_centroids", self.warehouse
                )
            )
            children = (
                4
                if max_cluster_frac <= 0
                else min(4, max(2, math.ceil(frac / max_cluster_frac)))
            )
            children = min(children, hot_rows)
            if k + children - 1 > MAX_IVF_CLUSTERS:
                return None  # centroid table would breach the flat bound
            if not self._split_one_cluster(hot, children, k):
                stuck.add(hot)  # degenerate k-means: park, try the next
                continue
            did = True
            splits += 1
        now = self.index_stats()["max_cluster_frac"]
        if now > max_cluster_frac:
            logging.getLogger(__name__).warning(
                "table %s: hot-cluster splitting stopped before reaching "
                "max_cluster_frac<=%s (now %s) — duplicate-heavy data "
                "cannot be balanced by ANY recluster (identical vectors "
                "share one cell); dedup the corpus or accept the hot shard",
                self.name,
                max_cluster_frac,
                now,
            )
        return did

    def _reassign_to_children(self, df: DataFrame, child_centroids, child_ids):
        """``cluster_id`` ← argmin cosine distance over ONLY the child
        centroids, mapped through ``child_ids`` — the same native
        expression :meth:`~modal_vector_db_spark.operators.ann.IVFIndex.assign`
        uses, so the ``__ivf`` rows and the ``__hnsw_nodes`` rows (which
        recompute it independently) land identically."""
        from modal_vector_db_spark.operators.ann import IVFIndex

        cols = df.columns
        sub = IVFIndex(child_centroids).assign(df.drop("cluster_id"))
        mapping = F.array(*[F.lit(int(c)) for c in child_ids])
        return sub.withColumn(
            "cluster_id",
            F.element_at(mapping, F.col("cluster_id") + 1).cast("int"),
        ).select(*cols)

    def _split_one_cluster(self, hot: int, children: int, k: int) -> bool:
        """Split cluster ``hot`` into ``children`` children (ids: ``hot``
        reused + ``k..k+children-2`` appended).  Returns False when the
        k-means degenerates (duplicate-heavy cluster yields <2 distinct
        centers) — nothing is written in that case."""
        import uuid as _uuid

        import numpy as np
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        from modal_vector_db_spark.operators.ann import IVFIndex
        from modal_vector_db_spark.plans.checkpoints import release_local_checkpoint

        ivf_name = self.name + "__ivf"
        cpath = catalog.db_path(self.name + "__ivf_centroids", self.warehouse)
        rows_c = self._cat.read_table(self.spark, ivf_name, self.warehouse).filter(
            F.col("cluster_id") == int(hot)
        )
        # fit on only the hot partition — partition-pruned scan, MLlib
        # distributed fit (no driver collect of rows; the centroids are
        # the only driver artifact, children × dim floats).  Best of
        # _SPLIT_RESTARTS seeds by k-means cost: k-means|| samples per input
        # partition, so which rows seed a single fit depends on the file
        # split, and one fit can spend a child on a single outlier row that
        # the no-progress rule then parks as unsplittable
        feats = rows_c.filter(F.col("embedding").isNotNull()).select(
            array_to_vector(F.col("embedding")).alias("features")
        )
        model = min(
            (
                KMeans(k=int(children), seed=42 + i, featuresCol="features").fit(feats)
                for i in range(_SPLIT_RESTARTS)
            ),
            key=lambda m: m.summary.trainingCost,
        )
        cents = np.array([np.asarray(c) for c in model.clusterCenters()], dtype=np.float64)
        # dedupe degenerate centers (k-means on duplicate-heavy data can
        # emit coincident centroids — a zero-information child that would
        # sit permanently empty while consuming an nprobe slot); keep the
        # first occurrence of each distinct center, original order
        _, first_idx = np.unique(np.round(cents, 12), axis=0, return_index=True)
        if len(first_idx) < 2:
            return False
        child_cents = cents[np.sort(first_idx)]
        child_ids = [int(hot)] + [int(k + j) for j in range(len(child_cents) - 1)]
        self._begin_ivf_mutation()
        try:
            reassigned = self._reassign_to_children(
                rows_c, child_cents, child_ids
            ).localCheckpoint(eager=True)  # self-referential rewrite below
            try:
                self._cat.rewrite_where(
                    self.spark,
                    ivf_name,
                    F.col("cluster_id") != int(hot),
                    self.warehouse,
                    **self._index_mut_kwargs,
                )
                self._cat.append(
                    reassigned,
                    ivf_name,
                    self.warehouse,
                    partition_by=["cluster_id"],
                    **self._index_write_kwargs,
                )
            finally:
                release_local_checkpoint(reassigned)
            # centroid table: child 0 replaces the hot row, the rest
            # append — dense ids, load-order == cluster_id preserved
            full = IVFIndex.load(cpath, self.spark)
            new_cents = np.vstack(
                [full.centroids, np.zeros((len(child_cents) - 1, full.centroids.shape[1]))]
            )
            new_cents[int(hot)] = child_cents[0]
            for j, cid in enumerate(child_ids[1:]):
                new_cents[cid] = child_cents[j + 1]
            IVFIndex(new_cents).save(cpath, self.spark)
            # stamp history refers to the OLD geometry — reset it (the
            # create_index rule), but KEEP the open mutation window
            if self.versioned:
                try:
                    with self._ivf_meta_lock():
                        meta = self._read_ivf_meta()
                        pending = meta.get("mutation_pending")
                        fresh: dict = {}
                        if pending:
                            fresh["mutation_pending"] = pending
                        self._write_ivf_meta(fresh)
                except TimeoutError:
                    import logging

                    # old pairs would serve time-travel probes of the old
                    # layout with new centroids (recall-degraded, rerank
                    # still exact over probed rows) — log loud; the head
                    # pair re-verifies at _end and the gen pin keeps the
                    # graph honest
                    logging.getLogger(__name__).warning(
                        "table %s: could not reset the stamp history "
                        "during hot-split (leaked sidecar lock?) — "
                        "time-travel indexed queries may probe the old "
                        "layout until the next create_index()",
                        self.name,
                    )
            new_gen = _uuid.uuid4().hex
            self._atomic_json_write(cpath + "__gen.json", {"gen": new_gen})
            self._ivf2l_cache = None
            self._migrate_graph_for_split(int(hot), child_ids, child_cents, new_gen)
        finally:
            self._end_ivf_mutation()
        return True

    def _migrate_graph_for_split(
        self, hot: int, child_ids: list, child_cents, new_gen: str
    ) -> None:
        """Carry the HNSW graph across an in-place split: reassign the hot
        partition's ``__hnsw_nodes`` rows with the SAME child-centroid
        expression the ``__ivf`` rewrite used, rebuild only the child
        clusters' adjacency, and move the epoch pin to the new centroid
        generation — all under the epoch-sidecar lock.  A crash anywhere
        leaves the old-gen pin against the new gen file: loudly stale,
        never silently mis-sharded.  Lock timeout fails closed (drop the
        graph; maintenance must not hang)."""
        import logging

        from modal_vector_db_spark.plans.checkpoints import release_local_checkpoint

        if self._read_hnsw_meta() is None:
            return
        try:
            with self._sidecar_lock(
                self._hnsw_meta_path(), "hnsw graph", timeout_s=120.0
            ):
                gmeta = self._read_hnsw_meta()
                if gmeta is None:
                    return
                nodes_c = self._cat.read_table(
                    self.spark, self.name + "__hnsw_nodes", self.warehouse
                ).filter(F.col("cluster_id") == int(hot))
                re_nodes = self._reassign_to_children(
                    nodes_c, child_cents, child_ids
                ).localCheckpoint(eager=True)
                try:
                    self._cat.rewrite_where(
                        self.spark,
                        self.name + "__hnsw_nodes",
                        F.col("cluster_id") != int(hot),
                        self.warehouse,
                        **self._index_mut_kwargs,
                    )
                    self._cat.append(
                        re_nodes,
                        self.name + "__hnsw_nodes",
                        self.warehouse,
                        partition_by=["cluster_id"],
                        **self._index_write_kwargs,
                    )
                finally:
                    release_local_checkpoint(re_nodes)
                self._rebuild_graph_clusters([int(c) for c in child_ids], gmeta)
                gmeta["ivf_gen"] = new_gen
                self._atomic_json_write(self._hnsw_meta_path(), gmeta)
        except TimeoutError:
            logging.getLogger(__name__).warning(
                "table %s: graph migration lock timed out during hot-split "
                "— dropping the graph index (fail closed; rebuild with "
                "create_graph_index())",
                self.name,
            )
            self._invalidate_graph_index()

    def _encode_pq_if_present(self, df: DataFrame) -> DataFrame:
        """Attach ``pq_code`` to rows headed for the ``__ivf`` layout when a
        PQ codebook exists — every index write path (insert append, update
        re-assign) must do this, or the new rows carry NULL codes and the
        ADC candidate scan ranks them last: silently invisible to
        ``compressed=True`` queries until a rebuild."""
        cb = self.name + "__pq_codebooks"
        if not catalog.table_exists(cb, self.warehouse):
            return df
        from modal_vector_db_spark.functions.distance import l2_norm
        from modal_vector_db_spark.operators.pq import PQIndex

        pq = PQIndex.load(catalog.db_path(cb, self.warehouse), self.spark)
        normed = df.withColumn(
            "_nvec",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: x / F.greatest(l2_norm(F.col("embedding")), F.lit(1e-12)),
            ),
        )
        return pq.encode(normed, vec_col="_nvec").drop("_nvec")
    def _load_ivf(self, require: bool = True):
        """``(ivf_table_name, IVFIndex | None)`` — the one place the
        derived-table naming, existence check, and canonical no-index error
        live.  ``require=True`` (the query paths) raises; ``require=False``
        returns ``(name, None)`` when no index exists.

        The first ``require=True`` load per handle runs a consistency probe
        (r4 verdict #5: an ABANDONED crashed insert must not serve
        phantoms/misses until someone remembers to call reconcile): on a
        versioned table a matching version stamp skips everything; failing
        that, :meth:`reconcile_index`'s metadata-only totals comparison
        detects divergence for free and auto-repairs when it finds any.
        This handle's own later writes keep the index synced, so once per
        handle is the honest cadence — the probe exists for drift that
        predates the handle."""
        from modal_vector_db_spark.operators.ann import load_ivf_index

        ivf_table = self.name + "__ivf"
        if not self._cat.table_exists(ivf_table, self.warehouse):
            if require:
                raise ValueError(
                    f"no index for table {self.name!r}: call create_index() first"
                )
            return ivf_table, None
        if require and not self._ivf_probed:
            self._ivf_probed = True  # before reconcile: its reads must not re-probe
            stamped = False
            window_open = False
            if self.versioned:
                from modal_vector_db_spark.sources import versioned as vcat

                meta = self._read_ivf_meta()
                # An OPEN mutation window (live update, or a crash leaked
                # it) must not trigger auto-repair: a reconcile racing a
                # live updater would restore pre-update index rows that
                # the updater's imminent base commit falsifies — and then
                # the updater's verified stamp would record that wrong
                # pair.  Reads stay safe without it: _read_ivf_probes
                # redirects head reads to the verified pinned pair while
                # the flag is set.  A LEAKED window is converged by an
                # explicit reconcile_index() (escalates to deep).
                window_open = bool(meta.get("mutation_pending"))
                stamped = meta.get("base_version") == (
                    vcat.current_version(self.name, self.warehouse) or 0
                )
            if not stamped and not window_open:
                self.reconcile_index()
        cpath = catalog.db_path(self.name + "__ivf_centroids", self.warehouse)
        marker = cpath + "__2l.json"
        if os.path.exists(marker):
            # Two-level: cache the loaded handle per VectorDB instance,
            # keyed on the marker's (mtime_ns, size).  The instance's
            # per-shard fine-centroid cache then survives across queries —
            # without this, every query re-listed+re-read one parquet dir
            # per probed shard from the driver (round-6 verdict #3 flag).
            # Rebuilds rewrite the marker atomically (save() os.replace),
            # IN-PROCESS OR OUT, so the key misses and a fresh handle
            # loads; flat rebuilds remove the marker and fall through.
            # Key = the marker's build_id (unique per save()) — stat
            # (mtime, size) alone can collide when a same-size rebuild
            # lands in one coarse-mtime tick; stat stays as the fallback
            # for pre-build_id markers.
            try:
                with open(marker) as _mf:
                    key = json.load(_mf).get("build_id")
            except (OSError, ValueError):
                key = None
            if key is None:
                st = os.stat(marker)
                key = (st.st_mtime_ns, st.st_size)
            cached = self._ivf2l_cache
            if cached is not None and cached[0] == key:
                return ivf_table, cached[1]
            idx = load_ivf_index(cpath, self.spark)
            self._ivf2l_cache = (key, idx)
            return ivf_table, idx
        self._ivf2l_cache = None
        return ivf_table, load_ivf_index(cpath, self.spark)

    def _read_ivf_probes(self, clusters, version: int | None = None) -> DataFrame:
        """Probed-cluster read of the ``__ivf`` layout.  Plain catalog:
        full-table read — the caller's ``cluster_id`` isin filter becomes
        Spark-side partition pruning on the ``cluster_id=N/`` dirs
        (PartitionFilters, plan-asserted in tests/test_plans.py).
        Versioned: the probed clusters' FILE LISTS are resolved from the
        manifest (partition values live in its stats,
        ``sources/versioned.py:_partition_stats``) and only those paths are
        handed to Spark — at 100 TB the unprobed partitions are never even
        listed.  The union-over-probes is a disjunction, so it cannot be
        one intersecting ``between`` call; nprobe manifest reads are
        O(nprobe) tiny JSON parses.

        ``version``: an ``__ivf`` MANIFEST version (from the stamp
        history, NOT a base version) — the probe resolves that immutable
        snapshot's file lists instead of the head's (versioned tables
        only; the caller translates base → index version via
        :meth:`_ivf_version_for_base`).

        Head reads (``version=None``) re-check the mutation window HERE,
        at file-list resolution time: while an update()'s window is open
        the __ivf HEAD already holds patched rows for a base that has not
        committed, so the head read is redirected to the VERIFIED pair for
        the current base head — MVCC, the pre-update snapshot — or fails
        loudly when no pair was ever verified.  (The per-handle probe in
        :meth:`_load_ivf` cannot carry this: it runs once, and never
        auto-reconciles inside a window — a repair racing a live updater
        would restore pre-update rows that the updater's imminent base
        commit immediately falsifies.)"""
        ivf_table = self.name + "__ivf"
        if not self.versioned:
            return catalog.read_table(self.spark, ivf_table, self.warehouse)
        from modal_vector_db_spark.sources import versioned as vcat

        if version is None:
            meta = self._read_ivf_meta()
            if meta.get("mutation_pending"):
                head = vcat.current_version(self.name, self.warehouse) or 0
                pinned = meta.get("history", {}).get(str(head))
                if pinned is None:
                    raise ValueError(
                        f"table {self.name!r}: an index mutation window is "
                        "open (update() in flight, or a crash leaked it) and "
                        "no verified index snapshot exists for the current "
                        "base head — query with use_index=False, or run "
                        "reconcile_index() after confirming no writer is live"
                    )
                version = int(pinned)

        rels = sorted(
            {
                f
                for c in clusters
                for f in vcat.resolve_files(
                    ivf_table,
                    self.warehouse,
                    version=version,
                    between=("cluster_id", int(c), int(c)),
                )
            }
        )
        if not rels:  # fully pruned: empty frame with the index's schema
            return vcat.read_table(self.spark, ivf_table, self.warehouse).limit(0)
        return vcat._read_files(self.spark, ivf_table, self.warehouse, rels)

    def _drop_index_tables(self, keep_text: bool = False) -> None:
        """Drop the derived index tables (forcing a :meth:`create_index`
        rebuild) — the recovery whenever they can no longer be trusted to
        mirror the base table.  ``drop_table`` is an rmtree on both
        backends (a versioned __ivf's manifests live under its dir).

        ``keep_text=True`` (reembed): the text postings hash metadata text
        only — an embedding-model migration changes neither ids nor text,
        so the lexical channel stays exactly valid while the geometry-
        bound IVF/PQ artifacts must go."""
        for suffix in (
            "__ivf", "__ivf_centroids", "__ivf_centroids__fine",
            "__pq_codebooks", "__hnsw", "__hnsw_nodes",
        ):
            catalog.drop_table(self.name + suffix, self.warehouse)
        try:
            os.remove(self._hnsw_meta_path())
        except FileNotFoundError:
            pass
        # markers/sidecars ride beside the centroid table: the two-level
        # marker and the nprobe calibration curve (a stale curve would
        # hand the next index generation the wrong default)
        for marker in ("__2l.json", "__calib.json", "__gen.json"):
            try:
                os.remove(
                    catalog.db_path(self.name + "__ivf_centroids", self.warehouse)
                    + marker
                )
            except FileNotFoundError:
                pass
        self._drop_ivf_stamp()
        self._ivf2l_cache = None
        if not keep_text:
            self._drop_text_index()
    def _recover_index_after_failed_base_commit(self) -> None:
        """delete()/update() rewrite the plain ``__ivf`` layout BEFORE the
        base commit (their plans read the not-yet-swapped base); if the base
        commit then fails — e.g. a versioned table losing the OCC race with
        ``ConcurrentWriteError`` — the index has already dropped/re-keyed
        rows the base still holds.  A diverged index must not survive:
        drop the derived tables so the caller rebuilds with
        :meth:`create_index` after retrying against the new head."""
        if self._cat.table_exists(self.name + "__ivf", self.warehouse):
            self._drop_index_tables()
        else:
            self._drop_text_index()
    def create_index(
        self,
        num_clusters: int = 16,
        pq_m: int | None = None,
        two_level: bool = False,
        coarse_clusters: int | None = None,
        calibrate: bool = True,
        target_recall: float = 0.7,
    ) -> None:
        """HNSW-index analog (``duckvdb.py:37-41``): IVF repartition — see
        ``operators/ann.py``.  Rewrites the table partitioned by
        ``cluster_id`` so queries prune partitions like an index scan.

        ``pq_m``: additionally product-quantize the (L2-normalized)
        embeddings into ``pq_m`` code bytes per vector and store the codes
        alongside — ``query(..., use_index=True, compressed=True)`` then
        scans codes instead of vectors inside the probed partitions (the
        FAISS-style IVF+PQ pairing: IVF prunes WHICH rows, PQ shrinks WHAT
        each row costs).  Normalizing first makes squared-L2 ADC order
        agree with the facade's cosine metric (unit vectors:
        ‖a−b‖² = 2·(1−cos)).

        ``two_level``: hierarchical IVF (``operators/ann.py:IVFIndex2L``)
        — REQUIRED past ``MAX_IVF_CLUSTERS`` (flat centroids are a
        driver/plan artifact; two-level keeps only ``coarse_clusters``
        driver-side and reads probed shards' fine centroids per query).
        ``num_clusters`` is the TOTAL fine cluster count; ``coarse_clusters``
        defaults to ceil(sqrt(num_clusters)).  Query/mutation/sync paths
        are unchanged — the saved marker makes every load site return the
        right index class.

        ``calibrate``: measure THIS index's recall@k-vs-scan-fraction
        curve on a bounded deterministic sample
        (``operators/ann.py:calibrate_nprobe``) and persist the smallest
        nprobe reaching ``target_recall`` as the table's default —
        ``query(use_index=True)`` without an explicit nprobe reads it
        (constant-4 was a guess; the right probe count is a property of
        the corpus's cluster geometry)."""
        from modal_vector_db_spark.functions.distance import l2_norm
        from modal_vector_db_spark.operators.ann import (
            MAX_IVF_CLUSTERS,
            IVFIndex,
            IVFIndex2L,
        )

        items = self.items()
        if two_level:
            import math

            k1 = coarse_clusters or max(2, math.ceil(math.sqrt(num_clusters)))
            k2 = max(1, math.ceil(num_clusters / k1))
            ivf = IVFIndex2L.build(items, vec_col="embedding", k1=k1, k2=k2)
        else:
            if num_clusters > MAX_IVF_CLUSTERS:
                raise ValueError(
                    f"num_clusters={num_clusters} exceeds the flat-IVF bound "
                    f"{MAX_IVF_CLUSTERS}: pass two_level=True (hierarchical "
                    "IVF keeps the centroid state off the driver)"
                )
            ivf = IVFIndex.build(items, vec_col="embedding", k=num_clusters)
        clustered = ivf.assign(items)
        if pq_m is not None:
            from modal_vector_db_spark.operators.pq import PQIndex

            normed = clustered.withColumn(
                "_nvec",
                F.transform(
                    F.col("embedding").cast("array<double>"),
                    lambda x: x / F.greatest(l2_norm(F.col("embedding")), F.lit(1e-12)),
                ),
            )
            pq = PQIndex.train(normed, vec_col="_nvec", m=pq_m)
            clustered = pq.encode(normed, vec_col="_nvec").drop("_nvec")
            pq.save(catalog.db_path(self.name + "__pq_codebooks", self.warehouse), self.spark)
        # Reset the stamp sidecar BEFORE the rebuild commits: its history
        # pairs refer to the OLD centroid generation, and on a versioned
        # __ivf the overwrite keeps old manifests resolvable — a surviving
        # pair would let an indexed time-travel query probe an old layout
        # with the NEW centroids (silently wrong rows, not a loud error).
        # A crash mid-rebuild then leaves no stamp at all: conservative,
        # the next indexed query probes.
        self._drop_ivf_stamp()
        # The HNSW graph (if any) is sharded BY this layout's cluster_id:
        # a recluster invalidates it even when the BASE table is untouched,
        # which the graph epoch pin (base_version / row count) cannot see —
        # probes from the new centroid geometry would filter the OLD
        # partitioning and silently return wrong/empty rows (review
        # finding).  Drop the graph artifacts now (before the new layout
        # commits), and stamp a fresh IVF generation below so a graph that
        # somehow survives (crash between the overwrite and this drop on a
        # retry path) still fails the generation check loudly.
        self._invalidate_graph_index()
        # the clustered frame inherits the base table's file split, which
        # partitionBy would multiply by the cluster count: rebalance on
        # cluster_id so each cluster dir gets advisory-size files
        self._cat.overwrite(
            catalog.sized_by_bytes(clustered, ["cluster_id"]),
            self.name + "__ivf",
            self.warehouse,
            partition_by=["cluster_id"],
            **self._index_write_kwargs,
        )
        cpath = catalog.db_path(self.name + "__ivf_centroids", self.warehouse)
        if not two_level:
            # a flat rebuild over a previously two-level index must remove
            # the marker, or the load factory would pair the NEW flat
            # centroid table with the STALE fine table
            try:
                os.remove(cpath + "__2l.json")
            except FileNotFoundError:
                pass
            catalog.drop_table(self.name + "__ivf_centroids__fine", self.warehouse)
        ivf.save(cpath, self.spark)
        # new centroid generation id: create_graph_index pins it and the
        # graph query paths verify it (defense-in-depth vs the drop above)
        self._atomic_json_write(
            cpath + "__gen.json", {"gen": __import__("uuid").uuid4().hex}
        )
        if calibrate:
            from modal_vector_db_spark.operators.ann import calibrate_nprobe

            hb = F.pmod(F.xxhash64(F.col("embedding"), F.lit(42)), F.lit(2**31))
            sampled = [
                (r["embedding"], r["cluster_id"])
                for r in clustered
                # NULL embeddings get NULL cluster_ids (assign tolerates
                # them: corrupt row never fails a job) but cannot
                # calibrate — and xxhash64(NULL) makes them sort adjacent,
                # so an unfiltered sample would be ALL-null (same bug
                # class as the PQ train fix; review finding)
                .filter(
                    F.col("embedding").isNotNull()
                    & F.col("cluster_id").isNotNull()
                )
                .select("embedding", "cluster_id", hb.alias("_hb"))
                .orderBy("_hb")  # deterministic hash-admitted sample,
                .limit(2048)  # TakeOrdered — no full shuffle
                .collect()
            ]
            if two_level:
                fine = getattr(ivf, "_fine_rows", None)
                total_cl = len(fine) if fine else len(ivf.coarse) * ivf.k2
            else:
                total_cl = len(ivf.centroids)
            calib = calibrate_nprobe(
                ivf, sampled, total_cl, target_recall=target_recall
            )
            self._atomic_json_write(cpath + "__calib.json", calib)
        else:
            try:
                os.remove(cpath + "__calib.json")  # stale curve = wrong default
            except FileNotFoundError:
                pass
        # stamp is verified against head totals internally; a commit that
        # raced the corpus scan fails the verification and leaves the stamp
        # stale, costing one (cheap) probe+reconcile on the next indexed query
        self._stamp_ivf_version()

    def _sync_index_for_append(
        self, batch: DataFrame, base_version: int | None = None
    ) -> DataFrame | None:
        """Keep the IVF snapshot in sync on insert (the reference's HNSW
        index is maintained on every insert, duckvdb.py:37-41): assign each
        new row to its nearest existing centroid (+ PQ code when a codebook
        exists) and append to the partitioned ``__ivf`` table — queries
        with ``use_index=True`` see inserted rows immediately, no rebuild.
        No-op without an index.  On a versioned table the append is an OCC
        manifest commit (blind-retry slot claim), so two concurrent CAS
        inserts' index syncs serialize instead of racing one plain
        directory; a non-None ``base_version`` asks for a (totals-verified)
        sidecar stamp after the append — the value itself is not trusted,
        :meth:`_stamp_ivf_version` re-derives and verifies the head."""
        ivf_table, ivf = self._load_ivf(require=False)
        if ivf is None:
            return None
        if self._stats_fields:
            # the __ivf layout keeps the reference schema (+ cluster_id /
            # pq_code) — materialized stats columns are a BASE-table storage
            # detail and would drift the index files' schemas
            batch = batch.select(*[f.name for f in ITEMS_SCHEMA.fields])
        ivf_rows = self._encode_pq_if_present(ivf.assign(batch))
        # Replay safety: drop rows already present in __ivf (a prior
        # attempt that crashed before the base append) — same
        # flipped-sides protocol as the base conflict set: the index
        # is scanned id-column-pruned, only the small batch broadcasts.
        ivf_existing = self._cat.read_table(
            self.spark, self.name + "__ivf", self.warehouse
        )
        ivf_conflicts = ivf_existing.select("id").join(
            F.broadcast(batch.select("id")), "id", "left_semi"
        )
        ivf_rows = ivf_rows.join(F.broadcast(ivf_conflicts), "id", "left_anti")
        # Materialize BEFORE the append: the plan reads the same __ivf
        # directory it appends to (self-referential anti-join);
        # localCheckpoint pins the rows so the write can never scan its own
        # output files, and a later cache miss can never re-execute the
        # plan against the mutated directory.
        ivf_rows = ivf_rows.localCheckpoint(eager=True)
        self._cat.append(
            ivf_rows,
            self.name + "__ivf",
            self.warehouse,
            partition_by=["cluster_id"],
            **self._index_write_kwargs,
        )
        if base_version is not None:
            self._stamp_ivf_version()
        # hand the checkpoint-pinned, cluster-assigned frame to the graph
        # sync so the assignment is computed exactly once per insert
        return ivf_rows
