"""Materialized text (inverted) index for
:class:`~modal_vector_db_spark.engine.VectorDB` (mixin): bucket-
partitioned postings, the BM25 calibration stats, the snapshot ledger
that keeps versioned reads consistent, insert-time sync and
takedown-size shrinks.  Split out of ``engine.py`` for review cost only
— every method runs as ``VectorDB``; no behavior lives in the split.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modal_vector_db_spark.sources import catalog


class TextIndexMixin:
    """Inverted-index machinery (see module docstring)."""

    # -- materialized text (inverted) index --------------------------------
    def _text_meta_path(self) -> str:
        return catalog.db_path(self.name + "__text", self.warehouse) + "__meta.json"

    def _read_text_meta(self) -> dict | None:
        try:
            with open(self._text_meta_path()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return None

    def _write_text_meta(self, meta: dict) -> None:
        self._atomic_json_write(self._text_meta_path(), meta)

    def _drop_text_index(self) -> None:
        self._cat.drop_table(self.name + "__text", self.warehouse)
        try:
            os.remove(self._text_meta_path())
        except FileNotFoundError:
            pass

    def _text_meta_lock(self, timeout_s: float = 5.0):
        """Serializes text-sidecar read-modify-writes (see
        :meth:`_sidecar_lock`; recovery: create_text_index() rebuilds)."""
        return self._sidecar_lock(self._text_meta_path(), "text-index", timeout_s)

    # -- text-index snapshot ledger (versioned tables) ---------------------
    #
    # history[str(base_v)] = [postings_version, n, dl_sum]: postings@pv
    # holds EXACTLY base@base_v's textful docs and (n, dl_sum) is the BM25
    # calibration at that version.  Entries are WRITER-recorded only —
    # postings rows are per-(doc, term), so no after-the-fact totals
    # comparison can verify a pairing; instead each
    # writer records the version it just synchronized, and contiguity
    # tracking (`synced_through` + `pending`) proves completeness:
    #
    #   * a sync marks its base version ONLY after its postings append
    #     committed, so when the contiguous prefix reaches the base head,
    #     every commit's postings are in the __text head — counts equal,
    #     synced ⊆ committed, hence sets equal (insert-only segments);
    #   * mutations wrap their shrink/re-add in a text_mutation_pending
    #     window: marks queue but nothing records while it is open, and
    #     the mutation's finalizer records only if the head it observes is
    #     the version it committed — any ambiguity poisons tracking
    #     (`synced_through = None`) instead of guessing;
    #   * create_text_index() resets the ledger (clean generation) — the
    #     recovery point for every poisoned/leaked state.
    def _text_ledger_mark_unchanged(self, version: int) -> None:
        """Mark a commit whose ids + text are UNCHANGED (compact /
        optimize_zorder / stats-field migration / reembed rewrites) into
        the text-index snapshot ledger: the head postings are exactly
        valid for it, and NOT marking it would stall ``synced_through``
        below head forever (the contiguity loop can never absorb the
        hole), disabling every future verified pair until a full index
        rebuild."""
        if not self.versioned or self._read_text_meta() is None:
            return
        with self._text_meta_lock():
            cur = self._read_text_meta()
            if cur is not None:
                self._text_ledger_mark(cur, int(version))
                self._write_text_meta(cur)

    def _text_ledger_mark(self, meta: dict, v: int, pv: int | None = None) -> None:
        """Absorb a completed sync for base version ``v`` into the
        contiguity tracking and, when the verified prefix reaches the live
        head outside any mutation window, record the head pair.  Mutates
        ``meta`` in place; caller holds ``_text_meta_lock`` and has already
        folded this sync's stats into ``meta``.

        ``pv`` is the postings version THIS sync's own ``__text`` commit
        landed as (``None`` when the sync wrote nothing — an all-textless
        batch, a full replay, or a reembed).  The recorded pair's postings
        version is ``max_pv`` — the max over the absorbed contiguous
        prefix's own commit versions — NEVER an after-the-fact
        ``current_version(__text)`` read: a concurrent CAS writer lands
        its postings append BEFORE it takes this lock, so a post-hoc head
        read could fold a later base version's postings into this entry
        (the round-6 TOCTOU).  Soundness of ``max_pv``: every postings
        append happens AFTER its base commit, so if any sync for a base
        version past ``v`` had postings ≤ ``max_pv``, the base head read
        below (under the lock, after absorbing) would exceed the prefix
        and recording is skipped — fail closed, the ledger contract."""
        st = meta.get("synced_through")
        if st is None or not self.versioned:
            return  # poisoned generation: no entries until the next rebuild
        from modal_vector_db_spark.sources import versioned as vcat

        pend = meta.get("pending") or {}
        if isinstance(pend, list):  # pre-round-7 sidecar: per-sync postings
            # versions were never recorded, so no pairing is provable —
            # poison this generation (rebuild = the recovery point)
            meta["synced_through"], meta["pending"] = None, {}
            return
        pend = {str(k): p for k, p in pend.items()}
        # Fold this sync's own postings commit into max_pv AT ARRIVAL, not
        # only when its base version is absorbed from pending: an update
        # whose patched rows are TEXTLESS marks (v, None) through the
        # re-add sync first (advancing the prefix past v), so the
        # finalizer's later (v, pv_shrink) would be skipped as already-
        # synced and the recorded pair would point at PRE-shrink postings
        # that still hold the re-keyed docs.  Sound: recording requires
        # st == head, and every committed base version is ≤ head, so
        # pending is empty at record time — arrival-fold and absorb-fold
        # see the same set of commits.
        if pv is not None:
            mp = meta.get("max_pv")
            meta["max_pv"] = int(pv) if mp is None else max(int(mp), int(pv))
        if v > st:
            k = str(int(v))
            old = pend.get(k)
            # same base version marked twice (update: shrink then re-add)
            # — the LATER postings commit supersedes
            pend[k] = max(int(pv), int(old)) if (pv is not None and old is not None) else (
                int(pv) if pv is not None else old
            )
        while str(st + 1) in pend:
            st += 1
            p = pend.pop(str(st))
            if p is not None:
                mp = meta.get("max_pv")
                meta["max_pv"] = int(p) if mp is None else max(int(mp), int(p))
        meta["synced_through"], meta["pending"] = st, pend
        if meta.get("text_mutation_pending"):
            return  # a mutation window is open: its finalizer records
        head = vcat.current_version(self.name, self.warehouse) or 0
        if head and st == head and meta.get("max_pv") is not None:
            meta.setdefault("history", {})[str(head)] = [
                int(meta["max_pv"]), int(meta["n"]), int(meta["dl_sum"]),
            ]

    def _begin_text_mutation(self) -> None:
        """Open a text-index mutation window (versioned tables) BEFORE the
        postings shrink: while it is open, sync marks queue without
        recording and indexed reads redirect to the last verified pair —
        a half-applied shrink/re-add must never become a ledger entry.

        The window is a COUNTER, not a flag: two overlapping mutations
        (one will lose the base OCC race, but its shrink may already have
        committed) must keep the window open until BOTH finalizers ran —
        a boolean would let the first finalizer close the second
        mutation's window and record a pair containing its half-applied
        shrink.  A crash-leaked count behaves like the leaked flag always
        did: reads redirect, rebuild resets."""
        if not self.versioned:
            return
        with self._text_meta_lock():
            meta = self._read_text_meta()
            if meta is None:
                return
            meta["text_mutation_pending"] = int(meta.get("text_mutation_pending") or 0) + 1
            self._write_text_meta(meta)

    def _end_text_mutation(
        self, expected_version: int, n_dec: int, dl_dec: int,
        pv: int | None = None,
    ) -> None:
        """Close the window after the mutation's base commit: fold the
        exact calibration decrement, clear the flag, and mark the
        mutation's own version as synchronized (its shrink — plus re-add,
        for update — made postings complete for it, PROVIDED the verified
        prefix already covered the pre-mutation head).  ``pv`` is the
        mutation's own postings-shrink commit version (``None`` when the
        shrink touched nothing; update's re-add commit was already queued
        by the insert sync's own mark, and the pending map keeps the max).
        If the observed head is not the version this mutation committed
        (a writer raced past, so "whose postings are these" is no longer
        provable), tracking is POISONED rather than guessed — reads fall
        back to the scan path / older verified pairs until a rebuild."""
        if not self.versioned:
            self._decrement_text_stats(n_dec, dl_dec)
            return
        from modal_vector_db_spark.sources import versioned as vcat

        with self._text_meta_lock():
            meta = self._read_text_meta()
            if meta is None:
                return
            if n_dec:
                meta["n"] = int(meta["n"]) - int(n_dec)
                meta["dl_sum"] = int(meta["dl_sum"]) - int(dl_dec)
            left = int(meta.get("text_mutation_pending") or 0) - 1
            if left > 0:
                meta["text_mutation_pending"] = left
            else:
                meta.pop("text_mutation_pending", None)
            head = vcat.current_version(self.name, self.warehouse) or 0
            if head != int(expected_version):
                meta["synced_through"] = None  # ambiguous: fail closed
                meta["pending"] = {}
            else:
                # absorbs this mutation's own postings commit; records only
                # if the window is now fully closed (mark checks the count)
                self._text_ledger_mark(meta, int(expected_version), pv)
            self._write_text_meta(meta)

    def _read_text_buckets(self, bucket_ids, version: int | None = None) -> DataFrame:
        """Bucket-pruned postings read — the text-index analog of
        :meth:`_read_ivf_probes`.  Plain backend: full-table frame (the
        caller's ``bucket isin`` filter becomes Spark partition pruning on
        the ``bucket=N/`` dirs).  Versioned: the query terms' bucket FILE
        LISTS are resolved from the manifest (``version`` = a postings
        manifest version from the ledger, or None for head) — unqueried
        buckets are never even listed."""
        name = self.name + "__text"
        if not self.versioned:
            return catalog.read_table(self.spark, name, self.warehouse)
        from modal_vector_db_spark.sources import versioned as vcat

        rels = sorted(
            {
                f
                for b in bucket_ids
                for f in vcat.resolve_files(
                    name, self.warehouse, version=version,
                    between=("bucket", int(b), int(b)),
                )
            }
        )
        if not rels:
            return vcat.read_table(
                self.spark, name, self.warehouse, version=version
            ).limit(0)
        return vcat._read_files(self.spark, name, self.warehouse, rels)

    def _resolve_text_index_read(self, version, text_field):
        """(postings_version | None, n, dl_sum, buckets) for a
        use_text_index read: the verified ledger pair for an explicit
        ``version``; the last verified pair while a mutation window is
        open; the live sidecar stats (postings head) otherwise.  Raises
        loudly whenever no verified pair exists for what was asked."""
        meta = self._read_text_meta()
        if meta is None or not self._cat.table_exists(
            self.name + "__text", self.warehouse
        ):
            raise ValueError(
                f"no text index for table {self.name!r}: call "
                "create_text_index() first"
            )
        if text_field != meta["text_field"]:
            raise ValueError(
                f"text index covers field {meta['text_field']!r}, not "
                f"{text_field!r} — rebuild with create_text_index("
                f"text_field={text_field!r})"
            )
        if version is not None:
            ent = meta.get("history", {}).get(str(int(version)))
            if ent is None:
                raise ValueError(
                    f"no verified text-index snapshot for version {version} "
                    f"of table {self.name!r}: the ledger records only "
                    "commits whose postings sync verified (and rebuilds "
                    "reset it) — run the scan path (omit use_text_index)"
                )
            return int(ent[0]), float(ent[1]), float(ent[2]), meta["buckets"]
        if self.versioned and meta.get("text_mutation_pending"):
            from modal_vector_db_spark.sources import versioned as vcat

            head = vcat.current_version(self.name, self.warehouse) or 0
            ent = meta.get("history", {}).get(str(head))
            if ent is None:
                raise ValueError(
                    f"table {self.name!r}: a text-index mutation window is "
                    "open (update/delete in flight, or a crash leaked it) "
                    "and no verified pair exists for the current head — "
                    "use the scan path, or rebuild with create_text_index()"
                )
            return int(ent[0]), float(ent[1]), float(ent[2]), meta["buckets"]
        return None, float(meta["n"]), float(meta["dl_sum"]), meta["buckets"]

    def _text_docs(self, src: DataFrame, text_field: str) -> DataFrame:
        """(id, text) exactly as the scan-path lexical channel builds it —
        ONE definition, so postings tokenize what the scan tokenizes."""
        return src.select(
            "id",
            F.lower(F.get_json_object("metadata", f"$.{text_field}")).alias("text"),
        ).filter(F.col("text").isNotNull())

    def create_text_index(self, text_field: str = "text", buckets: int = 16) -> int:
        """Materialize the lexical channel's inverted index: (bucket, term,
        id, tf, dl) postings partitioned by ``bucket = crc32(term) %
        buckets`` (``operators/hybrid.py:build_text_postings``), plus a
        sidecar with the exact corpus stats (doc count, token-length sum)
        BM25 calibration needs.  ``query_hybrid(use_text_index=True)`` then
        reads ONLY the query terms' bucket partitions instead of scanning
        and exploding the corpus per query — the IVF move, applied to the
        lexical channel.  Inserts keep it in sync (postings append + exact
        stats update); takedown/relabel-sized delete/update maintain it in
        place (:meth:`_shrink_text_postings` — update re-adds its patched
        rows through the insert sync) and :meth:`reembed` keeps it (ids
        and text unchanged); mass mutations, rollback, and overwrite drop
        it for rebuild.  Returns the number of postings rows.

        Versioned tables additionally keep the postings on the manifest
        log and a LEDGER of verified (base version → postings version,
        n, dl_sum) snapshots in the sidecar — ``query_hybrid(version=N,
        use_text_index=True)`` serves a recorded pair byte-equal to the
        scan path at N.  Ledger entries are WRITER-RECORDED, never
        reader-inferred (postings rows are per-(doc, term), so no totals
        check could ever verify a pairing after the fact); every race
        that would make an entry unverifiable fails closed to "no entry"
        (see :meth:`_text_ledger_mark`)."""
        from modal_vector_db_spark.operators.hybrid import build_text_postings

        # Pin the docs frame ONCE: postings and the (n, dl_sum) calibration
        # sidecar must describe the same base snapshot.  Versioned tables
        # pin by reading AT the observed head version (immutable manifest —
        # exact by construction); plain tables pin by eager checkpoint (an
        # unpinned lazy frame would re-scan the base for the stats agg
        # AFTER the postings overwrite, so a concurrent mutation could
        # leave the calibration skewed against the postings it describes).
        head = 0
        if self.versioned:
            from modal_vector_db_spark.sources import versioned as vcat

            head = vcat.current_version(self.name, self.warehouse) or 0
            src = (
                vcat.read_table(self.spark, self.name, self.warehouse, version=head)
                if head
                else self.items()
            )
            docs = self._text_docs(src, text_field).localCheckpoint(eager=True)
        else:
            docs = self._text_docs(self.items(), text_field).localCheckpoint(eager=True)
        postings = build_text_postings(
            docs, id_col="id", text_col="text", buckets=buckets
        )
        # versioned: the overwrite returns ITS commit version — the clean
        # generation's max_pv seed (writer-side handle, no post-hoc read)
        pv0 = self._cat.overwrite(
            postings, self.name + "__text", self.warehouse,
            **self._text_write_kwargs,
        )
        # Stats from the SAME pinned docs frame the postings were built
        # from — dl sums integer-valued doubles, so index and scan
        # calibration are bit-identical (see bm25_from_postings).
        row = docs.select(F.split("text", " ").alias("s")).agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.size("s")).alias("dl_sum")
        ).head()
        # The sidecar write takes the same O_EXCL lock the insert sync's
        # read-modify-write takes: an interleaved locked writer must not
        # have its delta overwritten mid-flight.  (A concurrent insert whose
        # docs landed after the pin is still absent from this rebuild's
        # postings — rebuilds are defined as of their pinned snapshot; run
        # them without concurrent ingest or re-run after.)
        meta = {
            "text_field": text_field,
            "buckets": buckets,
            "n": int(row["n"]),
            "dl_sum": int(row["dl_sum"] or 0),
        }
        with self._text_meta_lock():
            if self.versioned:
                # The rebuild RESETS the ledger (a rebuild is the recovery
                # point for every fail-closed state — it starts a clean
                # generation).  The head SANDWICH decides whether this
                # generation opens verified: if the base advanced while we
                # built (a racing insert — whose sync may have interleaved
                # postings against the pre-overwrite table), no entry and
                # tracking is poisoned until the next rebuild; rebuilds are
                # documented single-writer ("re-run after" under ingest).
                clean = (
                    vcat.current_version(self.name, self.warehouse) or 0
                ) == head
                meta["synced_through"] = head if clean else None
                meta["pending"] = {}
                meta["max_pv"] = int(pv0) if clean else None
                meta["history"] = (
                    {str(head): [int(pv0), meta["n"], meta["dl_sum"]]}
                    if (head and clean)
                    else {}
                )
            self._write_text_meta(meta)
        if self.versioned:
            from modal_vector_db_spark.sources import versioned as vcat

            return vcat.manifest_row_count(self.name + "__text", self.warehouse) or 0
        return catalog.footer_row_count(self.name + "__text", self.warehouse)

    def _sync_text_index_for_append(
        self, batch: DataFrame, base_version: int | None = None
    ) -> None:
        """Keep the text index in sync on insert: postings for the new docs
        append into their bucket partitions, and the sidecar stats advance
        by EXACTLY the appended docs' counts (replay-safe: a doc whose
        postings already landed is skipped by the anti-join AND contributes
        no stats delta, so a crashed-then-replayed insert converges on
        POSTINGS; a crash in the window between the postings append and the
        sidecar write leaves the calibration stats permanently undercounting
        that one batch — a marginal idf skew, repaired by the next
        ``create_text_index()`` rebuild, never a wrong result set).  The
        sidecar update is serialized by an O_EXCL lock file — two CAS
        writers' read-modify-writes must not lose an update.  No-op without
        a text index.

        ``base_version``: the base commit this batch landed as (versioned
        CAS path) — marked in the snapshot ledger AFTER the postings
        append, under the lock (:meth:`_text_ledger_mark`)."""
        meta = self._read_text_meta()
        if meta is None or not self._cat.table_exists(
            self.name + "__text", self.warehouse
        ):
            return
        try:
            self._sync_text_index_for_append_inner(meta, batch, base_version)
        except Exception:
            # The caller's BASE commit already landed (the sync runs after
            # it) — a sync failure must not make a committed insert look
            # failed when the cause is a concurrently-DROPPED index (a
            # racing mutation's rebuild-loudly recovery rmtree'd __text
            # mid-read).  "No index" is a legal state; any other failure
            # is a real sync bug and re-raises.
            if self._read_text_meta() is None or not self._cat.table_exists(
                self.name + "__text", self.warehouse
            ):
                return
            raise

    def _sync_text_index_for_append_inner(
        self, meta: dict, batch: DataFrame, base_version: int | None
    ) -> None:
        from modal_vector_db_spark.operators.hybrid import build_text_postings

        docs = self._text_docs(batch, meta["text_field"])
        existing_ids = self._cat.read_table(
            self.spark, self.name + "__text", self.warehouse
        ).select("id")
        conflicts = existing_ids.join(
            F.broadcast(docs.select("id")), "id", "left_semi"
        ).distinct()
        docs = docs.join(F.broadcast(conflicts), "id", "left_anti")
        # Stats FIRST: a fully-replayed (idempotent) insert — the common
        # replay-contract path — must return before scheduling the postings
        # materialization job for what would be an empty frame.
        stats = docs.select(F.split("text", " ").alias("s")).agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.size("s")).alias("dl_sum")
        ).head()
        if int(stats["n"]) == 0:
            # full replay: nothing new to append or count — but the ledger
            # still learns this base version's postings are complete (e.g.
            # a batch of all-textless docs, or a replayed crash recovery)
            if base_version is not None and self.versioned:
                with self._text_meta_lock():
                    cur = self._read_text_meta()
                    if cur is not None:
                        self._text_ledger_mark(cur, int(base_version), None)
                        self._write_text_meta(cur)
            return
        postings = build_text_postings(
            docs, id_col="id", text_col="text", buckets=meta["buckets"]
        ).localCheckpoint(eager=True)  # never scan our own append output
        # The append returns OUR commit's version — threaded into the
        # ledger mark below so the recorded pair is this writer's own
        # postings commit, never a post-hoc current_version read that a
        # concurrent writer's pre-lock append could poison (round-6
        # verdict #1).
        pv = self._cat.append(
            postings, self.name + "__text", self.warehouse,
            **self._text_write_kwargs,
        )
        with self._text_meta_lock():
            cur = self._read_text_meta() or meta
            cur["n"] = int(cur["n"]) + int(stats["n"])
            cur["dl_sum"] = int(cur["dl_sum"]) + int(stats["dl_sum"] or 0)
            if base_version is not None and self.versioned:
                self._text_ledger_mark(cur, int(base_version), pv)
            self._write_text_meta(cur)

    # A delete matching more docs than this falls back to drop-and-rebuild:
    # the postings shrink predicate is a driver-side id set (postings carry
    # no metadata to compile the filter against), and a mass delete both
    # blows that set up and amortizes a rebuild anyway.  Takedown-sized
    # deletes — the common case — never force one.
    _TEXT_DELETE_SYNC_MAX = 100_000
    # Above this, the shrink switches from an `isin` literal list to a
    # broadcast anti-join: an isin over N ids is an N-node expression tree
    # (built on the driver, serialized to every task), while a broadcast
    # hash join of N ids is one small relation — at the 100k sync cap the
    # literal form is the wrong plan shape (round-6 verdict #2).
    _TEXT_ISIN_MAX = 1_000

    def _shrink_text_postings(self, matched: DataFrame):
        """Incremental text-index maintenance for the mutation paths — at
        scale a one-row takedown/relabel must not force a full-corpus
        postings rebuild.  ``matched`` is the mutation's matched-row frame
        (the same stats-pruned, predicate-filtered source the base rewrite
        uses); their postings are removed via the SAME file-pruned
        copy-on-write rewrite the base uses (only bucket files holding
        doomed ids are rewritten), and the exact ``(n, dl_sum)``
        calibration decrement is returned for the caller to apply AFTER
        the base commit.  :meth:`update` then re-adds its patched rows
        through the replay-safe insert sync — a relabel is a delete+insert
        to the index too.  Returns ``None`` when the index should be
        dropped instead (mass mutation past ``_TEXT_DELETE_SYNC_MAX``).

        Crash windows (same class as the insert sync's, documented there):
        after the shrink but before the base rewrite, doomed docs are
        under-ranked by the lexical channel — a retried mutation converges
        (the id-set rewrite is idempotent; stats decrement only after the
        base commit); a crash between the base commit and the sidecar
        write leaves the calibration stats overcounting one batch — a
        marginal idf skew, never a phantom result (the fused join against
        the post-mutation base hides any straggler)."""
        meta = self._read_text_meta()
        if meta is None or not self._cat.table_exists(
            self.name + "__text", self.warehouse
        ):
            return (0, 0, None)
        doomed = self._text_docs(matched, meta["text_field"])
        # ONE bounded job: collect at most cap+1 (id, dl) rows — past the
        # cap the driver never holds the full set (mass mutation → None →
        # drop-and-rebuild), under it the stats delta sums driver-side
        # from the same size(split) expression the sidecar was built with.
        cap = self._TEXT_DELETE_SYNC_MAX
        rows = (
            doomed.select("id", F.size(F.split("text", " ")).alias("dl"))
            .limit(cap + 1)
            .collect()
        )
        if not rows:
            return (0, 0, None)
        if len(rows) > cap:
            return None
        ids = [r["id"] for r in rows]
        kw = dict(self._text_mut_kwargs)
        out: dict = {}
        if self.versioned:
            kw["out"] = out  # capture the shrink's own __text commit version
        if len(ids) <= self._TEXT_ISIN_MAX:
            self._cat.rewrite_where(
                self.spark,
                self.name + "__text",
                ~F.col("id").isin(ids),
                self.warehouse,
                **kw,
            )
        else:
            # large id set: broadcast anti-join, not an N-literal InSet
            self._cat.rewrite_where(
                self.spark,
                self.name + "__text",
                None,
                self.warehouse,
                drop_ids=ids,
                **kw,
            )
        return (len(rows), int(sum(r["dl"] for r in rows)), out.get("version"))

    def _decrement_text_stats(self, n: int, dl_sum: int) -> None:
        """Apply a delete's exact calibration decrement under the same
        O_EXCL sidecar lock the insert sync uses (:meth:`_text_meta_lock`)."""
        if n == 0:
            return
        with self._text_meta_lock():
            cur = self._read_text_meta()
            if cur is None:
                return
            cur["n"] = int(cur["n"]) - n
            cur["dl_sum"] = int(cur["dl_sum"]) - dl_sum
            self._write_text_meta(cur)
