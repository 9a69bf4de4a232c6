"""``VectorDB`` — the public facade, API-parity with ``ModalVectorDB``.

Reference surface (``vdb.py:19-68``):

    ModalVectorDB(name, embedder_name, embedding_dim, embedder_kwargs=None,
                  create_new_table=False)
    .insert(metadatas, embeddings=None, embed_field=None)
    .query(query, k=10, filters=None) -> list[Result]
    .num_rows() -> int

plus engine-level ``load_from_parquet`` / ``create_index``
(``duckvdb.py:37-45``).

Write path (S4+S5): the reference's ``INSERT … ON CONFLICT (id) DO NOTHING``
(``duckvdb.py:57-61``) is a left-anti join in disguise — we implement it as
exactly that: batch-internal ``dropDuplicates(id)`` then ``left_anti`` against
existing ids, then an atomic Parquet append.  At 100 TB the conflict set is
computed as ``existing LEFT SEMI (broadcast batch)`` over the id column only
— the base table is scanned once, column-pruned, never shuffled — and that
(≤ |batch|) set is the broadcast build side of the final anti-join.  See
``_idempotent_append``.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass
from typing import Any, Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modal_vector_db_spark.embedders import embed_udf, get_embedder
from modal_vector_db_spark.engine_bloom import BloomFilterMixin
from modal_vector_db_spark.engine_graph import GraphIndexMixin
from modal_vector_db_spark.engine_ivf import IvfIndexMixin
from modal_vector_db_spark.engine_text import TextIndexMixin
from modal_vector_db_spark.operators.filters import compile_filters
from modal_vector_db_spark.operators.knn import knn
from modal_vector_db_spark.schema import ITEMS_SCHEMA, json_to_uuid, stringify_metadata
from modal_vector_db_spark.sources import catalog
from modal_vector_db_spark.sources import versioned as vcat


@dataclass
class Result:
    """Query result row — parity with reference ``duckvdb.py:9-13``."""

    id: str
    metadata: dict
    distance: float


def _results(rows) -> list[Result]:
    """Collected ``(id, metadata, distance)`` rows as :class:`Result` objects."""
    return [
        Result(id=r["id"], metadata=json.loads(r["metadata"]), distance=r["distance"])
        for r in rows
    ]


class VectorDB(IvfIndexMixin, TextIndexMixin, BloomFilterMixin, GraphIndexMixin):
    """Spark-native vector DB with the reference's public API.

    The index machinery lives in four cohesive mixins (``engine_ivf`` /
    ``engine_text`` / ``engine_bloom`` / ``engine_graph``) — a review-cost
    split only: every method runs as ``VectorDB`` and the public API is
    unchanged."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        embedder_name: str = "HashingEmbedder",
        embedding_dim: int = 64,
        embedder_kwargs: Optional[dict] = None,
        create_new_table: bool = False,
        warehouse: str | None = None,
        versioned: bool = False,
        stats_fields: Optional[dict | Sequence[str]] = None,
        id_fields: Optional[Sequence[str]] = None,
    ) -> None:
        if id_fields is not None and (
            not id_fields or not all(isinstance(f, str) and f for f in id_fields)
        ):
            raise ValueError(
                f"id_fields must be a non-empty sequence of field names, got {id_fields!r}"
            )
        if stats_fields and not versioned:
            raise ValueError(
                "stats_fields needs VectorDB(versioned=True): per-file "
                "min/max live in the manifest log, which the plain catalog "
                "does not keep"
            )
        self.spark = spark
        self.name = name
        self.warehouse = warehouse
        self.embedding_dim = embedding_dim
        self.embedder_name = embedder_name
        self.embedder_kwargs = embedder_kwargs or {}
        self.versioned = versioned
        # Table-level content-identity declaration: when set, ids hash only
        # this metadata SUBSET (uuid5 of its canonical JSON) on EVERY path
        # that keys content — insert, insert_df, update's re-key, crawl
        # ingest — so volatile provenance fields (capture dates, fetch
        # metadata) stay stored but outside identity.  None = the
        # reference's whole-document identity.  Persisted in the sidecar:
        # mixed identities in one table would break idempotency silently.
        self.id_fields: tuple[str, ...] | None = tuple(id_fields) if id_fields else None
        # Base-table storage backend: the plain directory catalog, or the
        # manifest-log layout (``sources/versioned.py`` — atomic commits,
        # time travel, rollback, vacuum).  The derived graph/bloom tables
        # follow the base's backend (see _index_write_kwargs below); the
        # tiny centroid/PQ-codebook tables stay plain — rebuildable
        # single-writer artifacts, not primary data.
        from modal_vector_db_spark.sources import versioned as versioned_catalog

        self._cat = versioned_catalog if versioned else catalog
        # Declared stats fields (the Delta generated/stats-columns pattern):
        # each metadata field listed here is materialized at write time as a
        # top-level ``_s_<field>`` column whose per-file min/max land in the
        # manifest — delete()/update()/query() with an eq/range filter on
        # that field then prune FILES from the manifest alone
        # (:meth:`_derive_prune_bounds`).  Declared dtype must match the
        # filter compiler's probe cast ("double" for numeric probes,
        # "string" for string probes — ``operators/filters.py:_typed``), or
        # the bound is silently not derived (pruning is an optimization;
        # correctness never depends on it).  A plain sequence declares every
        # field "string".
        self._stats_fields = self._normalize_stats_fields(stats_fields)
        # Versioned writes record per-file row counts in the manifest,
        # which turns num_rows() into an O(metadata) read of the commit
        # log; declared stats fields add their materialized columns'
        # min/max, and an indexed table's in-file cluster_id adds its
        # range (what probe reads prune files on — a column a file lacks
        # records nothing).
        self._write_kwargs = self._versioned_write_kwargs() if versioned else {}
        # Derived graph/bloom tables on a versioned table live on the
        # manifest log too: their appends become OCC commits and their row
        # counts come from their own manifests.
        self._index_write_kwargs = {"stats_cols": []} if versioned else {}
        self._index_mut_kwargs = (
            {"stats_cols": [], "partition_by": ["cluster_id"]} if versioned else {}
        )
        # __text follows the same backend rule: manifest-logged on
        # versioned tables (immutable postings snapshots are what make the
        # time-travel ledger possible), plain parquet dirs otherwise.
        self._text_write_kwargs = (
            {"stats_cols": [], "partition_by": ["bucket"]}
            if versioned
            else {"partition_by": ["bucket"]}
        )
        self._text_mut_kwargs = (
            {"stats_cols": [], "partition_by": ["bucket"]} if versioned else {}
        )
        # (marker_stat_key, IVFIndex2L) — per-handle two-level index cache
        # so repeated queries reuse the fine-centroid shard cache
        self._ivf2l_cache = None
        # Driver-side embedder for single-query embeds (U6, vdb.py:63) —
        # same registry the executors use (U2, vdb.py:22-27).
        self._embedder = get_embedder(embedder_name, dim=embedding_dim, **self.embedder_kwargs)
        if create_new_table:
            self._cat.drop_table(name, warehouse)  # duckvdb.py:26-28
            self._drop_meta()
            # a fresh table must not inherit derived index tables built
            # from the dropped incarnation's data
            self._drop_index_tables()
            self._drop_bloom_filter()
        else:
            # Config sidecar guard: a handle whose dim disagrees with the
            # table's recorded config would compute cosine over
            # different-length arrays — zip_with pads with NULL, so every
            # distance silently becomes NULL and ranking is garbage.  The
            # reference never hits this only because its FLOAT[dim] column
            # type errors at insert; we validate at the handle boundary.
            self._check_meta()

    # -- table-config sidecar ---------------------------------------------
    def _meta_path(self) -> str:
        return catalog.db_path(self.name, self.warehouse) + "__vdbmeta.json"

    def _write_meta(self) -> None:
        """Record the table's embedder configuration beside the table dir
        (underscore-free sibling file: survives directory swaps, ignored by
        every reader).  Written on every successful write op — idempotent,
        one tiny local file."""
        os.makedirs(os.path.dirname(self._meta_path()), exist_ok=True)
        with open(self._meta_path(), "w") as f:
            json.dump(
                {
                    "embedder_name": self.embedder_name,
                    "embedding_dim": self.embedding_dim,
                    "embedder_kwargs": json.loads(
                        json.dumps(self.embedder_kwargs, default=str, sort_keys=True)
                    ),
                    "stats_fields": self._stats_fields,
                    "id_fields": list(self.id_fields) if self.id_fields else None,
                },
                f,
            )

    def _drop_meta(self) -> None:
        try:
            os.remove(self._meta_path())
        except FileNotFoundError:
            pass

    def _check_meta(self) -> None:
        try:
            with open(self._meta_path()) as f:
                meta = json.load(f)
        except (FileNotFoundError, ValueError):
            return  # pre-sidecar table / foreign writer: nothing to check
        if not self._cat.table_exists(self.name, self.warehouse):
            # orphan sidecar (failed first insert, out-of-band drop): there
            # is no data to protect — inert, overwritten by the next write
            return
        # kwargs are part of embedder identity (e.g. model_name): same
        # class + same dim + different model is still the wrong space
        mine = json.loads(json.dumps(self.embedder_kwargs, default=str, sort_keys=True))
        if (
            meta.get("embedding_dim") != self.embedding_dim
            or meta.get("embedder_name") != self.embedder_name
            or meta.get("embedder_kwargs", {}) != mine
        ):
            raise ValueError(
                f"table {self.name!r} was created with "
                f"{meta.get('embedder_name')}(dim={meta.get('embedding_dim')}, "
                f"kwargs={meta.get('embedder_kwargs')}); this handle says "
                f"{self.embedder_name}(dim={self.embedding_dim}, kwargs={mine}) "
                "— construct with the table's config, or migrate it with "
                "reembed(), or start over with create_new_table=True"
            )
        # Stats-field declarations are part of the STORED SCHEMA (every file
        # carries the materialized _s_ columns): a handle writing with a
        # different declaration would drift the files' schemas and poison
        # manifest pruning with rows whose stats columns disagree with their
        # metadata.
        if meta.get("stats_fields", {}) != self._stats_fields:
            raise ValueError(
                f"table {self.name!r} declares stats_fields="
                f"{meta.get('stats_fields', {})}; this handle says "
                f"{self._stats_fields} — construct with the table's "
                "declaration, or migrate it with declare_stats_fields(), or "
                "start over with create_new_table=True"
            )
        # identity declarations must match: two handles keying content on
        # different subsets would silently break the anti-join idempotency
        mine_idf = list(self.id_fields) if self.id_fields else None
        if meta.get("id_fields") != mine_idf:
            raise ValueError(
                f"table {self.name!r} declares id_fields="
                f"{meta.get('id_fields')}; this handle says {mine_idf} — "
                "construct with the table's declaration or start over with "
                "create_new_table=True"
            )

    # -- declared stats fields (manifest data skipping) --------------------
    @staticmethod
    def _normalize_stats_fields(stats_fields) -> dict:
        """``{"ts": "double", "doc_id": "string"}`` (or a plain sequence —
        every field "string").  Dtypes are restricted to the two the filter
        compiler's probe casts produce (``operators/filters.py:_typed``):
        "double" (numeric probes) and "string" (string probes).  Anything
        else would record min/max in an order the compiled predicate does
        not compare in — unsound to prune on."""
        if not stats_fields:
            return {}
        if not isinstance(stats_fields, dict):
            stats_fields = {f: "string" for f in stats_fields}
        out: dict = {}
        for field, dtype in stats_fields.items():
            if not field or not isinstance(field, str):
                raise ValueError(f"stats field name must be a non-empty str, got {field!r}")
            if dtype not in ("string", "double"):
                raise ValueError(
                    f"stats field {field!r}: dtype must be 'string' or "
                    f"'double' (the filter compiler's probe casts), got {dtype!r}"
                )
            out[field] = dtype
        cols = [VectorDB._stats_colname(f) for f in out]
        if len(set(cols)) != len(cols):
            raise ValueError(
                f"stats fields {sorted(out)} collide after column-name "
                "sanitization ('.' becomes '_') — rename one"
            )
        return out

    def _versioned_write_kwargs(self) -> dict:
        """Base-table write kwargs of a versioned table (see ``__init__``)."""
        cols = [self._stats_colname(f) for f in self._stats_fields]
        return {"stats_cols": [*cols, "cluster_id"]}

    @staticmethod
    def _stats_colname(field: str) -> str:
        """Materialized column name for a declared stats field (dots are not
        valid in parquet column names)."""
        return "_s_" + field.replace(".", "_")

    def _with_stats_cols(self, df: DataFrame) -> DataFrame:
        """Materialize every declared stats field as a top-level column with
        EXACTLY the filter compiler's extraction+cast expression
        (``json_path(...)`` / ``.cast("double")``), so per-file footer
        min/max are computed over the same values the compiled predicate
        compares — the soundness invariant manifest pruning rests on.
        Idempotent (pre-existing stats columns are recomputed)."""
        if not self._stats_fields:
            return df
        from modal_vector_db_spark.operators.filters import json_path

        present = [c for c in df.columns if c.startswith("_s_")]
        if present:
            df = df.drop(*present)
        for field, dtype in self._stats_fields.items():
            col = json_path("metadata", field)
            if dtype == "double":
                col = col.cast("double")
            df = df.withColumn(self._stats_colname(field), col)
        return df

    #: filter ops that imply a one-sided/point bound on the probed field
    _BOUND_KIND = {">": "lo", ">=": "lo", "<": "hi", "<=": "hi", "=": "eq", "==": "eq"}

    def _derive_prune_bounds(self, filters: Optional[dict]) -> list[tuple]:
        """Filter dict → manifest ``between`` bounds over the DECLARED stats
        columns — the bridge that makes file skipping reachable from the
        public filter DSL.

        Only terms whose pruning is provably implied by the compiled
        predicate derive a bound: top-level (AND-conjoined) eq/range terms,
        recursing through ``$and``; ``$or``/``$not`` terms derive nothing
        (their matches are not confined to any one term's range — sibling
        AND terms still prune).  A probe whose Python type does not match
        the field's declared dtype derives nothing either: the recorded
        min/max would order differently from the predicate's cast
        (``sources/versioned.py:_range_excludes`` documents why cross-type
        pruning is unsound).  Strict ``>``/``<`` reuse the closed-interval
        overlap test — conservative, never wrong."""
        if not self._stats_fields or not filters:
            return []
        bounds: list[tuple] = []
        for key, value in filters.items():
            if key == "$and" and isinstance(value, list):
                for sub in value:
                    if isinstance(sub, dict):
                        bounds.extend(self._derive_prune_bounds(sub))
                continue
            if key.startswith("$"):
                continue
            dtype = self._stats_fields.get(key)
            if dtype is None:
                continue

            def _typed_ok(p):
                if isinstance(p, bool):
                    return None
                if dtype == "double" and isinstance(p, (int, float)):
                    return float(p)
                if dtype == "string" and isinstance(p, str):
                    return p
                return None

            # round-12 ops derive real bounds: between → its own interval,
            # in → [min, max] of the list (sound: every match lies inside)
            if (
                isinstance(value, tuple)
                and len(value) == 2
                and value[0] == "between"
                and isinstance(value[1], (tuple, list))
                and len(value[1]) == 2
            ):
                lo, hi = _typed_ok(value[1][0]), _typed_ok(value[1][1])
                if lo is not None and hi is not None:
                    bounds.append((self._stats_colname(key), lo, hi))
                continue
            if (
                isinstance(value, tuple)
                and len(value) == 2
                and value[0] == "in"
                and isinstance(value[1], (list, tuple))
                and value[1]
            ):
                vals = [_typed_ok(v) for v in value[1]]
                if all(v is not None for v in vals):
                    bounds.append((self._stats_colname(key), min(vals), max(vals)))
                continue
            if isinstance(value, tuple) and len(value) == 2:
                # non-str ops are malformed — leave the loud rejection to
                # compile_filters (which every caller also runs); deriving
                # no bound here is always sound
                kind = self._BOUND_KIND.get(value[0]) if isinstance(value[0], str) else None
                probe = value[1]
            elif not isinstance(value, (tuple, list, dict)) and value is not None:
                kind, probe = "eq", value
            else:
                continue
            if kind is None or isinstance(probe, bool):
                continue
            if dtype == "double" and isinstance(probe, (int, float)):
                probe = float(probe)
            elif not (dtype == "string" and isinstance(probe, str)):
                continue  # probe type ≠ declared order: no sound bound
            col = self._stats_colname(key)
            if kind == "eq":
                bounds.append((col, probe, probe))
            elif kind == "lo":
                bounds.append((col, probe, None))
            else:
                bounds.append((col, None, probe))
        return bounds

    def _filtered_source(
        self, filters: Optional[dict], version: int | None = None
    ) -> DataFrame:
        """:meth:`items`, file-pruned from manifest stats when ``filters``
        keys a declared stats field — the read-side twin of the pruned
        mutation path: a selective query on a 100 TB table lists and scans
        only the admitted files.  Exact row filtering still happens on top
        (the bound is a FILE filter); falls back to the full scan whenever
        no bound is derivable.  ``version``: the same read AS OF that
        commit (time travel; an empty version serves the empty frame).
        Versions that predate a :meth:`declare_stats_fields` migration
        carry no stats for the declared columns — the manifest keeps every
        file, pruning is only ever an optimization."""
        if version is not None:
            bounds = self._derive_prune_bounds(filters) or None
            try:
                df = vcat.scan(
                    self.spark, self.name, self.warehouse,
                    version=version, between=bounds,
                )
            except FileNotFoundError:  # empty at this version
                return catalog.local_frame(self.spark, [], ITEMS_SCHEMA)
            return df.select(*[f.name for f in ITEMS_SCHEMA.fields])
        bounds = self._derive_prune_bounds(filters) if self.versioned else []
        if not bounds or not self._cat.table_exists(self.name, self.warehouse):
            return self.items()
        df = vcat.scan(self.spark, self.name, self.warehouse, between=bounds)
        return df.select(*[f.name for f in ITEMS_SCHEMA.fields])

    def declare_stats_fields(self, stats_fields: dict | Sequence[str]) -> int:
        """Adopt (or change) the stats-field declaration on an EXISTING
        table: one copy-on-write rewrite materializes the ``_s_`` columns
        into every file and records their min/max in the manifest, then the
        sidecar and this handle switch to the new declaration.  Returns the
        row count rewritten.  (New tables declare at construction; this is
        the migration path — the one full-corpus pass that makes every
        later mutation file-pruned.)"""
        self._require_versioned()
        new = self._normalize_stats_fields(stats_fields)
        old_fields, old_kwargs = self._stats_fields, self._write_kwargs
        self._stats_fields = new
        self._write_kwargs = self._versioned_write_kwargs()
        try:
            if not self._cat.table_exists(self.name, self.warehouse):
                self._write_meta()
                return 0
            # read raw and drop the old stats columns: clearing a
            # declaration (new = {}) must still strip them out of the
            # rewrite, while an index's cluster_id/pq_code stay
            raw = self._cat.read_table(self.spark, self.name, self.warehouse)
            df = self._with_stats_cols(
                raw.drop(*[c for c in raw.columns if c.startswith("_s_")])
            )
            pre_head = vcat.current_version(self.name, self.warehouse) or 0
            n = self._cat.replace_table(
                df, self.name, self.warehouse, **self._write_kwargs
            )
            # stats columns are a storage detail: ids + text unchanged,
            # so the text-index ledger must absorb this commit too
            self._text_ledger_mark_unchanged(pre_head + 1)
            self._write_meta()
            return n
        except BaseException:
            self._stats_fields, self._write_kwargs = old_fields, old_kwargs
            raise

    # -- S1: scan ----------------------------------------------------------
    def items(self) -> DataFrame:
        if not self._cat.table_exists(self.name, self.warehouse):
            return catalog.local_frame(self.spark, [], ITEMS_SCHEMA)
        df = self._cat.read_table(self.spark, self.name, self.warehouse)
        if len(df.columns) != len(ITEMS_SCHEMA.fields):
            # public schema stays the reference's (id, metadata, embedding);
            # materialized stats columns and an index's cluster_id/pq_code
            # are a storage detail
            df = df.select(*[f.name for f in ITEMS_SCHEMA.fields])
        return df

    # -- S4 + S5: idempotent insert ---------------------------------------
    def _identity_dict(self, m: dict) -> dict:
        """The metadata (subset) that defines a row's content identity —
        the whole document, or the declared ``id_fields`` projection."""
        if self.id_fields is None:
            return m
        return {k: m.get(k) for k in self.id_fields}

    def insert(
        self,
        metadatas: Sequence[dict],
        embeddings: Optional[Sequence[np.ndarray]] = None,
        embed_field: Optional[str] = None,
    ) -> None:
        """Write a batch; duplicate *content* is silently skipped.

        Mirrors ``vdb.py:48-59`` + ``duckvdb.py:47-61``: deterministic
        uuid5 ids from canonical JSON; embeddings either supplied, or
        computed from ``metadata[embed_field]`` (``vdb.py:56``) else the
        whole stringified JSON (``vdb.py:54``).
        """
        ids = [json_to_uuid(self._identity_dict(m)) for m in metadatas]
        meta_strs = [stringify_metadata(m) for m in metadatas]
        if embeddings is not None:
            # Fixed dim is a table-level convention Spark's ArrayType cannot
            # enforce per row (SURVEY §1.1) — validate at the ingest boundary
            # like the reference's FLOAT[dim] column type would.
            for idx, e in enumerate(embeddings):
                if len(e) != self.embedding_dim:
                    raise ValueError(
                        f"embedding {idx} has dim {len(e)}, table dim is "
                        f"{self.embedding_dim}"
                    )
            rows = [
                (i, m, [float(x) for x in np.asarray(e, dtype=np.float32)])
                for i, m, e in zip(ids, meta_strs, embeddings)
            ]
            batch = catalog.local_frame(self.spark, rows, ITEMS_SCHEMA)
        else:
            texts = [
                str(m.get(embed_field)) if embed_field else s
                for m, s in zip(metadatas, meta_strs)
            ]
            src = catalog.local_frame(
                self.spark, zip(ids, meta_strs, texts),
                "id string, metadata string, _text string",
            )
            udf = embed_udf(self.embedder_name, dim=self.embedding_dim, **self.embedder_kwargs)
            batch = src.withColumn("embedding", udf("_text")).drop("_text")
        self._idempotent_append(batch)

    def insert_df(
        self,
        df: DataFrame,
        embed_field: Optional[str] = None,
        id_fields: Optional[Sequence[str]] = None,
    ) -> None:
        """Distributed bulk ingest — the production twin of :meth:`insert`.

        ``insert`` takes driver-side ``list[dict]`` for reference API parity
        (``vdb.py:48-59``), which caps a batch at driver memory; this path
        takes a DataFrame with a ``metadata`` column of JSON text (and
        optionally an ``embedding array<float>`` column), so a 100 TB ingest
        is executor-parallel end to end — ids, embeddings, and the anti-join
        write all happen distributed, nothing materializes on the driver.

        Content ids are computed executor-side from the PARSED metadata
        (uuid5 of canonical sort-keys JSON — same rule as :meth:`insert`, so
        the same content arriving through either path, with any JSON key
        order, dedups to one row).  ``id_fields`` narrows the hashed
        subset: a crawl ingest keys on (url, title, text) so a re-crawl of
        identical content under a NEW capture date still dedups — volatile
        provenance fields stay in the stored metadata but outside the
        identity.  Without an ``embedding`` column, vectors
        are computed by the registry's Arrow-batched embedder UDF from
        ``metadata[embed_field]`` (or the re-serialized metadata JSON — the
        same whole-document convention as :meth:`insert`).  Rows whose
        ``embedding`` has the wrong dimension fail the task — ingest
        validation, like the reference's FLOAT[dim] column type."""
        if "metadata" not in df.columns:
            raise ValueError("insert_df needs a 'metadata' column of JSON text")
        if id_fields is None:
            id_fields = self.id_fields  # the table-level declaration
        elif self.id_fields is not None and tuple(id_fields) != self.id_fields:
            raise ValueError(
                f"insert_df id_fields={tuple(id_fields)} conflicts with the "
                f"table's declared identity {self.id_fields} — mixed "
                "identities in one table break idempotency"
            )
        elif self.id_fields is None:
            # A per-call subset key on an UNDECLARED table would let two
            # identity schemes coexist (plain insert keys on the whole
            # document; this call keys on the subset) and update() would
            # re-key with whole-document identity — silent duplicate rows
            # on the next re-ingest.  So the first subset-keyed ingest
            # PROMOTES the subset to the table-level declaration — but only
            # while the table is still empty; once whole-doc-keyed rows
            # exist the narrowing is refused.
            if self._cat.table_exists(self.name, self.warehouse) and self.items().head(1):
                raise ValueError(
                    f"insert_df id_fields={tuple(id_fields)} on table "
                    f"{self.name!r}, which has no id_fields declaration and "
                    "already contains whole-document-keyed rows — mixed "
                    "identities break idempotency.  Declare "
                    f"VectorDB(id_fields={tuple(id_fields)}) at table "
                    "creation (create_new_table=True) instead"
                )
            self.id_fields = tuple(id_fields)
            id_fields = self.id_fields
            # persist NOW (not just via the write path's _write_meta): the
            # append re-runs _check_meta, which must see the promoted
            # declaration, not a stale id_fields=null sidecar
            self._write_meta()
        has_emb = "embedding" in df.columns
        dim = self.embedding_dim
        out_schema = "id string, metadata string" + (
            ", embedding array<float>" if has_emb else ", _text string"
        )
        src = df.select(
            *(["metadata", "embedding"] if has_emb else ["metadata"])
        )

        def _prep(batches):
            # stdlib-only closure (see _apply_patch): executors need no
            # package import to re-key content.
            import json as _json
            import uuid as _uuid

            for pdf in batches:
                metas = [
                    _json.loads(s) if s is not None else {} for s in pdf["metadata"]
                ]
                out = pdf.copy()
                keyed = (
                    metas
                    if id_fields is None
                    else [{k: m.get(k) for k in id_fields} for m in metas]
                )
                out["id"] = [
                    str(_uuid.uuid5(_uuid.NAMESPACE_DNS, _json.dumps(m, sort_keys=True)))
                    for m in keyed
                ]
                if has_emb:
                    bad = [
                        i
                        for i, e in enumerate(out["embedding"])
                        if e is None or len(e) != dim
                    ]
                    if bad:
                        e0 = out["embedding"][bad[0]]
                        raise ValueError(
                            f"embedding at batch offset {bad[0]} has dim "
                            f"{'NULL' if e0 is None else len(e0)}, table dim is {dim}"
                        )
                else:
                    out["_text"] = [
                        str(m.get(embed_field))
                        if embed_field
                        else _json.dumps(m)
                        for m in metas
                    ]
                cols = ["id", "metadata"] + (["embedding"] if has_emb else ["_text"])
                yield out[cols]

        batch = src.mapInPandas(_prep, schema=out_schema)
        if not has_emb:
            udf = embed_udf(self.embedder_name, dim=dim, **self.embedder_kwargs)
            batch = batch.withColumn("embedding", udf("_text")).drop("_text")
        self._idempotent_append(batch)

    def _batch_cached(self) -> bool:
        """The cache rule of every write path (:meth:`_idempotent_append`,
        :meth:`_versioned_cas_append`, :meth:`update`): persist the write
        batch only when a derived store reads it besides the base commit —
        a bloom filter, a text index or a graph index.  Otherwise the commit
        is its only reader, and caching it would cost more than it saves:
        a persisted batch keeps ``shuffle.partitions`` partitions, which AQE
        cannot coalesce in a cached plan, so ``catalog.sized_for_append``
        must add a rebalance.  Correctness never depends on the cache: a
        recompute reads only immutable files (versioned) or the
        not-yet-swapped directory (plain)."""
        return (
            self._read_bloom_meta() is not None
            or self._read_text_meta() is not None
            or self._read_hnsw_meta() is not None
        )

    def _idempotent_append(self, batch: DataFrame) -> None:
        """The anti-join write protocol (S5).

        ``ON CONFLICT DO NOTHING`` ⇒ batch-internal dedup + left-anti join vs
        the existing id set.  Spark can only broadcast the RIGHT (build) side
        of a left-anti join — and the right side here is the EXISTING id set,
        which at 100 TB would be a fact-sized shuffle per insert batch if
        used whole.  So the conflict set is computed first with the sides
        flipped: ``existing LEFT SEMI (broadcast batch)`` scans only the
        (column-pruned) id column of the base table, broadcasts the small
        batch, and yields at most |batch| conflicting ids.  That tiny set is
        then the broadcast build side of the final anti-join.  Net: the base
        table is scanned once (id column only) and never shuffled, both
        joins broadcast the small side.  Single-writer semantics, same as
        the reference's one DB container; a versioned table takes the CAS
        loop of :meth:`_versioned_cas_append` for concurrent writers.

        On an indexed table the batch is cluster-assigned (+ PQ-encoded)
        first and lands in ONE base commit — the base is the IVF layout
        (plain: under its ``cluster_id=N/`` dirs).

        Cache rule (:meth:`_batch_cached`, shared with the CAS loop and
        :meth:`update`): the batch is persisted only when a bloom filter,
        text index or graph index reads it besides the base commit.  With
        no second reader it is not cached: the commit is its one scan.

        Write layout (``catalog.sized_for_append``): a persisted batch and
        every ``partitionBy`` append (an indexed plain base, postings) are
        rebalanced so AQE sizes their files, so one insert commits one
        file per partition directory — not ``shuffle.partitions`` files
        per directory.  An un-persisted batch is written as its dedup
        shuffle left it, which AQE already coalesces.  Many small inserts
        still leave many small files; :meth:`compact` merges them.
        """
        # Re-validate the sidecar at the WRITE boundary, not only at
        # construction: a handle built while the table did not yet exist
        # skipped the constructor check, and if another handle has since
        # created the table with a different embedder config, blindly
        # overwriting the sidecar below would append wrong-geometry vectors
        # — the exact failure the sidecar guard exists to prevent.
        self._check_meta()
        self._write_meta()
        # Every stored row must carry stats columns consistent with its
        # metadata: footer min/max skip NULLs, so a row written WITHOUT them
        # would not widen its file's recorded range and a later pruned
        # mutation could skip a file that contains matches.
        batch = self._with_stats_cols(batch.dropDuplicates(["id"]))
        if self.versioned:
            # The manifest log enables the stronger protocol: a native CAS
            # MERGE that is content-idempotent under CONCURRENT writers.
            self._versioned_cas_append(self._assign_clusters(batch))
            return
        if self._cat.table_exists(self.name, self.warehouse):
            conflicts = (
                self.items()
                .select("id")
                .join(F.broadcast(batch.select("id")), "id", "left_semi")
            )
            batch = batch.join(F.broadcast(conflicts), "id", "left_anti")
        indexed = self._has_ivf()
        if indexed:
            batch = self._assign_clusters(batch)
        # The derived stores below read the batch before the base append,
        # so every consumer (and any recompute after a cache miss) sees
        # the still-unmodified base; persist runs the anti-join once.
        cached = self._batch_cached()
        if cached:
            batch = batch.persist()
        try:
            # bloom words first — superset-safe under any later failure
            # (see the maintained-Bloom section comment)
            self._sync_bloom_for_append(batch)
            # postings before the base, with a replay anti-join: a crash
            # between leaves postings whose docs are absent — invisible in
            # results (the fused top-k inner-joins the base) and healed by
            # the insert replay contract
            self._sync_text_index_for_append(batch)
            # graph maintenance rides the same assigned frame (a graph
            # implies an index; a crash leaves the epoch pin ahead of the
            # base — loudly stale — and the replay anti-join converges the
            # retry)
            self._sync_graph_for_append(batch)
            self._cat.append(
                batch, self.name, self.warehouse,
                **({"partition_by": ["cluster_id"]} if indexed else {}),
            )
        finally:
            if cached:
                batch.unpersist()


    def _versioned_cas_append(self, batch: DataFrame) -> None:
        """Content-idempotent insert under CONCURRENT writers, natively on
        the manifest log — no delta-spark needed.  The classic race: two
        writers compute their dedup anti-join against the same snapshot,
        miss each other's rows, and double-insert identical content.  The
        CAS loop closes it:

        1. observe head version ``v`` — an IMMUTABLE file list;
        2. anti-join the batch against exactly that snapshot (the plan
           reads pinned paths, so even a cache-missed recompute is stable);
        3. commit pinned to ``v`` (``versioned.append(expected_head=v)``,
           the O_EXCL slot claim as compare-and-swap);
        4. on ``ConcurrentWriteError`` (another writer took ``v+1``),
           re-run from 1 against the new head — the re-run's anti-join now
           sees the racer's rows and drops the overlap.

        Two writers inserting overlapping content therefore land EXACTLY
        one copy of every distinct row: the multi-writer generalization of
        the reference's ``ON CONFLICT (id) DO NOTHING`` (duckvdb.py:57-61),
        with the same semantics Delta's MERGE gets from optimistic
        concurrency.  A lost race costs one restage (the orphaned staged
        files age out via vacuum).  ``batch`` arrives cluster-assigned on
        an indexed table, so the commit carries the index too.

        Each attempt persists its pinned batch only under the cache rule of
        :meth:`_batch_cached` (a bloom filter, text index or graph index
        reads it besides the commit).  Without one the commit is the only
        scan, and un-persisted its plan stays one that AQE can coalesce,
        so it commits one file without a rebalance."""
        cached = self._batch_cached()
        last_err: Exception | None = None
        for _ in range(16):
            head = vcat.current_version(self.name, self.warehouse) or 0
            pinned = batch
            m_head = (
                vcat._read_manifest(self.name, self.warehouse, head) if head else {}
            )
            if m_head.get("files"):
                # Re-inserting content whose id sits in the merge-on-read
                # mask would append a row the mask instantly hides (and
                # skew the logical count): fold the mask into a real
                # rewrite first, then retry against the new head.  One
                # broadcast semi probe, only when a mask exists at all.
                if m_head.get("tombstones"):
                    tomb = vcat._tombstone_ids(
                        self.spark, self.name, self.warehouse, m_head
                    )
                    col = m_head.get("tombstone_col", "id")
                    hit = (
                        tomb.select(F.col(col).alias("id"))
                        .join(F.broadcast(batch.select("id")), "id", "left_semi")
                        .limit(1)
                        .count()
                    )
                    if hit:
                        self._fold_tombstones()
                        continue
                existing = vcat.read_table(
                    self.spark, self.name, self.warehouse, version=head
                )
                conflicts = existing.select("id").join(
                    F.broadcast(batch.select("id")), "id", "left_semi"
                )
                pinned = batch.join(F.broadcast(conflicts), "id", "left_anti")
            if cached:
                pinned = pinned.persist()
            try:
                # bloom words BEFORE the CAS attempt — the opposite order
                # from __text/graph, because the bloom contract is superset
                # not exact: a lost race or a crash here leaves extra bits
                # (absorbed by the exact verify), while words appended
                # after a commit could be LOST by a crash — a false
                # negative the filter must never produce.  Retried
                # attempts re-append; idempotent under the bit_or fold.
                self._sync_bloom_for_append(pinned)
                vcat.append(
                    pinned,
                    self.name,
                    self.warehouse,
                    expected_head=head,
                    **self._write_kwargs,
                )
            except vcat.ConcurrentWriteError as e:
                last_err = e
                continue
            else:
                # Derived-store syncs AFTER the commit, correct here because
                # `pinned`'s plan reads only version-`head`'s IMMUTABLE
                # files: a cache miss recomputes identical rows no matter
                # what has since been committed.  A retry that lost its
                # race never touches them, and a crash between the commit
                # and a sync leaves that store MISSING the new rows: the
                # lexical channel under-ranks until the next insert or
                # rebuild, the graph epoch stays loudly stale until
                # reconcile_index().
                self._sync_text_index_for_append(pinned, base_version=head + 1)
                self._sync_graph_for_append(pinned, base_version=head + 1)
                return
            finally:
                if cached:
                    pinned.unpersist()
        raise vcat.ConcurrentWriteError(
            f"table {self.name!r}: insert lost 16 consecutive head races"
        ) from last_err


    # -- flagship read path ------------------------------------------------
    #
    # One retrieval planner: every read method is a short sequence of the
    # helpers below (snapshot → probe → source → vector/lexical channel →
    # metadata join) plus its OWN top-k operator.  Single-query methods keep
    # the single-query operators (TakeOrderedAndProject via ``knn``, the
    # ungrouped ``rrf_fuse``); batch methods keep the grouped ones
    # (WindowGroupLimit).  Routing Q=1 through the batch operators was
    # 1.6-2.5x slower (5k rows, dim 64, 4 cores), so the split stays.
    # Operator entry points are looked up at call time (module attributes),
    # never bound at import.
    def _query_vec(self, query: str | Sequence[float]) -> list[float]:
        """Embed text driver-side, or validate a PRECOMPUTED vector's
        dimension — the query-side twin of the ingest boundary's dim
        check (a wrong-length probe would NULL every scan distance via
        zip_with padding and 'return' k arbitrary rows)."""
        if isinstance(query, str):
            return [float(v) for v in self._embedder.embed(query)]
        qv = [float(v) for v in np.asarray(query, dtype=np.float64)]
        if len(qv) != self.embedding_dim:
            raise ValueError(
                f"query vector has dim {len(qv)}, table dim is "
                f"{self.embedding_dim}"
            )
        return qv

    def _snapshot(self, version: int | None, use_index: bool) -> None:
        """The ``version`` contract stated on :meth:`query`, for every read
        method: versioned tables only, and an indexed read only of a
        version at or after the commit of the current centroid generation
        (older rows carry another generation's ``cluster_id``) — else it
        fails loudly."""
        if version is None:
            return
        self._require_versioned()
        if not use_index:
            return
        since = self._indexed_since()
        if (
            since is None
            or version < since
            or version not in vcat.versions(self.name, self.warehouse)
        ):
            raise ValueError(
                f"no verified index snapshot for version {version} of "
                f"table {self.name!r}: indexed reads serve the retained "
                f"versions from the current index's commit ({since}) on, "
                "and rebuilds move it — run the exact path (omit use_index)"
            )

    def _probe_clusters(
        self, qvecs: list[list[float]], nprobe: int | None
    ) -> list[list[int]]:
        """Each query's ``nprobe`` nearest IVF clusters, nearest first
        (``nprobe`` resolves explicit > calibrated > 4)."""
        ivf = self._load_ivf()
        nprobe = self._resolve_nprobe(nprobe)
        return [ivf.nearest_centroids(qv, nprobe) for qv in qvecs]

    def _probed_source(
        self,
        clusters: list[int],
        version: int | None,
        filters: Optional[dict] = None,
    ) -> DataFrame:
        """The base table pruned to ``clusters`` as of ``version`` (the
        ``isin`` is Spark-side partition pruning on a plain table),
        optionally filtered."""
        src = self._read_ivf_probes(clusters, version=version).filter(
            F.col("cluster_id").isin(clusters)
        )
        return src.filter(compile_filters(filters)) if filters else src

    def _source(self, filters: Optional[dict], version: int | None) -> DataFrame:
        """The filtered corpus: :meth:`_filtered_source` (manifest-stats
        file pruning) plus the exact row filter."""
        src = self._filtered_source(filters, version=version)
        return src.filter(compile_filters(filters)) if filters else src

    def _vector_topk_multi(
        self,
        qvecs: list[list[float]],
        k: int,
        filters: Optional[dict],
        *,
        use_index: bool,
        nprobe: int | None,
        version: int | None,
        src: DataFrame | None = None,
        payload: Sequence[str] = (),
    ) -> DataFrame:
        """The batch vector channel: per-query top-k ``(q_id, id,
        *payload, distance)`` as a Partial-mode WindowGroupLimit, so each
        corpus partition ships at most Q×k rows into the shuffle.
        ``use_index`` scans the UNION of every query's probed clusters and
        a broadcast (q_id, cluster_id) join restricts each query to ITS
        clusters (``operators/ann.py:ivf_topk_multi``); otherwise brute
        force over ``src`` (the caller's filtered corpus, or
        :meth:`_source` when None).  ``payload`` columns ride the window
        with their row."""
        from modal_vector_db_spark.operators import ann

        kw = dict(k=k, id_col="id", payload=payload)
        if use_index:
            probes = self._probe_clusters(qvecs, nprobe)
            probe_df = catalog.local_frame(
                self.spark,
                [(i, int(c), qv) for i, qv in enumerate(qvecs) for c in probes[i]],
                "q_id int, cluster_id int, q_vec array<double>",
            )
            union = sorted({c for cs in probes for c in cs})
            scanned = self._probed_source(union, version, filters)
            return ann.ivf_topk_multi(scanned, probe_df, **kw)
        qdf = catalog.local_frame(
            self.spark, enumerate(qvecs), "q_id int, q_vec array<double>"
        )
        if src is None:
            src = self._source(filters, version)
        return ann.brute_force_topk_multi(src, qdf, **kw)

    def _hybrid_inputs(
        self,
        terms: list[str],
        filters: Optional[dict],
        version: int | None,
        text_field: str,
        *,
        use_text_index: bool,
        use_index: bool,
        use_graph_index: bool,
    ) -> tuple[DataFrame, DataFrame, dict | None]:
        """The hybrid twins' shared setup: channel checks, the snapshot
        check, the filtered corpus ``src``, and the lexical channel's
        input.  Returns ``(src, lex_src, lex_stats)``:
        ``lex_stats`` is None on the scan path (``lex_src`` = THE
        :meth:`_text_docs` projection — never inlined: postings must
        tokenize what the scan tokenizes) and the index calibration
        ``{n, avgdl, buckets}`` with ``use_text_index`` (``lex_src`` = the
        postings of ``terms``' buckets)."""
        if use_graph_index and use_index:
            raise ValueError(
                "use_graph_index and use_index are mutually exclusive — "
                "pick ONE vector channel"
            )
        if use_graph_index and version is not None:
            raise ValueError(
                "use_graph_index=True is head-only: the graph epoch mirrors "
                "the head commit (run the scan/IVF path for time travel)"
            )
        if use_text_index and filters:
            raise ValueError(
                "use_text_index=True cannot apply filters: postings carry "
                "no metadata and the BM25 calibration stats cover the "
                "WHOLE corpus — use the scan path for filtered hybrid"
            )
        self._snapshot(version, use_index)
        src = self._source(filters, version)
        if not use_text_index:
            return src, self._text_docs(src, text_field), None
        from modal_vector_db_spark.operators.hybrid import term_buckets

        # version=N → the verified ledger pair for N (raises loudly if
        # none); open mutation window → the last verified head pair;
        # otherwise live head stats + head postings
        pv, n_cal, dl_cal, buckets = self._resolve_text_index_read(
            version, text_field
        )
        postings = self._read_text_buckets(term_buckets(terms, buckets), version=pv)
        stats = {"n": n_cal, "avgdl": dl_cal / max(n_cal, 1.0), "buckets": buckets}
        return src, postings, stats

    @staticmethod
    def _join_metadata(top: DataFrame, src: DataFrame, *cols) -> DataFrame:
        """Resolve a top-k result's metadata from ``src``.  The result is
        ≤ Q×k rows — the build side of the join, hinted explicitly
        (consistent with the insert/conflict paths) rather than relying on
        AQE to notice it is tiny."""
        return F.broadcast(top).join(src.select("id", "metadata"), "id").select(*cols)

    def query(
        self,
        query: str | Sequence[float],
        k: int = 10,
        filters: Optional[dict] = None,
        as_dataframe: bool = False,
        use_index: bool = False,
        nprobe: int | None = None,
        compressed: bool = False,
        refine_factor: int = 4,
        version: int | None = None,
    ) -> list[Result] | DataFrame:
        """Filtered KNN (``vdb.py:61-64`` + ``duckvdb.py:103-120``).

        ``query`` may be text (embedded driver-side, U6) or a precomputed
        vector.  ``as_dataframe=True`` returns the lazy DataFrame — the
        idiomatic Spark surface, with the template's SELECT DISTINCT as a
        HashAggregate; default collects to ``Result`` rows for reference
        parity, running the top-k without that aggregate and falling back to
        the DISTINCT plan only when the collected rows hold a duplicate.
        That fallback scans the source twice: on 5k dim-64 rows, each loaded
        twice, an exact query took a median 527 ms against 434 ms for the
        DISTINCT plan alone, while a duplicate-free table's query took 202
        against 336 ms (4 cores).  Top-k plans as a TakeOrderedAndProject.

        ``use_index=True`` probes the IVF layout written by
        :meth:`create_index` — mirroring the reference, where only a table
        loaded through ``load_from_parquet`` has the (approximate) HNSW index
        and the default path stays exact brute force (``duckvdb.py:37-45``).
        The scan then prunes to the ``nprobe`` nearest clusters.

        ``version`` — THE snapshot contract of every read method
        (versioned tables only): read the table AS OF that commit, still
        manifest-stats-pruned when the filter keys a declared stats field.
        With ``use_index`` the probe resolves that version's files by their
        manifest ``cluster_id`` ranges — the base IS the index, so a
        version of the table is a version of the index.  Versions before
        the current index generation committed (pre-index commits, or
        before a rebuild or hot-cluster split) fail loudly instead of
        probing rows assigned by other centroids.
        """
        if compressed and not use_index:
            raise ValueError("compressed=True requires use_index=True (build with create_index(pq_m=...))")
        self._snapshot(version, use_index)
        qv = self._query_vec(query)
        if use_index:
            (probes,) = self._probe_clusters([qv], nprobe)
            src = self._probed_source(probes, version)
            if compressed:
                # IVF+PQ: ADC over the code column inside the probed
                # partitions picks k·refine_factor candidates, then the
                # exact cosine top-k below runs on just those rows.
                # FILTER PUSHDOWN (pre-ADC): the compiled predicate applies
                # to the probed-partition scan BEFORE candidate selection,
                # so candidates are drawn from the FILTERED set — a
                # selective filter can no longer empty the top-k by eating
                # the whole unfiltered candidate budget (the FAISS
                # "pre-filtered ANN" shape).  The candidate scan reads
                # (id, pq_code) plus only the filter's metadata column —
                # column pruning still does the compression win; the
                # remaining approximation is the IVF probe, as designed.
                from modal_vector_db_spark.operators.pq import PQIndex

                cb_path = catalog.db_path(self.name + "__pq_codebooks", self.warehouse)
                pq = PQIndex.load(cb_path, self.spark)
                qn = np.asarray(qv, dtype=np.float64)
                qn = qn / (np.linalg.norm(qn) or 1.0)
                adc_src = src
                if filters:
                    adc_src = adc_src.filter(compile_filters(filters))
                cand = (
                    pq.adc_scores(adc_src.select("id", "pq_code"), qn)
                    .orderBy(F.col("adc_distance").asc_nulls_last(), F.col("id").asc())
                    .limit(k * refine_factor)
                    .select("id")
                )
                src = src.join(F.broadcast(cand), "id", "left_semi")
        else:
            # file-pruned from manifest stats when the filter keys a
            # declared stats field (no-op otherwise)
            src = self._filtered_source(filters, version=version)

        def top(distinct: bool) -> DataFrame:
            # Template parity: SELECT DISTINCT (duckvdb.py:111).
            # Deterministic tie-break on id (the reference orders by
            # distance alone, so equal-distance boundaries are
            # engine-nondeterministic; we pin them so results are
            # reproducible across runs/engines).
            return knn(src, qv, k=k, filters=filters, distinct=distinct, tie_break="id")

        if as_dataframe:
            return top(True)
        # Collected: the top-k without the DISTINCT aggregate (whose exchange
        # ships every scanned row).  If its <= k rows are pairwise distinct,
        # each is the first occurrence of its value, so they ARE the first k
        # rows of the distinct sequence; only a duplicate (bulk loads are
        # not deduplicated) re-runs the DISTINCT plan.  NaN != NaN in
        # Python, while DISTINCT groups NaNs together.
        rows = top(False).collect()
        if len({tuple("NaN" if v != v else v for v in r) for r in rows}) < len(rows):
            rows = top(True).collect()
        return _results(rows)

    def query_batch(
        self,
        queries: Sequence[str | Sequence[float]],
        k: int = 10,
        filters: Optional[dict] = None,
        use_index: bool = False,
        nprobe: int | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Top-k for MANY queries in ONE job — the re-ranking/evaluation
        shape where per-query round-trips dominate (N calls to
        :meth:`query` schedule N jobs; this schedules one).  Strings are
        embedded driver-side via the registry embedder, mixed freely with
        precomputed vectors.  Returns a DataFrame (q_id, id, metadata,
        distance) with q_id = the query's position in ``queries``; per-query
        top-k plans as a WindowGroupLimit (:meth:`_vector_topk_multi`) that
        carries each row's metadata, so nothing is read twice and a table
        holding repeated rows still returns at most k rows per query.

        ``use_index=True``: batched ANN over the IVF layout — one job,
        partition-pruned to the union of the queries' probed clusters,
        instead of Q index queries.  ``version``: the snapshot contract of
        :meth:`query`."""
        if not queries:
            raise ValueError("query_batch needs at least one query")
        self._snapshot(version, use_index)
        qvecs = [self._query_vec(q) for q in queries]
        top = self._vector_topk_multi(
            qvecs, k, filters, use_index=use_index, nprobe=nprobe,
            version=version, payload=("metadata",),
        )
        return top.select(
            "q_id", "id", "metadata", F.round("distance", 6).alias("distance")
        )

    def query_hybrid(
        self,
        query: str,
        k: int = 10,
        filters: Optional[dict] = None,
        *,
        text_field: str = "text",
        top_n: int = 50,
        k0: int = 60,
        as_dataframe: bool = False,
        version: int | None = None,
        use_text_index: bool = False,
        use_index: bool = False,
        use_graph_index: bool = False,
        nprobe: int | None = None,
        ef_search: int | None = None,
    ) -> list[Result] | DataFrame:
        """Hybrid retrieval (extension beyond the reference's vector-only
        template): BM25 over ``metadata[text_field]`` fused with the cosine
        channel by reciprocal-rank fusion
        (:mod:`modal_vector_db_spark.operators.hybrid`).

        The returned ``Result.distance`` carries the FUSED score — higher is
        better (unlike :meth:`query`, where lower distance is better).
        ``filters`` (same DSL as :meth:`query`) restrict BOTH channels before
        scoring, so the fused top-k is exact over the filtered corpus.
        ``version``: both channels score the table AS OF that commit (the
        snapshot contract of :meth:`query`).  At most k rows with distinct
        ids: a collected call whose rows repeat an id (a row stored twice —
        bulk loads are not deduplicated) re-runs with one row per id in
        each channel; ``as_dataframe=True`` returns that plan.

        ``use_text_index=True``: the lexical channel reads the materialized
        inverted index (:meth:`create_text_index`) — only the query terms'
        bucket partitions are scanned, never the corpus text.  Scores are
        expression-identical to the scan path (integer-valued inputs, one
        shared contribution expression).  Mutually exclusive with
        ``filters`` (postings carry no metadata — the calibration stats
        would be over the wrong corpus); with ``version`` it reads the
        verified postings ledger pair for that commit.

        ``use_index=True``: the VECTOR channel probes the IVF layout
        (``nprobe`` nearest cluster partitions) instead of scanning the
        corpus — with ``use_text_index=True`` too, the interactive-search
        shape where NO channel touches the corpus (the base is read only
        for the ≤k fused rows' metadata).  APPROXIMATE like every IVF
        query: rows outside the probed clusters can't rank; ``nprobe`` =
        ``num_clusters`` recovers the exact result.

        ``use_graph_index=True``: the vector channel beam-searches the
        HNSW graph (:meth:`query_graph` internals — O(ef·log n) distance
        evaluations per probed cluster instead of a full-partition scan;
        ``ef_search`` resolves explicit > calibrated > 64) — the
        interactive serving shape.  Approximate like the graph path;
        full probe + corpus-covering ``ef_search`` recovers the IVF
        channel's result exactly (test-pinned).  Filters compose via the
        filtered beam.  Mutually exclusive with ``use_index`` and
        head-only (the graph epoch mirrors the head)."""
        from modal_vector_db_spark.functions.distance import cosine_distance_to
        from modal_vector_db_spark.operators import hybrid

        terms = [t for t in query.lower().split() if t]
        if not terms:
            raise ValueError("query_hybrid needs a non-empty text query")
        src, lex_src, lex_stats = self._hybrid_inputs(
            terms, filters, version, text_field, use_text_index=use_text_index,
            use_index=use_index, use_graph_index=use_graph_index,
        )
        if lex_stats:
            lex = hybrid.bm25_from_postings(lex_src, terms, id_col="id", **lex_stats)
        else:
            lex = hybrid.bm25_scores(lex_src, terms, id_col="id")
        qv = self._query_vec(query)
        if use_graph_index:
            # graph beam as the vector channel: top_n candidates per the
            # rrf contract; the ≤top_n result is tiny, the fuse broadcasts
            vec = self._graph_topk_df(
                [qv], top_n, ef_search, nprobe, filters
            ).select("id", "distance")
        else:
            vsrc = src
            if use_index:
                (probes,) = self._probe_clusters([qv], nprobe)
                vsrc = self._probed_source(probes, version, filters)
            vec = vsrc.select(
                "id", cosine_distance_to(F.col("embedding"), qv).alias("distance")
            )

        def fused(distinct: bool) -> DataFrame:
            # distinct: one row per id in each channel and in the result.
            # A row stored twice (bulk loads are not deduplicated) would
            # otherwise take two ranks in each channel, fuse once per pair
            # of copies, and join each fused id to every copy's metadata.
            if distinct:
                top = hybrid.rrf_fuse(
                    lex.dropDuplicates(["id"]), vec.dropDuplicates(["id"]),
                    id_col="id", top_n=top_n, k=k, k0=k0,
                )
            else:
                top = hybrid.rrf_fuse(lex, vec, id_col="id", top_n=top_n, k=k, k0=k0)
            out = self._join_metadata(top, src, "id", "metadata", F.col("score").alias("distance"))
            return out.dropDuplicates(["id"]) if distinct else out

        if as_dataframe:
            return fused(True)
        # Collected: the plan without the dedup shuffles, checked on the
        # driver — only a repeated id among its <= k rows re-runs the
        # distinct plan (the query() rule).
        rows = fused(False).collect()
        if len({r["id"] for r in rows}) < len(rows):
            rows = fused(True).collect()
        return _results(sorted(rows, key=lambda r: (-r["distance"], r["id"])))

    def query_hybrid_batch(
        self,
        queries: Sequence[str],
        k: int = 10,
        filters: Optional[dict] = None,
        *,  # filters is the last positional — an old positional top_n
        # must fail loudly, not silently bind as a filter dict
        top_n: int = 50,
        k0: int = 60,
        text_field: str = "text",
        use_text_index: bool = False,
        use_index: bool = False,
        use_graph_index: bool = False,
        nprobe: int | None = None,
        ef_search: int | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Hybrid retrieval for MANY text queries in ONE job — the
        evaluation/re-ranking shape where per-query round-trips dominate.
        Returns a DataFrame (q_id, id, metadata, distance) with q_id = the
        query's position and distance = the RRF score (DESC-better, the
        :meth:`query_hybrid` convention).

        Why batching is the scale win here: every corpus-side BM25
        quantity (tf, df, dl, n, avgdl) is query-independent, so the
        lexical channel costs ONE corpus tokenize+aggregate — or, with
        ``use_text_index=True``, ONE postings read pruned to the UNION of
        all queries' term buckets — no matter how many queries ride on it
        (``operators/hybrid.py:bm25_scores_multi``); the vector channel is
        the batched brute-force / IVF top-k (:meth:`_vector_topk_multi`);
        fusion ranks within q_id-partitioned windows (WindowGroupLimit —
        each partition ships ≤ top_n rows per query).  On a table with no
        repeated ids, per-query rows are bit-identical to
        :meth:`query_hybrid` (test-pinned); a table that stores a row twice
        gets more than k rows per query here (ROADMAP direction 3).

        ``filters`` / ``use_text_index`` / ``use_index`` /
        ``use_graph_index`` / ``version`` compose exactly as on
        :meth:`query_hybrid`, for every query in the batch."""
        from modal_vector_db_spark.operators import hybrid

        if not queries:
            raise ValueError("query_hybrid_batch needs at least one query")
        per_q = [[t for t in q.lower().split() if t] for q in queries]
        empties = [i for i, ts in enumerate(per_q) if not ts]
        if empties:
            # the single-query twin raises for these; silently returning
            # vector-only rows for SOME q_ids would hide caller bugs
            raise ValueError(
                f"query_hybrid_batch needs non-empty text queries; "
                f"queries at positions {empties} have no terms"
            )
        pairs = sorted({(i, t) for i, ts in enumerate(per_q) for t in ts})
        src, lex_src, lex_stats = self._hybrid_inputs(
            sorted({t for _, t in pairs}), filters, version, text_field,
            use_text_index=use_text_index, use_index=use_index,
            use_graph_index=use_graph_index,
        )
        if lex_stats:
            lex = hybrid.bm25_from_postings_multi(lex_src, pairs, id_col="id", **lex_stats)
        else:
            lex = hybrid.bm25_scores_multi(lex_src, pairs, id_col="id")
        qvecs = [self._query_vec(q) for q in queries]
        if use_graph_index:
            vec = self._graph_topk_df(
                qvecs, top_n, ef_search, nprobe, filters
            ).select("q_id", "id", "distance")
        else:
            vec = self._vector_topk_multi(
                qvecs, top_n, filters, use_index=use_index, nprobe=nprobe,
                version=version, src=src,
            )
        fused = hybrid.rrf_fuse_multi(lex, vec, id_col="id", top_n=top_n, k=k, k0=k0)
        return self._join_metadata(
            fused, src, "q_id", "id", "metadata", F.col("score").alias("distance")
        )

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Maintenance: merge the one-file-per-insert-batch fragmentation the
        append committer accumulates (``sources/catalog.py:compact``).
        Returns the new file count.  Run from a maintenance window — the
        write path is single-writer by contract.  On a versioned table this
        is just another commit (``replace``): readers of older versions keep
        their small files until :meth:`vacuum`.  An indexed versioned table
        compacts into files of contiguous ``cluster_id`` ranges; a plain
        one compacts within each cluster directory."""
        if self.versioned:
            import math

            # the stored rows, cluster_id/pq_code included (stats columns
            # are recomputed below)
            df = self._cat.read_table(self.spark, self.name, self.warehouse)
            # Size the target from the CURRENT version's files only — data/
            # also holds older versions' and failed commits' files, and
            # counting those would overstate live bytes and over-split the
            # compacted output after deletes/overwrites.
            base = catalog.db_path(self.name, self.warehouse)
            total = sum(
                os.path.getsize(os.path.join(base, rel))
                for rel in vcat.resolve_files(self.name, self.warehouse)
            )
            n_files = max(1, math.ceil(total / target_file_bytes))
            pre_head = vcat.current_version(self.name, self.warehouse) or 0
            # an indexed table's files each cover one contiguous cluster_id
            # range, so the manifest stats keep pruning probes
            if self._has_ivf():
                df = df.repartitionByRange(n_files, "cluster_id")
            else:
                df = df.repartition(n_files)
            vcat.replace_table(
                self._with_stats_cols(df),
                self.name,
                self.warehouse,
                **self._write_kwargs,
            )
            # ids + text unchanged by compaction: keep the text-index
            # snapshot ledger contiguous (replace_table is head-pinned,
            # so our commit is pre_head + 1); the graph epoch re-pins for
            # the same reason — content identical, only the layout moved
            self._text_ledger_mark_unchanged(pre_head + 1)
            self._graph_mark_unchanged(pre_head, pre_head + 1)
            return n_files
        return catalog.compact(self.spark, self.name, self.warehouse, target_file_bytes)

    #: merge-on-read delete threshold: a mask must stay broadcast-tiny (it
    #: masks EVERY read until folded) — past this, the eager file-pruned
    #: rewrite is the cheaper total cost
    _TOMBSTONE_MAX_IDS = 10_000

    def _fold_tombstones(self) -> bool:
        """Fold the merge-on-read delete mask into a real rewrite: masked
        rows are physically removed, the new manifest carries no
        tombstones (``sources/versioned.py:rewrite_where`` with a
        match-nothing predicate — only the masked rows' files rewrite).
        Logical content is unchanged, so the text-index ledger and graph
        epoch absorb the commit like a compaction.  Called from
        maintenance windows (:meth:`compact` folds implicitly via its
        logical-view rewrite; :meth:`maintain_index` calls this) and by
        the insert CAS loop when a batch re-inserts a masked id.  Returns
        True when a fold commit landed."""
        if not self.versioned:
            return False
        head = vcat.current_version(self.name, self.warehouse) or 0
        if not head or not vcat._read_manifest(
            self.name, self.warehouse, head
        ).get("tombstones"):
            return False
        out: dict = {}
        vcat.rewrite_where(
            self.spark, self.name, F.lit(True), self.warehouse,
            out=out, **self._write_kwargs,
        )
        v = out.get("version")
        if v is not None:
            # ids + text logically unchanged: the ledgers absorb the
            # commit exactly like compact()'s layout-only rewrite
            self._text_ledger_mark_unchanged(int(v))
            self._graph_mark_unchanged(head, int(v))
            return True
        return False

    def optimize_zorder(self, fields: Sequence[str], num_files: int = 16) -> int:
        """Delta's ``OPTIMIZE ZORDER BY`` through the facade: rewrite the
        table clustered along a Morton curve over the given DECLARED stats
        fields (``stats_fields``), so their per-file min/max ranges become
        tight and every later stats-pruned ``delete``/``update``/``query``
        on them touches few files — the maintenance op that turns declared
        stats from "recorded" into "selective".  ``"id"`` may be clustered
        too (a top-level column).  Versioned tables only; just another
        commit — time travel to the pre-optimize layout still works.  On an
        indexed table the curve runs within each cluster (files stay
        contiguous ``cluster_id`` ranges, so probes keep pruning).  Returns
        the new head version."""
        self._require_versioned()
        cols = []
        for f in fields:
            if f == "id":
                cols.append("id")
            elif f in self._stats_fields:
                cols.append(self._stats_colname(f))
            else:
                raise ValueError(
                    f"optimize_zorder field {f!r} is not a declared stats "
                    f"field (declared: {sorted(self._stats_fields)}); "
                    "declare it first (stats_fields= / declare_stats_fields) "
                    "— clustering a column whose range is never recorded "
                    "cannot make any read cheaper"
                )
        if self._has_ivf():
            from modal_vector_db_spark.operators.layout import zorder_frame

            pre_head = vcat.current_version(self.name, self.warehouse) or 0
            df = vcat.read_table(self.spark, self.name, self.warehouse, version=pre_head)
            vcat.replace_table(
                zorder_frame(df, cols, num_files=num_files, lead_cols=["cluster_id"]),
                self.name, self.warehouse, **self._write_kwargs,
            )
            new_v = pre_head + 1
        else:
            new_v = vcat.optimize_zorder(
                self.spark,
                self.name,
                cols,
                self.warehouse,
                num_files=num_files,
                # keep EVERY declared stats range recorded, not just the
                # clustered subset — other fields' pruning must survive
                stats_cols=self._write_kwargs.get("stats_cols", []),
            )
        # layout-only rewrite: ids + text unchanged, ledger stays
        # contiguous; graph epoch re-pins (the compact() rule)
        self._text_ledger_mark_unchanged(new_v)
        self._graph_mark_unchanged(new_v - 1, new_v)
        return new_v

    # -- versioned-table surface (manifest log, sources/versioned.py) ------
    def _require_versioned(self) -> None:
        if not self.versioned:
            raise ValueError("this operation needs VectorDB(versioned=True)")

    def history(self) -> list[dict]:
        """Commit log of the base table, oldest first (version/op/n_files)."""
        self._require_versioned()
        return vcat.history(self.name, self.warehouse)

    def read_version(self, version: int) -> DataFrame:
        """Time travel: the table exactly as of ``version``."""
        self._require_versioned()
        return vcat.read_table(self.spark, self.name, self.warehouse, version=version)

    def rollback(self, version: int) -> int:
        """Restore ``version`` as the new head (a NEW commit — history stays
        append-only, so the undo is itself auditable).  Derived index tables
        are projections of the abandoned head and are dropped; call
        :meth:`create_index` to rebuild against the restored data."""
        self._require_versioned()
        v = vcat.rollback(self.name, version, self.warehouse)
        self._drop_index_tables()
        # a restored older version can hold keys the filter never saw
        # (deleted before the filter was created) — the one path to a
        # false negative, so rebuild-loudly
        self._drop_bloom_filter()
        return v


    def clone(self, new_name: str, version: int | None = None) -> "VectorDB":
        """Fork this table (at ``version``, default head) into a new
        versioned ``VectorDB`` with the same embedder configuration —
        hardlinked data, independent commit log (``sources/versioned.py:
        clone_table``).  Derived indexes are not cloned (rebuild on the
        fork if needed)."""
        self._require_versioned()
        vcat.clone_table(self.name, new_name, self.warehouse, version)
        # Stamp the fork's sidecar BEFORE constructing its handle: a stale
        # sidecar from a past (out-of-band-dropped) table of the same name
        # must not reject the freshly-cloned fork's own configuration.
        import shutil as _shutil

        fork_meta = catalog.db_path(new_name, self.warehouse) + "__vdbmeta.json"
        try:
            _shutil.copyfile(self._meta_path(), fork_meta)
        except FileNotFoundError:
            # pre-sidecar source: clear any stale fork sidecar instead
            if os.path.exists(fork_meta):
                os.remove(fork_meta)
        fork = VectorDB(
            self.spark,
            new_name,
            embedder_name=self.embedder_name,
            embedding_dim=self.embedding_dim,
            embedder_kwargs=self.embedder_kwargs,
            warehouse=self.warehouse,
            versioned=True,
            stats_fields=self._stats_fields,
        )
        fork._write_meta()
        return fork

    def vacuum(self, keep_versions: int = 3, orphan_grace_s: float = 3600.0) -> int:
        """Delete data files referenced only by versions older than the last
        ``keep_versions`` (those versions stop being rollback targets).
        Unreferenced orphans (failed commits) younger than ``orphan_grace_s``
        are kept — they may be a live writer's staged files (Delta's VACUUM
        retention-age guard).  Returns files removed."""
        self._require_versioned()
        n = vcat.vacuum(self.name, self.warehouse, keep_versions, orphan_grace_s)
        # the versioned graph tables accumulate one commit PER INSERT now
        # that maintenance is incremental — same retention policy; no
        # ledger to prune (the graph epoch pins the head only, so old
        # versions are never read targets)
        for suffix in ("__hnsw", "__hnsw_nodes"):
            if vcat.table_exists(self.name + suffix, self.warehouse):
                n += vcat.vacuum(
                    self.name + suffix, self.warehouse, keep_versions,
                    orphan_grace_s,
                )
        # the versioned __text postings log gets the same retention; ledger
        # entries whose postings (or base) version was vacuumed are pruned
        # so time travel to them fails with the canonical "no verified
        # text-index snapshot" error up front
        if vcat.table_exists(self.name + "__text", self.warehouse):
            n += vcat.vacuum(
                self.name + "__text", self.warehouse, keep_versions, orphan_grace_s
            )
            # the keep predicate is evaluated INSIDE the lock: a pair
            # a concurrent writer records between the version listing and
            # the locked rewrite references versions NEWER than the listing
            # (monotone), so the > max escape keeps it — filtering by
            # membership in a pre-lock keyset would silently drop it
            bkeep = set(vcat.versions(self.name, self.warehouse))
            tkeep = set(vcat.versions(self.name + "__text", self.warehouse))
            bmax, tmax = max(bkeep, default=0), max(tkeep, default=0)

            def _text_alive(b: str, e) -> bool:
                return (int(b) in bkeep or int(b) > bmax) and (
                    int(e[0]) in tkeep or int(e[0]) > tmax
                )

            with self._text_meta_lock():
                cur = self._read_text_meta()
                if cur is not None and cur.get("history"):
                    kept = {
                        b: e
                        for b, e in cur["history"].items()
                        if _text_alive(b, e)
                    }
                    if kept != cur["history"]:
                        cur["history"] = kept
                        self._write_text_meta(cur)
        return n

    def sql(self, query: str) -> DataFrame:
        """Spark SQL over this DB's table, registered as a temp view named
        after the DB (the reference drives everything through SQL strings
        against its ``items`` table; this is the equivalent escape hatch,
        minus the injection-prone string splicing — the view is read-only
        and filters still belong in :meth:`query`'s compiled DSL).

        Example::

            db.sql(f"SELECT count(*) FROM {db.name} "
                   "WHERE get_json_object(metadata, '$.lang') = 'en'")
        """
        self.items().createOrReplaceTempView(self.name)
        return self.spark.sql(query)

    def delete(self, filters: dict) -> int:
        """Remove every row matching ``filters`` (same DSL as :meth:`query`);
        returns the count removed.  The takedown/right-to-erasure operation
        a training-data store needs and the reference lacks.

        Two physical strategies, chosen by the match count alone:

        - MERGE-ON-READ (versioned tables, matches ≤ ``_TOMBSTONE_MAX_IDS``): the
          matched ids land in a tombstone mask on the manifest
          (``sources/versioned.py:tombstone``) — ZERO base-file rewrites,
          the Delta deletion-vector shape.  A takedown of 100 ids scattered
          across 100 large files costs one tiny id-file write; reads
          anti-join the broadcast mask; :meth:`compact`/
          :meth:`maintain_index` (or any replace-shaped commit) FOLD the
          mask into a real rewrite.  Indexed probes apply the same mask.
          The derived text/graph stores still shrink eagerly — they are
          partition-local rewrites and keeping them exact is what keeps
          their totals-based consistency pins working.
        - EAGER (plain tables and larger deletes): a
          FILE-PRUNED copy-on-write rewrite (``rewrite_where``): one
          column-pruned scan finds which files contain matches, only those
          are rewritten, untouched files carry forward by reference.

        Rows where the predicate is NULL (e.g. the filtered key is absent
        from a row's metadata) are KEPT — a delete must never remove rows it
        cannot positively match.  ``filters`` must be non-empty: clearing a
        table is ``create_new_table=True``, not an accidental match-all."""
        if not filters:
            raise ValueError(
                "delete() requires non-empty filters; to clear the table, "
                "construct with create_new_table=True"
            )
        if not self._cat.table_exists(self.name, self.warehouse):
            return 0
        keep = ~F.coalesce(compile_filters(filters), F.lit(False))
        # ONE protected region from the first derived-store write to the
        # base commit (same rule as update()): a failure anywhere after the
        # postings shrank drops the text index — a shrunk-postings index
        # missing live docs must not survive the base keeping its rows.
        try:
            # Graph shrink rides the same derived-stores-first window:
            # unpin the epoch, file-pruned-rewrite __hnsw_nodes, rebuild
            # only the clusters that lost rows; the epoch re-pins after
            # the base commit (takedown-sized deletes keep the graph
            # incrementally — the __text shrink contract).
            graph_stash = self._graph_delete_begin(keep)
            # Text postings shrink BEFORE the base rewrite (derived stores
            # first): takedown-sized deletes keep the index incrementally —
            # only a mass delete forces a rebuild
            # (:meth:`_shrink_text_postings`).  The snapshot-ledger window
            # opens first: a half-shrunk postings state must never be
            # recorded as (or served for) a verified version.
            pred = F.coalesce(compile_filters(filters), F.lit(False))
            self._begin_text_mutation()
            text_delta = self._shrink_text_postings(
                self._filtered_source(filters).filter(pred)
            )
            pre_head = 0
            if self.versioned:
                pre_head = vcat.current_version(self.name, self.warehouse) or 0
            removed = None
            committed_v: int | None = None
            if self.versioned:
                # merge-on-read: matched ids from the LOGICAL view (already
                # masked ids can never re-match, so the mask stays
                # duplicate-free — the count-arithmetic contract)
                ids = self._filtered_source(filters).filter(pred).select("id")
                v, n = vcat.tombstone(
                    ids,
                    self.name,
                    self.warehouse,
                    id_col="id",
                    max_ids=self._TOMBSTONE_MAX_IDS,
                    expected_head=pre_head,
                )
                if v is not None or n == 0:
                    removed = n
                    committed_v = v
                # else: over threshold — fall through to the eager rewrite
            if removed is None:
                # Manifest data skipping (declared stats fields): the
                # touched-file discovery scan itself reads only files whose
                # recorded range can contain matches — at 100 TB a takedown
                # keyed to a stats field reads its slice, not the corpus.
                kw = dict(self._write_kwargs)
                bounds = self._derive_prune_bounds(filters) if self.versioned else []
                if bounds:
                    kw["prune_between"] = bounds
                if self.versioned:
                    # writer-side commit handle: the ledger arithmetic below
                    # must see the head the rewrite (and the pending mask it
                    # folds) committed, not pre_head (review finding: the
                    # miss poisoned the text snapshot ledger)
                    kw["out"] = (out := {})
                removed = self._cat.rewrite_where(
                    self.spark, self.name, keep, self.warehouse, **kw
                )
                if self.versioned:
                    committed_v = out.get("version")
        except Exception:
            self._drop_text_index()
            raise
        self._graph_delete_finish(graph_stash)
        head_after = committed_v if committed_v is not None else pre_head
        if text_delta is None:
            if removed:
                # mass delete: stale postings would be invisible in results
                # (the fused top-k inner-joins the base) but would poison
                # the BM25 calibration — rebuild-loudly
                self._drop_text_index()
            else:
                self._end_text_mutation(head_after, 0, 0)
        else:
            # a no-match delete commits no new base version
            self._end_text_mutation(head_after, *text_delta)
        return removed

    #: an update matching at most this many rows resolves on the driver
    #: (:meth:`update`) — the same takedown-sized ceiling a delete's
    #: merge-on-read split uses; above it the distributed plan runs
    _UPDATE_DRIVER_MAX_ROWS = _TOMBSTONE_MAX_IDS

    def update(
        self,
        filters: dict,
        patch: dict,
        embed_field: Optional[str] = None,
    ) -> int:
        """Patch the metadata of every row matching ``filters`` (same DSL as
        :meth:`query`); returns the number of rows matched.

        Content-addressed semantics: the id IS the content hash (uuid5 of
        the canonical metadata JSON, ``schema.py``), so an update necessarily
        re-keys the row — this is a delete+insert expressed as ONE atomic
        file-pruned copy-on-write rewrite (``sources/catalog.py:
        replace_where``).  If a
        patched row's new content equals another surviving row's content the
        two COLLAPSE into one (the same ``ON CONFLICT DO NOTHING`` rule the
        insert path applies — a content-addressed store never holds two rows
        with identical content).  A ``patch`` value of ``None`` removes the
        key.  Rows where the filter predicate is NULL are NOT matched (same
        positive-match rule as :meth:`delete`).

        ``embed_field``: when given, matched rows are re-embedded from the
        PATCHED ``metadata[embed_field]`` via the table's embedder (the
        insert-path convention, ``vdb.py:56``); when ``None`` the existing
        embedding is preserved — the metadata-only relabel case.

        Two plans, chosen by the matched row count:

        - DRIVER-RESOLVED (at most ``_UPDATE_DRIVER_MAX_ROWS`` matches, the
          takedown/relabel size): one scan of the stats-pruned, masked
          source collects the matched rows' ``id``, ``metadata`` and file;
          the patch and re-key run once in plain Python on the driver (the
          reference computes the same content id in one process); one
          id-only probe over the new ids plus the pending mask's ids finds
          both the content collisions and the files the mask fold must
          rewrite; then one commit, pinned to the head the matched scan
          read (a commit that landed in between raises
          ``ConcurrentWriteError``).  The patched rows reach Spark as a
          ``catalog.local_frame`` and get their stored embeddings back
          inside Spark, so the driver never holds a vector.  A 3-row
          relabel of a versioned, indexed table with a pending mask runs at
          most 6 Spark jobs and no Python worker
          (``tests/test_query_jobs.py::test_small_update_job_budget``).
        - DISTRIBUTED (more matches): a count, then the patch as one
          Arrow-batched ``mapInPandas`` pass over ONLY the matched rows and
          a conflict probe over the surviving ids; unmatched rows stream
          through untouched, JVM-side.

        On an indexed table the patched rows are re-assigned to their
        nearest centroid (and re-encoded when a PQ codebook exists) before
        the one base commit.  A text index
        is maintained incrementally for relabel-sized updates (a relabel
        is a delete+insert to the index too: old postings shrink, patched
        rows re-add through the replay-safe insert sync); mass updates
        drop it for rebuild.

        The patched batch is cached only under the write paths' cache rule
        (:meth:`_batch_cached`): when a text index or bloom filter reads it
        besides the base rewrite (the graph index is invalidated first).
        Otherwise the rewrite recomputes the patch instead of reading a
        cache.
        """
        if not filters:
            raise ValueError("update() requires non-empty filters")
        if not patch:
            raise ValueError("update() requires a non-empty patch")
        if not self._cat.table_exists(self.name, self.warehouse):
            return 0
        pred = F.coalesce(compile_filters(filters), F.lit(False))
        patch_items = dict(patch)  # plain dict → picklable task closure
        idf = list(self.id_fields) if self.id_fields else None  # closure-safe
        want_text = embed_field is not None

        def patched(s):
            # One metadata JSON → (new id, patched JSON, embed text or
            # None).  Self-contained on purpose: the distributed plan ships
            # it to executors that may not have this package on their
            # sys.path (a nested function ships by value, a module-level one
            # by REFERENCE to its module) — so the id/stringify logic of
            # schema.json_to_uuid/stringify_metadata is inlined via stdlib
            # only.  Kept in lockstep by test_update_metadata_only's
            # `aid == json_to_uuid(am)` assertion.
            import json as _json
            import uuid as _uuid

            m = _json.loads(s) if s is not None else {}
            for k, v in patch_items.items():
                if v is None:
                    m.pop(k, None)
                else:
                    m[k] = v
            # re-key with the TABLE's identity (the declared id_fields
            # subset when set) — re-keying on the whole document would
            # orphan the subset identity crawl ingest keys on, so a later
            # re-ingest of identical content would duplicate
            key = {k: m.get(k) for k in idf} if idf else m
            new_id = str(_uuid.uuid5(_uuid.NAMESPACE_DNS, _json.dumps(key, sort_keys=True)))
            return new_id, _json.dumps(m), (str(m.get(embed_field)) if want_text else None)

        plan = self._update_on_driver(filters, pred, patched, want_text)
        if plan is None:
            plan = self._update_distributed(filters, pred, patched)
        n_matched, matched, updated, kw = plan
        if n_matched == 0:
            return 0
        # Replace-shaped mutation: rows re-key and may re-embed, which the
        # graph epoch's count/version pins cannot see on PLAIN tables (a
        # count-preserving update would pass the rows check while the graph
        # serves stale vectors) — invalidate loudly; rebuild is explicit.
        self._invalidate_graph_index()
        if want_text:
            udf = embed_udf(self.embedder_name, dim=self.embedding_dim, **self.embedder_kwargs)
            updated = updated.withColumn("embedding", udf("_text"))
        updated = self._assign_clusters(updated.drop("_text"))
        # Persist only under the cache rule (_batch_cached): with a text
        # index or bloom filter the patch feeds their syncs besides the
        # rewrite, and the cache computes the patched batch once.
        # (Correctness never depends on the cache: every plan reads only
        # not-yet-swapped directories.)
        cached = self._batch_cached()
        if cached:
            updated = updated.persist()
        text_pinned = None
        try:
            # ONE protected region from the first derived-store write to
            # the base commit: if ANY step fails after the postings shrank
            # (the checkpoint, the base rewrite), the text index is dropped
            # instead of left silently inconsistent (review finding: the
            # text shrink used to sit outside the except that covered only
            # the base rewrite).
            try:
                # Text postings: an update is a delete+insert to the index
                # too — shrink the matched rows' postings BEFORE the base
                # rewrite (same ordering as delete; mass updates fall back
                # to drop-and-rebuild), re-add the patched rows through
                # the replay-safe insert sync after the commit.  The sync
                # runs AFTER the swap, so the batch it reads must be
                # pinned NOW: a cache-evicted recompute of `updated` would
                # re-scan the already-mutated base (the plain backend
                # swaps directories; same rule as the insert path's
                # pinned sync batch).
                has_text = self._cat.table_exists(
                    self.name + "__text", self.warehouse
                )
                if has_text:
                    self._begin_text_mutation()
                text_delta = (
                    self._shrink_text_postings(matched) if has_text else None
                )
                if has_text and text_delta is not None:
                    text_pinned = updated.localCheckpoint(eager=True)
                pre_head = 0
                if self.versioned:
                    pre_head = vcat.current_version(self.name, self.warehouse) or 0
                # File-pruned copy-on-write (both backends): only files
                # that CONTAIN matched rows are rewritten — the
                # replacement set is touched.filter(~pred) ∪ updated
                # (which carries cluster_id on an indexed table, so a
                # plain table's replacements land in their cluster dirs),
                # untouched files carry forward by reference (versioned:
                # re-listed in the manifest; plain: hardlinked) — a
                # one-row relabel never rewrites the corpus.  The
                # collisions were found over the FULL surviving set, so
                # cross-file content collisions still drop.
                # Bloom: an update RE-KEYS content ids and may change the
                # filter's field value — append the patched rows' keys
                # BEFORE the commit (superset-safe under commit failure;
                # the removed old keys stay as stale-superset bits)
                self._sync_bloom_for_append(updated)
                self._cat.replace_where(
                    self.spark, self.name, pred,
                    self._with_stats_cols(updated), self.warehouse,
                    **self._write_kwargs, **kw,
                )
            except Exception:
                self._drop_text_index()  # rebuild-loudly, never diverged
                raise
            if has_text:
                if text_delta is None:
                    self._drop_text_index()  # mass update: rebuild-loudly
                else:
                    # old postings are gone; the anti-join inside the sync
                    # skips rows that COLLAPSED into surviving content, so
                    # postings and stats land exactly once.  The replace
                    # was OCC-pinned, so OUR commit is pre_head+1; the
                    # re-add syncs it, then the window close folds the
                    # decrement and records the verified pair (or poisons
                    # tracking if a writer raced past — never guesses).
                    self._sync_text_index_for_append(
                        text_pinned, base_version=pre_head + 1
                    )
                    self._end_text_mutation(pre_head + 1, *text_delta)
            return n_matched
        finally:
            if text_pinned is not None:
                text_pinned.unpersist()
            if cached:
                updated.unpersist()

    def _update_on_driver(self, filters: dict, pred, patched, want_text: bool):
        """:meth:`update`'s driver-resolved plan: ``(n_matched, matched,
        patched rows, replace_where kwargs)``, or ``None`` when more than
        ``_UPDATE_DRIVER_MAX_ROWS`` rows match.  Spark jobs: the matched
        scan, the id probe (both collected through Arrow), and later the
        write."""
        cap = self._UPDATE_DRIVER_MAX_ROWS
        base = catalog.db_path(self.name, self.warehouse)
        # the file and row index name each stored row, so its embedding can
        # be re-attached without collecting it (tagged before any join,
        # whose projection hides `_metadata`)
        path, row = F.col("_metadata.file_path"), F.col("_metadata.row_index")
        if self.versioned:
            head = vcat.current_version(self.name, self.warehouse)
            m_head = vcat._read_manifest(self.name, self.warehouse, head)
            files = m_head["files"]
            mask = vcat._tombstone_table(self.name, self.warehouse, m_head)
            mask_ids = set() if mask is None else set(mask.column(0).to_pylist()) - {None}

            def read(rels):
                return vcat._read_files(self.spark, self.name, self.warehouse, rels)

            cands = vcat.resolve_files(
                self.name, self.warehouse, head,
                between=self._derive_prune_bounds(filters) or None,
            )
            if not cands:  # the stats bound admits no file
                return 0, None, None, None
            src = vcat._apply_tombstones(
                self.spark, self.name, self.warehouse, m_head,
                read(cands).select("*", path.alias("_f"), row.alias("_r")),
            )
            kw = {"expected_head": head}  # the head the matched scan reads
        else:
            files, _ = catalog._leaf_files(self.name, self.warehouse)
            mask_ids = set()

            def read(rels):
                return catalog._read_rels(self.spark, self.name, self.warehouse, rels)

            src = read(files).select("*", path.alias("_f"), row.alias("_r"))
            kw = {}
        # 1. ONE matched scan: the count, the touched files and the patch
        # input
        rows = (
            src.filter(pred)
            .select("id", "metadata", "_f", "_r")
            .limit(cap + 1)
            .toArrow()
            .to_pylist()
        )
        if len(rows) > cap:
            return None
        if not rows:
            return 0, None, None, None
        # 2. the patch, once, on the driver; rows patched into the same
        # content collapse to the first
        new: dict = {}
        for r in rows:
            new_id, meta, text = patched(r["metadata"])
            new.setdefault(new_id, (r["_f"], r["_r"], meta, text))
        # 3. ONE id probe over the new ids and the mask's ids: a new id
        # collides when a stored row outside the mask that this update
        # does not remove already holds it; the mask's rows name the files
        # the fold rewrites
        keys = sorted(set(new) | mask_ids)
        # (a plain table's probe reads its directory: one listing, where
        # explicit paths past 32 files start a parallel-listing job)
        probe = (read(files) if self.versioned else self._cat.read_table(
            self.spark, self.name, self.warehouse
        )).select("id", path.alias("_f"))
        if len(keys) <= vcat.IN_MASK_MAX_IDS:
            probe = probe.filter(catalog.in_list("id", keys))
        else:
            probe = probe.join(
                F.broadcast(catalog.local_frame(self.spark, zip(keys), "id string")),
                "id", "left_semi",
            )
        hits = probe.toArrow().to_pylist()
        stored, removed = Counter(h["id"] for h in hits), Counter(r["id"] for r in rows)
        new = {
            i: p for i, p in new.items()
            if i in mask_ids or stored[i] <= removed[i]
        }
        rel_to_abs = {f: os.path.join(base, f) for f in files}
        kw["touched"] = catalog.file_rels((r["_f"] for r in rows), rel_to_abs)
        if mask_ids:
            kw["mask_files"] = catalog.file_rels(
                (h["_f"] for h in hits if h["id"] in mask_ids), rel_to_abs
            )
        matched = catalog.local_frame(
            self.spark, ((r["id"], r["metadata"]) for r in rows),
            "id string, metadata string",
        )
        if want_text or not new:
            # re-embedded from `_text` (or nothing left to add): no stored
            # vector needed
            updated = catalog.local_frame(
                self.spark, ((i, p[2], None, p[3]) for i, p in new.items()),
                "id string, metadata string, embedding array<float>, _text string",
            )
        else:
            # the stored embedding, re-attached inside Spark by (file,
            # row index) — a table holding a row twice re-attaches once
            keyed = catalog.local_frame(
                self.spark, ((p[0], p[1], i, p[2]) for i, p in new.items()),
                "_f string, _r bigint, id string, metadata string",
            )
            updated = (
                read(catalog.file_rels((p[0] for p in new.values()), rel_to_abs))
                .select(path.alias("_f"), row.alias("_r"), "embedding")
                .join(F.broadcast(keyed), ["_f", "_r"])
                .select("id", "metadata", "embedding")
            )
        return len(rows), matched, updated, kw

    def _update_distributed(self, filters: dict, pred, patched):
        """:meth:`update`'s plan above the driver ceiling: a count, the
        patch as one Arrow-batched ``mapInPandas`` pass over the matched
        rows, and a conflict probe over the surviving ids.  Same return
        shape as :meth:`_update_on_driver`."""
        # The matched scan is file-pruned from manifest stats when the
        # filter keys a declared stats field; the conflict probe below must
        # NOT be — content collisions can live in any file, so it reads the
        # full (id-column-pruned) surviving set.
        matched = self._filtered_source(filters).filter(pred)
        n_matched = matched.count()
        if n_matched == 0:
            return 0, None, None, None

        def _apply_patch(batches):
            for pdf in batches:
                out = pdf[["id", "metadata", "embedding"]].copy()
                res = [patched(s) for s in pdf["metadata"]]
                out["id"] = [r[0] for r in res]
                out["metadata"] = [r[1] for r in res]
                out["_text"] = [r[2] for r in res]
                yield out

        updated = matched.mapInPandas(
            _apply_patch,
            schema="id string, metadata string, embedding array<float>, _text string",
        )
        # Same conflict protocol as _idempotent_append: batch-internal dedup,
        # then drop new ids already present in the surviving set (the
        # conflict set is computed small-side so the big table never
        # shuffles).
        updated = updated.dropDuplicates(["id"])
        conflicts = self.items().filter(~pred).select("id").join(
            F.broadcast(updated.select("id")), "id", "left_semi"
        )
        updated = updated.join(F.broadcast(conflicts), "id", "left_anti")
        bounds = self._derive_prune_bounds(filters) if self.versioned else []
        # sound for the REMOVAL side (matched rows lie inside the bound by
        # implication); the patched replacement rows land in newly-staged
        # files regardless
        return n_matched, matched, updated, {"prune_between": bounds} if bounds else {}


    def reembed(
        self,
        embedder_name: str | None = None,
        embedding_dim: int | None = None,
        embedder_kwargs: Optional[dict] = None,
        embed_field: Optional[str] = None,
    ) -> int:
        """The embedding-model migration: recompute EVERY row's vector with
        a (possibly different) registry embedder, in one executor-parallel
        Arrow-batched pass, committed as ONE atomic replace.  The operation
        a store hits the day the embedding model upgrades — the reference
        would require dump + re-insert through the driver.

        Text per row follows the insert-path convention (``vdb.py:54-56``):
        ``metadata[embed_field]`` when given, else the stored canonical
        metadata JSON.  Ids and metadata are UNCHANGED (content ids hash
        metadata only — a model upgrade must not re-key the corpus).
        Derived IVF/PQ layouts are dropped: their centroids/codebooks live
        in the OLD geometry (call :meth:`create_index` after).  The
        instance's embedder/dim switch to the new configuration so
        subsequent queries embed in the new space.  Returns rows
        re-embedded."""
        new_name = embedder_name or self.embedder_name
        new_dim = embedding_dim or self.embedding_dim
        new_kwargs = embedder_kwargs if embedder_kwargs is not None else self.embedder_kwargs
        # validate the configuration driver-side before any work
        new_embedder = get_embedder(new_name, dim=new_dim, **new_kwargs)
        if not self._cat.table_exists(self.name, self.warehouse):
            self.embedder_name, self.embedding_dim = new_name, new_dim
            self.embedder_kwargs, self._embedder = new_kwargs, new_embedder
            self._write_meta()
            return 0
        df = self.items()
        if embed_field:
            # EXACT insert-path parity (vdb.py:56's ``str(m.get(field))``):
            # booleans render 'True', dict/list values their Python repr,
            # a missing key the string 'None', and dotted KEYS stay literal
            # keys — a JSONPath probe diverges on every one of those, so
            # the text comes from the parsed metadata in an Arrow pass
            # (stdlib-only closure, same rule the update() patch pass uses).
            field = str(embed_field)

            def _texts(batches):
                import json as _json

                for pdf in batches:
                    out = pdf[["id", "metadata"]].copy()
                    out["_text"] = [
                        str((_json.loads(s) if s is not None else {}).get(field))
                        for s in pdf["metadata"]
                    ]
                    yield out

            src = df.mapInPandas(_texts, "id string, metadata string, _text string")
            text = F.col("_text")
        else:
            src = df  # whole-document convention: the stored canonical JSON
            text = F.col("metadata")
        udf = embed_udf(new_name, dim=new_dim, **new_kwargs)
        out = src.select("id", "metadata", udf(text).alias("embedding"))
        # Crash-window ordering: invalidate the guards BEFORE the commit.
        # A death anywhere between here and the final _write_meta leaves NO
        # sidecar (handles construct unchecked — pre-sidecar behavior) and
        # NO index — never a sidecar or index that LIES about the data,
        # which is the failure the sidecar exists to prevent.
        self._drop_meta()
        # old-geometry centroids/codebooks are garbage; the TEXT index is
        # not — ids and metadata text are unchanged by a model migration,
        # so postings and calibration stats stay exactly valid
        self._drop_index_tables(keep_text=True)
        pre_head = 0
        if self.versioned:
            pre_head = vcat.current_version(self.name, self.warehouse) or 0
        n = self._cat.replace_table(
            self._with_stats_cols(out), self.name, self.warehouse, **self._write_kwargs
        )
        # ids + text unchanged ⇒ the HEAD postings are exactly valid for
        # the re-embedded commit too (replace_table is head-pinned, so OUR
        # commit is pre_head+1; the mark's head check fails closed on races)
        self._text_ledger_mark_unchanged(pre_head + 1)
        self.embedder_name, self.embedding_dim = new_name, new_dim
        self.embedder_kwargs, self._embedder = new_kwargs, new_embedder
        self._write_meta()  # future handles validate against the NEW config
        return n

    def explain(
        self,
        query: str | Sequence[float],
        k: int = 10,
        filters: Optional[dict] = None,
        **kwargs: Any,
    ) -> str:
        """The executed physical plan for :meth:`query`'s DataFrame (same
        arguments) as a string — the tuning surface the reference never had
        (its DuckDB EXPLAIN was unreachable through the API).  Read it for:
        scan `ReadSchema` (column pruning), `PushedFilters`, and
        `TakeOrderedAndProject` (bounded-heap top-k, never a global sort);
        with ``use_index=True``, `PartitionFilters` on the probed
        ``cluster_id`` partitions.  This is the ``as_dataframe`` plan, with
        the template's DISTINCT aggregate; a collected :meth:`query` runs
        its top-k without it (see there)."""
        from modal_vector_db_spark.plans.inspect import executed_plan

        df = self.query(query, k=k, filters=filters, as_dataframe=True, **kwargs)
        return executed_plan(df)


    # -- A1 ----------------------------------------------------------------
    def num_rows(self) -> int:
        """``SELECT COUNT(*)`` (``duckvdb.py:122-123``).  On a versioned
        table this is answered from the commit log's per-file row counts —
        O(manifest), no scan, no job — falling back to a real count when
        any file lacks recorded stats (e.g. rows written by a caller that
        bypassed the facade)."""
        if self.versioned:
            n = vcat.manifest_row_count(self.name, self.warehouse)
            if n is not None:
                return n
        return self.items().count()

    def profile(self) -> DataFrame:
        """Table statistics in ONE scan (extension beyond the reference's
        ``num_rows``): per-column row/null counts, approximate NDV, and
        min/max — the inputs to layout decisions (bucket counts, pruning
        ranges) and to monitoring ingest health (id NDV ≈ rows iff the
        idempotent-insert contract is holding)."""
        from modal_vector_db_spark.operators.sketches import column_profile

        return column_profile(self.items(), ["id", "metadata"])

    def est_dup_rate(self, rsd: float = 0.01) -> float:
        """HLL estimate of the metadata duplicate rate in one scan — the
        sizing probe to run BEFORE a full dedup pass (~0 means the dedup
        shuffle can be skipped).  By construction of the uuid5 content ids,
        committed rows are already content-unique, so this measures drift
        only if rows were bulk-loaded around the idempotent-insert path."""
        from modal_vector_db_spark.operators.sketches import dup_rate_estimate

        if not self._cat.table_exists(self.name, self.warehouse):
            return 0.0
        row = dup_rate_estimate(self.items(), ["metadata"], rsd).head()
        return float(row["est_dup_rate"])

    # -- S2 + X1 -----------------------------------------------------------
    def load_from_parquet(
        self,
        parquet_path: str,
        build_index: bool = True,
        build_graph_index: bool = False,
    ) -> None:
        """Bulk load (``duckvdb.py:43-45``).  Unlike the reference's plain
        ``CREATE TABLE`` (which crashes if the table exists — SURVEY §8 bug
        #6), this is an explicit overwrite.

        ``build_graph_index=True`` additionally builds the per-partition
        HNSW serving graph over the fresh IVF layout — the closest analog
        of the reference's bulk-load flow, where ``load_from_parquet`` IS
        what creates the HNSW index (``duckvdb.py:37-45``).  Opt-in: the
        graph build is the expensive O(n·ef·log n) pass and batch
        analytics on the IVF layout alone doesn't need it."""
        if build_graph_index and not build_index:
            # argument validation BEFORE any destructive step — raising
            # after the overwrite would have already destroyed the
            # existing corpus and every derived index (review finding)
            raise ValueError(
                "build_graph_index=True requires build_index=True (the "
                "IVF cluster layout is the graph's sharding)"
            )
        df = self.spark.read.parquet(parquet_path)
        # ingest validation at the bulk boundary too (insert/insert_df
        # reject wrong-dim vectors; a silent wrong-dim bulk load would
        # NULL every scan distance via zip_with padding)
        bad = df.filter(F.size("embedding") != self.embedding_dim).count()
        if bad:
            raise ValueError(
                f"load_from_parquet: {bad} rows have embedding dim != "
                f"{self.embedding_dim} (table dim)"
            )
        self._check_meta()  # same write-boundary guard as _idempotent_append
        self._write_meta()
        self._drop_text_index()  # overwrite replaces the corpus wholesale
        self._drop_bloom_filter()  # new corpus = keys the filter never saw
        # stale centroids/PQ describe the old corpus's geometry, and the
        # flat overwrite drops the old cluster assignment — drop them too
        self._drop_index_tables(keep_text=True)
        self._cat.overwrite(
            self._with_stats_cols(df.select(*[f.name for f in ITEMS_SCHEMA.fields])),
            self.name,
            self.warehouse,
            **self._write_kwargs,
        )
        if build_index:
            self.create_index()
        if build_graph_index:
            self.create_graph_index()

    def load_from_warc(
        self,
        warc_path: str,
        *,
        glob: str = "*.warc*",
        text_tier: str = "parser",
        embed_field: str = "text",
        on_error: str = "skip",
    ) -> None:
        """Crawl ingest — the :meth:`load_from_parquet` analog for corpora
        that arrive as WARC crawls rather than parquet (the usual case for
        web-scale training data).  Executor-parallel end to end: WARC
        record walk (``sources/warc.py``; file-per-task, type filter
        pushed into the walker), HTML text extraction (``text_tier`` picks
        the stdlib-``HTMLParser`` walk ``'parser'`` — default, handles
        markup outside the regex subset — or the pure-Catalyst chain
        ``'catalyst'``), URL normalization as the ``url`` metadata key,
        then the distributed embed+insert path of :meth:`insert_df`.

        APPENDS with content-id idempotency (re-ingesting the same crawl
        segment, or two segments sharing a page, dedups through the same
        anti-join as every insert) — unlike ``load_from_parquet``'s
        explicit overwrite, because crawls arrive segment by segment.
        Pages with no extractable text are dropped; non-HTML responses
        are filtered on the HTTP Content-Type."""
        from modal_vector_db_spark.operators.html_extract import crawl_pages_to_metadata
        from modal_vector_db_spark.sources.warc import read_warc

        recs = read_warc(
            self.spark, warc_path, glob=glob, types=("response",), on_error=on_error
        )
        # identity = the content (url/title/text), NOT the capture date —
        # a re-crawl of an unchanged page must dedup (see insert_df).  A
        # table-level id_fields declaration wins (and makes update()
        # re-keys coherent with crawl identity — declare
        # VectorDB(id_fields=("url","title","text")) for crawl tables
        # that will be patched)
        self.insert_df(
            crawl_pages_to_metadata(recs, text_tier),
            embed_field=embed_field,
            id_fields=self.id_fields or ("url", "title", "text"),
        )


