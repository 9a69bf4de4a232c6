"""Maintained Bloom-filter sidecar for
:class:`~modal_vector_db_spark.engine.VectorDB` (mixin) — the standing
cross-corpus membership artifact ``incremental_dedup`` reads instead of
rebuilding a filter per run.  Split out of ``engine.py`` for review cost
only — every method runs as ``VectorDB``; no behavior lives in the
split.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modal_vector_db_spark.sources import catalog


class BloomFilterMixin:
    """Maintained Bloom filter machinery (see module docstring)."""

    # -- maintained Bloom filter (cross-corpus membership sidecar) ----------
    #
    # The both-sides-huge membership primitive (operators/bloom.py) made a
    # MAINTAINED table artifact: the word table persists as a `<name>__bloom`
    # derived table (same backend as the base — manifest-logged on versioned
    # tables), and every insert path appends the batch's delta words, so
    # `incremental_dedup`'s third regime (a crawl increment vs a 1 B-key
    # accepted corpus) reads a standing filter instead of rebuilding one
    # pass over the corpus per run.  Deltas are APPEND-ONLY; readers fold
    # them with bit_or (`bloom_merge` — the pinned union property), so no
    # writer ever rewrites the word table.
    #
    # Consistency contract — SUPERSET, not exact (this is why no ledger is
    # needed, unlike __text): the filter must contain AT LEAST every
    # live key; extra bits only raise the false-positive rate and every
    # false positive dies in `bloom_admit`'s exact verify.  Maintenance
    # rules that keep the invariant:
    #   * insert syncs append delta words BEFORE the base commit (plain
    #     path) / before the CAS attempt (versioned) — a crash or lost race
    #     leaves extra bits, never missing ones; replays re-append the same
    #     words, idempotent under the bit_or fold;
    #   * update() appends the PATCHED rows' keys before its commit (an
    #     update re-keys content ids and may change field values);
    #   * delete()/rewrite leave the filter a stale superset (documented fp
    #     drift; rebuild with create_bloom_filter() to reclaim);
    #   * rollback() and load_from_parquet() DROP it (a restored older
    #     version / replaced corpus can hold keys the filter never saw —
    #     the one way false negatives could enter; rebuild-loudly).
    def _bloom_meta_path(self) -> str:
        return catalog.db_path(self.name + "__bloom", self.warehouse) + "__meta.json"

    def _read_bloom_meta(self) -> dict | None:
        try:
            with open(self._bloom_meta_path()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return None

    def _bloom_key(self, df: DataFrame, meta: dict):
        """The filter's key column over an items-shaped frame: the content
        id (field=None) or a metadata JSON field value, aliased ``_bk``."""
        from modal_vector_db_spark.operators.filters import json_path

        field = meta.get("field")
        col = json_path("metadata", field) if field else F.col("id")
        return df.select(col.alias("_bk"))

    def create_bloom_filter(
        self,
        field: str | None = None,
        *,
        fpp: float = 0.01,
        expected_items: int | None = None,
        num_bits: int | None = None,
        num_hashes: int | None = None,
        seed: int = 0,
    ) -> int:
        """(Re)build the maintained Bloom filter over the current rows and
        persist it as the ``__bloom`` derived table + a config sidecar.
        ``field=None`` keys on the content id (the S5 idempotent-insert
        key); a ``field`` keys on that metadata JSON path's value.  Sized
        from ``expected_items``/``fpp`` (default: the table's O(metadata)
        ``num_rows`` — pass the PROJECTED corpus size when pre-sizing for
        growth, bits are fixed at creation) unless ``num_bits``/
        ``num_hashes`` pin it.  Calling again is the rebuild that reclaims
        false-positive drift after deletes.  Returns ``num_bits``."""
        from modal_vector_db_spark.operators import bloom as B

        if num_bits is None and num_hashes is None:
            n = expected_items if expected_items is not None else max(1, self.num_rows())
            num_bits, num_hashes = B.bloom_params(n, fpp)
        elif (num_bits is None) != (num_hashes is None):
            raise ValueError("pass BOTH num_bits and num_hashes, or neither")
        meta = {
            "field": field,
            "num_bits": int(num_bits),
            "num_hashes": int(num_hashes),
            "seed": int(seed),
        }
        words = B.bloom_build(
            self._bloom_key(self.items(), meta)
            if self._cat.table_exists(self.name, self.warehouse)
            else catalog.local_frame(self.spark, [], "_bk string"),
            ["_bk"],
            meta["num_bits"],
            meta["num_hashes"],
            meta["seed"],
        )
        self._cat.overwrite(
            words, self.name + "__bloom", self.warehouse,
            **self._index_write_kwargs,
        )
        # sidecar LAST: a crash before this line leaves word rows with no
        # config — invisible (every read path requires the sidecar)
        self._atomic_json_write(self._bloom_meta_path(), meta)
        return int(num_bits)

    def _drop_bloom_filter(self) -> None:
        self._cat.drop_table(self.name + "__bloom", self.warehouse)
        try:
            os.remove(self._bloom_meta_path())
        except FileNotFoundError:
            pass

    def _sync_bloom_for_append(self, batch: DataFrame) -> None:
        """Append the batch's delta words — called BEFORE the base commit
        on every insert/update path (see the section comment: crashes and
        lost races leave extra bits, which the superset contract absorbs).
        No-op without a filter."""
        meta = self._read_bloom_meta()
        if meta is None:
            return
        from modal_vector_db_spark.operators import bloom as B

        words = B.bloom_build(
            self._bloom_key(batch, meta), ["_bk"],
            meta["num_bits"], meta["num_hashes"], meta["seed"],
        )
        self._cat.append(
            words, self.name + "__bloom", self.warehouse,
            **self._index_write_kwargs,
        )

    def bloom_words(self) -> DataFrame:
        """The filter's folded word table (word_idx, word) — the appended
        deltas bit_or-combined, row-identical to a fresh ``bloom_build``
        over every key ever synced (the ``bloom_merge`` union property,
        pinned end-to-end in tests/test_engine_bloom.py)."""
        from modal_vector_db_spark.operators import bloom as B

        if self._read_bloom_meta() is None:
            raise ValueError(
                f"no bloom filter for table {self.name!r}: call "
                "create_bloom_filter() first"
            )
        if not self._cat.table_exists(self.name + "__bloom", self.warehouse):
            return catalog.local_frame(self.spark, [], "word_idx long, word long")
        return B.bloom_merge(
            self._cat.read_table(self.spark, self.name + "__bloom", self.warehouse)
        )

    def bloom_admit(self, batch: DataFrame, value_col: str) -> DataFrame:
        """EXACT anti-membership of ``batch`` against the corpus keys via
        the maintained filter — the admission gate of an incremental
        ingest: rows whose ``value_col`` is PROVABLY unseen pass with zero
        shuffle and zero corpus scan; only Bloom candidates (true matches
        + ~fpp false positives) verify against the column-pruned corpus
        key set.  Byte-identical to the plain left-anti join against the
        corpus (false positives die in the verify; false negatives cannot
        exist under the superset contract)."""
        from modal_vector_db_spark.operators import bloom as B

        meta = self._read_bloom_meta()
        if meta is None:
            raise ValueError(
                f"no bloom filter for table {self.name!r}: call "
                "create_bloom_filter() first"
            )
        clash = [c for c in batch.columns if c == "_bk" or c.startswith("_bf_")
                 or c == "_bloom_hit"]
        if clash:
            raise ValueError(f"bloom_admit: reserved columns in batch: {clash}")
        words = self.bloom_words()
        # corpus keys are STRINGS (content ids / JSON-extracted values) —
        # cast the probe key so both sides hash identical bytes
        probe = batch.withColumn("_bk", F.col(value_col).cast("string"))
        flagged = B.bloom_might_contain(
            probe, words, ["_bk"],
            meta["num_bits"], meta["num_hashes"], meta["seed"],
        )
        sure = flagged.filter(~F.col("_bloom_hit")).drop("_bloom_hit", "_bk")
        cand = flagged.filter(F.col("_bloom_hit")).drop("_bloom_hit")
        corpus_keys = (
            self._bloom_key(self.items(), meta).distinct()
            if self._cat.table_exists(self.name, self.warehouse)
            else catalog.local_frame(self.spark, [], "_bk string")
        )
        return sure.unionByName(
            cand.join(corpus_keys, "_bk", "left_anti").drop("_bk")
        )
