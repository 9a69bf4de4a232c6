"""Product quantization (PQ) — the memory-bound ANN scale path.

IVF (`operators/ann.py`) prunes WHICH vectors a query scans; PQ shrinks
WHAT each scanned vector costs: split the d-dim vector into ``m``
subvectors, vector-quantize each against a per-subspace codebook of
``ksub`` centroids, and store only the ``m`` code bytes — 64-dim float32
embeddings (256 B) become 8 B at m=8, a 32× compression.  Query-time
scoring is ADC (asymmetric distance computation): ONE (m × ksub) lookup
table of exact query-to-centroid squared distances, then each stored code
scores with m table lookups — no decode, no float math per dimension.

The classic recipe (Jégou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search", IEEE TPAMI 2011), re-expressed for Spark:

- **train** on a seeded driver-side SAMPLE (codebooks are statistics; the
  standard practice at corpus scale — 100 TB of vectors never flows
  through the fit), per-subspace Lloyd iterations in numpy;
- **encode** distributed: Arrow-batched pandas UDF, codebooks shipped in
  the closure (m·ksub·dsub floats — KBs, always broadcastable);
- **score** distributed: the LUT is computed once driver-side per query
  and shipped in the closure; the corpus scan reads ONLY the code column
  (column pruning does the 32× I/O win);
- **refine**: exact re-rank of the top ``k·refine_factor`` ADC candidates
  against the original vectors (a semi-join-sized read), the standard
  two-stage recall fix.

Reference parity note: the reference's index surface is an opt-in DuckDB
HNSW (duckvdb.py:37-41); PQ is part of this repo's scale extension, the
compressed-scan complement to the IVF layout.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modal_vector_db_spark.sources.catalog import local_frame

#: rows :meth:`PQIndex.train` fits its codebooks on
_TRAIN_SAMPLE_ROWS = 4096


def _lloyd(x: np.ndarray, k: int, iters: int, rng: np.random.Generator) -> np.ndarray:
    """Deterministic Lloyd k-means on (n, d) rows; returns (k, d) centroids.
    Plain sampling init + empty-cluster reseeding — codebook training on a
    few thousand sample rows doesn't need kmeans++ to converge well."""
    n = x.shape[0]
    cents = x[rng.choice(n, size=min(k, n), replace=False)].astype(np.float64)
    if cents.shape[0] < k:  # degenerate tiny sample: pad with repeats
        cents = np.vstack([cents, cents[rng.integers(0, cents.shape[0], k - cents.shape[0])]])
    for _ in range(iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                cents[j] = x[mask].mean(axis=0)
            else:
                cents[j] = x[rng.integers(0, n)]
    return cents


class PQIndex:
    """Trained product quantizer: ``codebooks`` is (m, ksub, dsub)."""

    def __init__(self, codebooks: np.ndarray) -> None:
        cb = np.asarray(codebooks, dtype=np.float64)
        if cb.ndim != 3:
            raise ValueError(f"codebooks must be (m, ksub, dsub); got shape {cb.shape}")
        self.codebooks = cb
        self.m, self.ksub, self.dsub = cb.shape
        self.dim = self.m * self.dsub

    # -- train -------------------------------------------------------------
    @classmethod
    def train(
        cls,
        df: DataFrame,
        vec_col: str = "embedding",
        m: int = 8,
    ) -> "PQIndex":
        """Fit per-subspace codebooks (16 centroids each, 20 Lloyd
        iterations, seed 42) on a seeded, LAYOUT-INDEPENDENT
        sample: rows are admitted by a content hash of the vector itself
        (``pmod(xxhash64(vec, seed))``), so the same corpus yields the
        same sample — hence the same codebooks — regardless of partition
        layout.  (The previous ``sample().limit()`` took whatever rows the
        first partitions offered: compaction or repartition changed the
        codebooks under the same seed, and ordered data trained on a
        prefix-biased sample — review finding.)  The driver transfer stays
        bounded: the hash admits ~1.2× ``_TRAIN_SAMPLE_ROWS`` in
        expectation and a deterministic hash-ordered truncation caps the
        exact count."""
        sample_rows, seed = _TRAIN_SAMPLE_ROWS, 42
        total = df.count()
        frac = min(1.0, (sample_rows * 1.2) / max(total, 1))
        # 2^31 hash buckets: at 1e6 buckets the admitted fraction floored
        # to ZERO once total > 1.2M x sample_rows (empty sample, opaque
        # downstream dim error — review finding) and was coarse near the
        # floor; the max(1, ...) clamp guarantees >=1 admitted bucket
        mod = 2**31
        hb = F.pmod(F.xxhash64(F.col(vec_col), F.lit(int(seed))), F.lit(mod))
        sample = (
            df.filter(F.col(vec_col).isNotNull())  # NULL vectors can't train
            .select(F.col(vec_col).alias("_v"), hb.alias("_hb"))
            .filter(F.col("_hb") < max(1, int(frac * mod)))
            .collect()
        )
        sample = [r for r in sorted(sample, key=lambda r: (r["_hb"], tuple(r["_v"])))][
            :sample_rows
        ]
        if not sample:
            raise ValueError(
                "PQIndex.train: the hash-admission sample came back empty — "
                "the table has no non-NULL vectors to train on"
            )
        x = np.asarray([r["_v"] for r in sample], dtype=np.float64)
        if x.ndim != 2 or x.shape[1] % m:
            raise ValueError(f"dim {x.shape} not divisible into {m} subspaces")
        dsub = x.shape[1] // m
        rng = np.random.default_rng(seed)
        books = np.stack(
            [_lloyd(x[:, j * dsub : (j + 1) * dsub], 16, 20, rng) for j in range(m)]
        )
        return cls(books)

    # -- encode (distributed) ---------------------------------------------
    def encode(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """Add ``pq_code`` (array<smallint>, length m): nearest-centroid id
        per subspace.  Arrow-batched; each batch is one (batch, ksub, dsub)
        broadcasted-numpy argmin per subspace — no Python per-row work."""
        books = self.codebooks
        m, dsub = self.m, self.dsub

        @F.pandas_udf("array<smallint>")
        def _enc(vecs: pd.Series) -> pd.Series:
            # NULL embeddings -> NULL codes (the native-expression NULL
            # policy; one bad row must never fail an ingest batch)
            valid = vecs.notna()
            out = [None] * len(vecs)
            if valid.any():
                x = np.asarray(list(vecs[valid]), dtype=np.float64)
                codes = np.empty((x.shape[0], m), dtype=np.int16)
                for j in range(m):
                    sub = x[:, j * dsub : (j + 1) * dsub]
                    d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                    codes[:, j] = d2.argmin(axis=1)
                for pos, row in zip(np.nonzero(valid.to_numpy())[0], codes):
                    out[pos] = row
            return pd.Series(out)

        return df.withColumn("pq_code", _enc(F.col(vec_col)))

    # -- score + search ----------------------------------------------------
    def lut(self, query_vec: Sequence[float]) -> np.ndarray:
        """(m, ksub) table of exact squared distances from the query's j-th
        subvector to every centroid of codebook j — computed ONCE per query."""
        q = np.asarray(query_vec, dtype=np.float64)
        if q.shape != (self.dim,):
            raise ValueError(f"query dim {q.shape} != index dim {self.dim}")
        return np.stack(
            [
                ((self.codebooks[j] - q[j * self.dsub : (j + 1) * self.dsub]) ** 2).sum(axis=1)
                for j in range(self.m)
            ]
        )

    def adc_scores(self, codes_df: DataFrame, query_vec: Sequence[float]) -> DataFrame:
        """Approximate squared-L2 distance per row via LUT gather — the scan
        reads only the ``pq_code`` column (verify ReadSchema in the plan)."""
        table = self.lut(query_vec)
        m = self.m

        @F.pandas_udf("double")
        def _adc(codes: pd.Series) -> pd.Series:
            # NULL codes -> NULL distance (ranked last by asc_nulls_last,
            # like the native cosine path's NULL convention)
            valid = codes.notna()
            out = np.full(len(codes), np.nan)
            if valid.any():
                c = np.asarray(list(codes[valid]), dtype=np.int64)
                out[valid.to_numpy()] = table[np.arange(m), c].sum(axis=1)
            return pd.Series(out)

        return codes_df.withColumn("adc_distance", _adc(F.col("pq_code")))

    def topk(
        self,
        codes_df: DataFrame,
        query_vec: Sequence[float],
        k: int = 10,
        refine_df: DataFrame | None = None,
        refine_factor: int = 4,
    ) -> DataFrame:
        """Two-stage search: ADC top ``k·refine_factor`` candidates (bounded
        TakeOrderedAndProject over the compressed (vec_id, pq_code) scan),
        then — when ``refine_df`` (vec_id → embedding) is supplied — exact
        squared-L2 re-rank of just those candidates.  The refine read is candidate-
        sized: a broadcast semi-join against ≤ k·refine_factor ids."""
        from modal_vector_db_spark.functions.distance import sq_l2_distance, vector_lit

        id_col = "vec_id"
        cand = (
            self.adc_scores(codes_df, query_vec)
            .select(id_col, "adc_distance")
            .orderBy(F.col("adc_distance").asc_nulls_last(), F.col(id_col).asc())
            .limit(k * refine_factor if refine_df is not None else k)
        )
        if refine_df is None:
            return cand.withColumnRenamed("adc_distance", "distance")
        exact = refine_df.join(
            F.broadcast(cand.select(id_col)), on=id_col, how="left_semi"
        ).select(
            id_col,
            sq_l2_distance(F.col("embedding"), vector_lit(query_vec)).alias("distance"),
        )
        return exact.orderBy(F.col("distance").asc_nulls_last(), F.col(id_col).asc()).limit(k)

    # -- persistence -------------------------------------------------------
    def save(self, path: str, spark: SparkSession) -> None:
        rows = [
            (j, i, [float(v) for v in self.codebooks[j, i]])
            for j in range(self.m)
            for i in range(self.ksub)
        ]
        local_frame(spark, rows, "subspace int, code int, centroid array<double>").write.mode(
            "overwrite"
        ).parquet(path)

    @classmethod
    def load(cls, path: str, spark: SparkSession) -> "PQIndex":
        """Read the codebook table on the driver with pyarrow — zero Spark
        jobs (it is read on every compressed query and every PQ sync)."""
        import pyarrow.parquet as pq

        t = pq.read_table(path)
        sub = t.column("subspace").to_numpy()
        code = t.column("code").to_numpy()
        m = int(sub.max()) + 1
        ksub = int(code.max()) + 1
        if t.num_rows != m * ksub:
            # np.empty slots for absent (subspace, code) rows would hold
            # uninitialized-memory garbage centroids and quantize
            # SILENTLY wrong (review finding: torn/hand-edited codebook
            # parquet) — fail loudly instead
            raise ValueError(
                f"PQ codebook at {path!r} is incomplete: {t.num_rows} rows "
                f"for an inferred {m}x{ksub} grid — rebuild the index"
            )
        flat = t.column("centroid").combine_chunks().flatten().to_numpy()
        books = np.empty((m, ksub, len(flat) // t.num_rows))
        books[sub, code] = flat.reshape(t.num_rows, -1)
        return cls(books)
