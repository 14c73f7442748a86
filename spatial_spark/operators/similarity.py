"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k, pure Column math (F.aggregate/zip_with —
JVM-side, no Python).  Scale path: IVF (coarse k-means partitions, probe the
nearest cells) — the index build is a tiny driver-side k-means on a sample,
assignment/search are distributed column math.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine_to_probe(vec_col, probe: list):
    """Cosine similarity column against a literal probe vector."""
    p = F.array(*[F.lit(float(v)) for v in probe])
    pn = float(np.sqrt(np.dot(probe, probe)))
    return _dot(F.col(vec_col) if isinstance(vec_col, str) else vec_col, p) \
        / (_norm(vec_col if not isinstance(vec_col, str) else F.col(vec_col)) * F.lit(pn))


def knn_cosine(df: DataFrame, probe: list, k: int = 10,
               vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Brute-force cosine top-k — the exact baseline.  orderBy+limit lets
    Spark run a per-partition TakeOrdered (no full sort shuffle)."""
    return (df
            .withColumn("cosine", F.round(cosine_to_probe(vec_col, probe), 6))
            .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k)
            .select(id_col, "cosine"))


class IVFIndex:
    """Inverted-file ANN index: coarse centroids + cell assignment.

    Build: k-means on a driver-side sample (deterministic seed) — at 100 TB
    the sample is still tiny (centroids << data).  The assignment table is
    written partitioned by cell so a probe reads only nprobe cells."""

    def __init__(self, centroids: np.ndarray):
        self.centroids = centroids

    @staticmethod
    def build(df: DataFrame, n_cells: int = 16, vec_col: str = "embedding",
              sample: int = 10000, iters: int = 10, seed: int = 42) -> "IVFIndex":
        vecs = np.vstack(
            df.select(vec_col).limit(sample).toPandas()[vec_col].to_numpy())
        rng = np.random.RandomState(seed)
        cent = vecs[rng.choice(len(vecs), size=min(n_cells, len(vecs)), replace=False)]
        for _ in range(iters):
            d = ((vecs[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d.argmin(1)
            for c in range(len(cent)):
                m = vecs[assign == c]
                if len(m):
                    cent[c] = m.mean(0)
        return IVFIndex(cent)

    def assign(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        cent = self.centroids

        @F.pandas_udf(T.IntegerType())
        def cell(vecs: pd.Series) -> pd.Series:
            m = np.vstack(vecs.to_numpy())
            d = ((m[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            return pd.Series(d.argmin(1).astype(np.int32))

        return df.withColumn("ivf_cell", cell(F.col(vec_col)))

    def search(self, assigned: DataFrame, probe: list, k: int = 10,
               nprobe: int = 4, vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
        """Top-k among the nprobe nearest cells (approximate; recall grows
        with nprobe).  The cell filter prunes partitions before any vector
        math runs (on a write_assigned store it prunes FILES: ivf_cell is
        the physical partition column, so non-probed cells are never read)."""
        p = np.asarray(probe, dtype=np.float64)
        d = ((self.centroids - p[None, :]) ** 2).sum(1)
        cells = [int(c) for c in np.argsort(d)[:nprobe]]
        return knn_cosine(assigned.filter(F.col("ivf_cell").isin(cells)),
                          probe, k, vec_col, id_col)

    def write_assigned(self, df: DataFrame, path: str,
                       vec_col: str = "embedding") -> str:
        """Assign cells and persist partitioned BY ivf_cell — the scale
        shape: a probe's isin(cells) filter becomes a Parquet partition
        filter, so search reads nprobe directories instead of the whole
        table (the file-level analogue of the reference's index-node
        pruning)."""
        (self.assign(df, vec_col)
         .write.mode("overwrite").partitionBy("ivf_cell").parquet(path))
        return path

    @staticmethod
    def read_assigned(spark, path: str) -> DataFrame:
        """Read a write_assigned store; pass the result to search."""
        return spark.read.parquet(path)


# -------------------------------------------------------- int8 quantized ANN
def quantize_embeddings(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization (the memory-bound scale
    lever: a 100 TB float32 embedding table becomes ~25 TB and the
    candidate scan touches a quarter of the bytes).  Adds:

      * ``q``  — array<int> with values in [-127, 127],
        round(v * 127 / max|v|),
      * ``q_scale`` — max|v| / 127 (dequant multiplier; 0 for the
        all-zero vector, whose ``q`` is all zeros).

    Pure Column math (transform/aggregate — JVM-side), deterministic."""
    vc = F.col(vec_col)
    mx = F.aggregate(F.transform(vc, lambda x: F.abs(x)),
                     F.lit(0.0), lambda acc, v: F.greatest(acc, v))
    df = df.withColumn("_mx", mx)
    q = F.when(F.col("_mx") == 0.0,
               F.transform(vc, lambda x: F.lit(0))) \
         .otherwise(F.transform(
             vc, lambda x: F.round(x * 127.0 / F.col("_mx"))
             .cast("int")))
    return (df.withColumn("q", q)
            .withColumn("q_scale", F.col("_mx") / 127.0)
            .drop("_mx"))


def knn_cosine_q8(df: DataFrame, probe: list, k: int = 10,
                  rescore: int = 4, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Quantized-scan + exact-rescore cosine top-k: candidates are the
    top ``k * rescore`` rows by INT8 cosine (integer dot products over
    the 4x-smaller quantized column — the part that scans the corpus),
    and only those candidates get the exact float cosine, whose top-k
    is returned (same output schema/rounding as ``knn_cosine``).

    The approximation only affects which rows REACH the rescore:
    whenever the true top-k survives the candidate cut (int8 cosine
    error is ~1/127 per component; recall-vs-rescore is pinned in
    tests), the result EQUALS the brute-force baseline."""
    p = np.asarray(probe, dtype=np.float64)
    mx = float(np.abs(p).max())
    qp = (np.round(p * 127.0 / mx).astype(int) if mx > 0
          else np.zeros(len(p), dtype=int))
    qp_lit = F.array(*[F.lit(int(v)) for v in qp])
    qp_norm = float(np.sqrt((qp.astype(np.float64) ** 2).sum())) or 1.0
    qdf = quantize_embeddings(df, vec_col)
    qdot = F.aggregate(
        F.zip_with("q", qp_lit, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"), lambda acc, v: acc + v).cast("double")
    qnorm = F.sqrt(F.aggregate(
        F.transform("q", lambda x: (x * x).cast("long")),
        F.lit(0).cast("long"), lambda acc, v: acc + v).cast("double"))
    cand = (qdf.withColumn(
                "q_cosine",
                qdot / (F.greatest(qnorm, F.lit(1e-12)) * F.lit(qp_norm)))
            .orderBy(F.col("q_cosine").desc(), F.col(id_col).asc())
            .limit(k * rescore))
    exact = F.when(_norm(F.col(vec_col)) == 0.0, F.lit(-1.0)) \
        .otherwise(cosine_to_probe(vec_col, probe))
    return (cand
            .withColumn("cosine", F.round(exact, 6))
            .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k)
            .select(id_col, "cosine"))


# ------------------------------------------------- product quantization
def pq_train(df: DataFrame, m: int = 4, k: int = 16, iters: int = 0,
             vec_col: str = "embedding", id_col: str = "vec_id") -> np.ndarray:
    """Train PQ codebooks (m subspaces x k codewords): the memory lever
    BELOW int8 — a dim-D float32 vector becomes m bytes (64-dim -> 4
    bytes at m=4, a 64x compression), and the scan becomes table
    lookups (ADC), never touching the vectors.

    iters=0 (deterministic init-only: codewords = the k lowest-id
    vectors' sub-slices) is the oracle-replayable mode the gate uses;
    iters>0 refines each subspace with the same deterministic Lloyd
    rule as operators/cluster.kmeans (init = k lowest ids, argmin ties
    to the lowest code, empty codes keep their previous word).
    Returns (m, k, dim//m) float64 — small, meant for broadcast."""
    dim = len(df.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"PQ: dim {dim} not divisible by m={m}")
    sub = dim // m
    init_rows = (df.orderBy(id_col).limit(k).select(vec_col).collect())
    if len(init_rows) < k:
        raise ValueError(f"PQ: need >= {k} rows, got {len(init_rows)}")
    books = np.array([r[0] for r in init_rows],
                     dtype=np.float64).reshape(k, m, sub) \
        .transpose(1, 0, 2).copy()                  # (m, k, sub)
    for _ in range(iters):
        sums = np.zeros((m, k, sub))
        counts = np.zeros((m, k), dtype=np.int64)
        agg = _pq_assign_agg(df, books, vec_col)
        for j, c, n, s in agg:
            counts[j, c] = n
            sums[j, c] = s
        for j in range(m):
            for c in range(k):
                if counts[j, c]:
                    books[j, c] = sums[j, c] / counts[j, c]
    return books


def _pq_assign_agg(df: DataFrame, books: np.ndarray, vec_col: str):
    """One Lloyd step's sufficient statistics, computed distributed:
    per (subspace, code): count + sub-vector sum.  The shuffle carries
    m*k rows of `sub` doubles — never vectors."""
    m, k, sub = books.shape
    enc = pq_encode(df.select(vec_col), books, vec_col=vec_col,
                    codes_col="_pq")
    rows = []
    for j in range(m):
        sums = [F.sum(F.col(vec_col).getItem(j * sub + t).cast("double"))
                .alias(f"s{t}") for t in range(sub)]
        agg = (enc.groupBy(F.col("_pq").getItem(j).alias("c"))
               .agg(F.count(F.lit(1)).alias("n"), *sums).collect())
        for r in agg:
            rows.append((j, r["c"], r["n"],
                         np.array([r[f"s{t}"] for t in range(sub)])))
    return rows


def pq_encode(df: DataFrame, books: np.ndarray, vec_col: str = "embedding",
              codes_col: str = "pq_codes") -> DataFrame:
    """Add the m-byte PQ code array: per subspace, the L2-nearest
    codeword's index (ties to the lowest index).  Map-only; the
    codebooks broadcast inside the Arrow closure; distances are
    elementwise float64 Σ(v−c)² in index order — the exact arithmetic
    the SQL oracle replays."""
    import pandas as pd
    from pyspark.sql import types as T
    from collections.abc import Iterator
    m, k, sub = books.shape
    bks = books.copy()
    out_schema = T.StructType(list(df.schema.fields)
                              + [T.StructField(codes_col,
                                               T.ArrayType(T.IntegerType()))])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.zeros((len(pdf), m), dtype=np.int32)
            for j in range(m):
                xs = x[:, j * sub:(j + 1) * sub]
                d = ((xs[:, None, :] - bks[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            yield pdf.assign(**{codes_col: list(codes.tolist())})

    return df.mapInPandas(run, out_schema)


def pq_topk(df: DataFrame, books: np.ndarray, probe: list, topk: int = 10,
            rescore: int = 4, vec_col: str = "embedding",
            id_col: str = "vec_id") -> DataFrame:
    """ADC top-k: the probe builds an (m x k) distance table once; each
    row's approximate L2² is m table lookups over its PQ codes (the
    corpus scan never touches vectors), candidates = top
    ``topk*rescore`` by (adc, id), and the exact L2² re-ranks only the
    candidates.  Output (id, adc_dist, exact_dist) — topk rows."""
    m, k, sub = books.shape
    p = np.asarray(probe, dtype=np.float64)
    table = np.zeros((m, k))
    for j in range(m):
        ps = p[j * sub:(j + 1) * sub]
        table[j] = ((ps[None, :] - books[j]) ** 2).sum(axis=1)
    enc = pq_encode(df, books, vec_col=vec_col)
    adc = None
    for j in range(m):
        term = F.element_at(
            F.array(*[F.lit(float(table[j][c])) for c in range(k)]),
            F.col("pq_codes").getItem(j) + 1)
        adc = term if adc is None else adc + term
    cand = (enc.withColumn("adc_dist", adc)
            .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
            .limit(topk * rescore))
    exact = F.aggregate(
        F.zip_with(F.col(vec_col),
                   F.array(*[F.lit(float(v)) for v in p]),
                   lambda x, y: (x.cast("double") - y)
                   * (x.cast("double") - y)),
        F.lit(0.0), lambda acc, v: acc + v)
    return (cand.withColumn("exact_dist", exact)
            .orderBy(F.col("exact_dist").asc(), F.col(id_col).asc())
            .limit(topk)
            .select(id_col, "adc_dist", "exact_dist"))


def ivfpq_topk(df: DataFrame, probe: list, n_cells: int = 8,
               nprobe: int = 4, m: int = 4, k_codes: int = 16,
               topk: int = 10, rescore: int = 4,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """IVF-PQ: the canonical billion-scale ANN layout — coarse cells
    prune the corpus to nprobe partitions, RESIDUALS (v − centroid)
    PQ-encode to m bytes, and the in-cell scan is ADC over a per-cell
    lookup table (the probe's residual differs per cell, so the table
    is (nprobe × m × k) — still tiny, broadcast in the closure).
    Exact-L2² rescore of the top ``topk*rescore`` candidates.

    Scale: on a write_assigned store the cell filter prunes FILES;
    everything after reads m-byte codes, not vectors, until rescore.
    Deterministic given the index (IVFIndex.build's seeded sample
    k-means + init-only PQ on residuals of the k_codes lowest ids)."""
    import pandas as pd
    from pyspark.sql import types as T
    from collections.abc import Iterator

    idx = IVFIndex.build(df, n_cells=n_cells, vec_col=vec_col)
    assigned = idx.assign(df, vec_col)
    cent = idx.centroids
    dim = cent.shape[1]
    if dim % m:
        raise ValueError(f"IVF-PQ: dim {dim} not divisible by m={m}")
    sub = dim // m
    # PQ codebooks over RESIDUALS of the k_codes lowest-id vectors
    seed_rows = (assigned.orderBy(id_col).limit(k_codes)
                 .select(vec_col, "ivf_cell").collect())
    if len(seed_rows) < k_codes:
        raise ValueError("IVF-PQ: not enough rows for the codebook")
    res = np.array([np.asarray(r[0], dtype=np.float64)
                    - cent[r[1]] for r in seed_rows])
    books = res.reshape(k_codes, m, sub).transpose(1, 0, 2).copy()

    p = np.asarray(probe, dtype=np.float64)
    dcell = ((cent - p[None, :]) ** 2).sum(1)
    cells = [int(c) for c in np.argsort(dcell)[:nprobe]]
    # per-cell ADC tables from the probe's per-cell residual
    tables = {}
    for c in cells:
        pr = p - cent[c]
        tables[c] = np.stack([
            ((pr[j * sub:(j + 1) * sub][None, :] - books[j]) ** 2)
            .sum(axis=1) for j in range(m)])

    pruned = assigned.filter(F.col("ivf_cell").isin(cells))
    out_schema = T.StructType([
        T.StructField("_id", assigned.schema[id_col].dataType),
        T.StructField("adc_dist", T.DoubleType()),
    ])

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cellv = pdf["ivf_cell"].to_numpy()
            resid = x - cent[cellv]
            adc = np.zeros(len(pdf))
            for j in range(m):
                rs = resid[:, j * sub:(j + 1) * sub]
                d = ((rs[:, None, :] - books[j][None, :, :]) ** 2) \
                    .sum(axis=2)
                codes = d.argmin(axis=1)
                for c in cells:
                    sel = cellv == c
                    adc[sel] += tables[c][j][codes[sel]]
            yield pd.DataFrame({"_id": pdf[id_col], "adc_dist": adc})

    cand = (pruned.mapInPandas(scan, out_schema)
            .orderBy(F.col("adc_dist").asc(), F.col("_id").asc())
            .limit(topk * rescore)
            .withColumnRenamed("_id", id_col))
    exact = F.aggregate(
        F.zip_with(F.col(vec_col),
                   F.array(*[F.lit(float(v)) for v in p]),
                   lambda x, y: (x.cast("double") - y)
                   * (x.cast("double") - y)),
        F.lit(0.0), lambda acc, v: acc + v)
    return (cand.join(df.select(id_col, vec_col), id_col)
            .withColumn("exact_dist", exact)
            .orderBy(F.col("exact_dist").asc(), F.col(id_col).asc())
            .limit(topk)
            .select(id_col, "adc_dist", "exact_dist"))
