"""Exact covariance / PCA over an embedding column — the Gramian
pattern (MLlib's RowMatrix.computeGramianMatrix re-expressed on the
DataFrame API).

The scale problem: cov(X) needs X^T·X, and the naive relational form
(explode to (vec_id, i, x_i), self-join on vec_id) pushes n·d² rows
through a shuffle — 40 PB of intermediate at 100 TB input.  The right
shape is partial Gram aggregation: each Arrow batch computes its own
d×d product with one BLAS call (`X.T @ X` in the mapInPandas kernel —
dense linear algebra is exactly the "Python is the point" case), and
only UPPER-TRIANGLE PARTIALS — d(d+1)/2 doubles per partition, data-size
independent — cross the wire to a final (i, j) sum.  Mean subtraction
happens after aggregation: cov = (Σxx^T − n·μμ^T)/(n−1), so the kernel
never needs a global pass first.

The eigendecomposition of the resulting d×d matrix is driver-side
numpy — the same k×dim-bounded driver contract as the k-means centroid
and PQ-codebook operators (operators/similarity.py:158).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from results_ingestor_spark.sources.tables import local_relation


def gram_partials(emb: DataFrame, col: str = "embedding",
                  d: int = 64) -> DataFrame:
    """Upper-triangle partial Gram sums per partition:
    (i, j, sij) with i <= j, d(d+1)/2 rows per input partition.
    Follow with groupBy(i, j).sum to get the global Σ x_i·x_j.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        g = np.zeros((d, d))
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf[col].to_list(), dtype=np.float64)
            g += x.T @ x
            seen = True
        if not seen:
            return
        iu = np.triu_indices(d)
        yield pd.DataFrame({"i": iu[0].astype("int32"),
                            "j": iu[1].astype("int32"),
                            "sij": g[iu]})

    return emb.select(col).mapInPandas(kernel, "i int, j int, sij double")


def covariance_upper(emb: DataFrame, col: str = "embedding",
                     d: int = 64) -> DataFrame:
    """Exact sample covariance (i, j, cov) for i <= j.

    One mapInPandas Gram pass + a (i, j)-keyed sum of the partials,
    combined with the per-dimension means (posexplode + hash agg, a
    64-row broadcast).  Rounded at 6 dp — double-sum ordering is the
    only cross-engine wiggle (embedding_dim_stats rule).
    """
    gram = (gram_partials(emb, col, d)
            .groupBy("i", "j").agg(F.sum("sij").alias("sij")))
    m = (emb.select(F.posexplode(col).alias("dim", "v"))
         .groupBy("dim")
         .agg(F.sum(F.col("v").cast("double")).alias("s"),
              F.count("*").alias("n")))
    mi = m.select(F.col("dim").alias("i"), F.col("s").alias("si"),
                  F.col("n").alias("n"))
    mj = m.select(F.col("dim").alias("j"), F.col("s").alias("sj"))
    # floor-snap (r10): sign-free at zero by construction (BIGINT 0
    # rescales to +0.0 in both engines), so the old "+ 0.0"
    # negative-zero collapse is no longer needed; pairs with the
    # snapped oracle twin.
    from results_ingestor_spark.plans import exact
    return (gram.join(F.broadcast(mi), "i").join(F.broadcast(mj), "j")
            .select("i", "j",
                    exact.snap_double_col(
                        (F.col("sij")
                         - F.col("si") * F.col("sj") / F.col("n"))
                        / (F.col("n") - 1), 6)
                    .alias("cov")))


def pca_explained_variance(emb: DataFrame, col: str = "embedding",
                           d: int = 64, k: int = 8) -> DataFrame:
    """Top-k PCA eigenvalues of the exact covariance with explained /
    cumulative variance ratios.  The d×d matrix (d² doubles — codebook
    contract) is the ONLY thing collected; eigendecomposition is
    driver-side numpy.eigh, then the k-row result is re-parallelized.
    """
    import numpy as np
    rows = covariance_upper(emb, col, d).collect()
    c = np.zeros((d, d))
    for r in rows:
        c[r["i"], r["j"]] = r["cov"]
        c[r["j"], r["i"]] = r["cov"]
    w = np.linalg.eigvalsh(c)[::-1]  # descending
    total = float(w.sum())
    out = [(int(i), round(float(w[i]), 6),
            round(float(w[i] / total), 6),
            round(float(w[: i + 1].sum() / total), 6))
           for i in range(k)]
    return local_relation(
        emb.sparkSession, out,
        "component int, eigenvalue double, explained_ratio double, "
        "cumulative_ratio double")


def mahalanobis_scores(emb: DataFrame, id_col: str = "vec_id",
                       col: str = "embedding", d: int = 64,
                       ridge: float = 1e-6) -> DataFrame:
    """Squared Mahalanobis distance (x−μ)'Σ⁻¹(x−μ) per vector — the
    covariance-aware outlier / OOD score (isotropic L2 misranks
    outliers whenever dimensions are correlated, which PCA above shows
    they are).

    Plan shape: the d×d covariance comes from the partial-Gram pass,
    is ridge-regularized and inverted ONCE driver-side (numpy, d×d —
    codebook contract, same as the IVF centroid collect), and the
    inverse ships to executors inside a mapInPandas kernel that scores
    each Arrow batch with two BLAS calls.  Nothing but (id, score)
    leaves the executors.
    """
    import numpy as np

    rows = covariance_upper(emb, col, d).collect()
    c = np.zeros((d, d))
    for r in rows:
        c[r["i"], r["j"]] = r["cov"]
        c[r["j"], r["i"]] = r["cov"]
    inv = np.linalg.inv(c + ridge * np.eye(d))
    m = (emb.select(F.posexplode(col).alias("dim", "v"))
         .groupBy("dim")
         .agg((F.sum(F.col("v").cast("double")) / F.count("*"))
              .alias("mu"))
         .collect())
    mu = np.zeros(d)
    for r in m:
        mu[r["dim"]] = r["mu"]

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf[col].to_list(), dtype=np.float64) - mu
            m2 = np.einsum("ij,jk,ik->i", x, inv, x)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "m2": np.round(m2, 6)})

    return emb.select(id_col, col).mapInPandas(
        kernel, f"{id_col} long, m2 double")
