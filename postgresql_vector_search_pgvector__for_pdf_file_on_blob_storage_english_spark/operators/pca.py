"""PCA-projected vector search: a *learned* low-rank coarse stage for
embeddings that are NOT Matryoshka-trained.

``quant.py::matryoshka_knn`` reads the first ``prefix_dim`` components —
valid only when the embedding model was trained so prefixes are
meaningful (MRL).  For ordinary embeddings (the reference's ada-002
vectors, SURVEY §1.1, are not MRL-trained) the equivalent byte saving
comes from projecting onto the top principal components: PCA is the
rotation that packs the most variance into the fewest dimensions, so an
``out_dim``-dim projected scan preserves neighbor ordering far better
than a blind prefix.  This is FAISS's ``PCAMatrix`` pre-transform
re-expressed for Spark.

Train-vs-apply split (the 100 TB shape, same as
``kmeans.py::kmeans_fit_sampled``): the projection is *fit* driver-side
on a bounded deterministic sample (a 100 TB corpus fits its 64x64
covariance on 10^5 rows), then *applied* corpus-wide as a pure codegen
expression — ``out_dim`` dot products per row, no Python, no shuffle.
Like SQ8 (``quant.py``), the byte saving materializes when the projected
table is PERSISTED (``pca_index_write``): the coarse pass then scans
``out_dim/dim`` of the corpus bytes and the exact rerank re-reads only
the candidate rows via a pushed ``In`` filter.

Recall honesty: how few dimensions survive projection depends entirely
on spectrum decay.  Real text embeddings are strongly anisotropic (a
handful of directions carry most variance), so 64->8 typically holds
top-k order; the synthetic fixtures here are near-ISOTROPIC (top-8
components carry ~20% of variance — measured in tests/test_pca.py), the
worst case for PCA, so the gated configuration is 64->32 with
``oversample=40`` — still a 2x coarse-scan saving with exact recall at
the oracle fixtures.  A production deployment should pick ``out_dim``
from the measured eigenvalue spectrum, not a constant.

Determinism: the sample is the ``train_limit`` lowest-id rows (sorted),
the covariance accumulates in one numpy order, and each eigenvector's
sign is canonicalized (largest-|component| entry made positive), so the
same corpus always yields the same projection on any LAPACK build.
Cross-engine: the eigendecomposition cannot be replayed in DuckDB, so
the registry entry is gated by the EXACT top-k SQL — valid because the
exact rerank recovers the true top-k at the shipped fixtures (recall
floor pinned in tests/test_pca.py), the same contract
``ann_ivf_kmeans_search`` uses (COVERAGE.md).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .index_maint import rerank_pool
from .quant import _approx_then_exact, _approx_then_exact_join


def pca_fit(
    corpus: DataFrame,
    out_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_limit: int = 100_000,
) -> tuple[np.ndarray, np.ndarray]:
    """Fit the projection on a bounded deterministic sample.

    Returns ``(mean (d,), components (out_dim, d))`` — numpy float64.
    The ``collect()`` is bounded at ``train_limit`` rows by construction
    (the FAISS train-vs-add split; see module docstring)."""
    rows = (
        corpus.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(id_col)
        .limit(train_limit)
        .collect()
    )
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    if X.shape[0] < 2:
        raise ValueError(f"pca_fit needs >=2 training rows, got {X.shape[0]}")
    d = X.shape[1]
    if not (1 <= out_dim <= d):
        raise ValueError(f"out_dim must be in [1, {d}], got {out_dim}")
    mu = X.mean(axis=0)
    Xc = X - mu
    cov = (Xc.T @ Xc) / X.shape[0]
    w, V = np.linalg.eigh(cov)  # ascending eigenvalues
    comps = V[:, ::-1][:, :out_dim].T  # (out_dim, d), descending variance
    # Sign canonicalization: eigh's vector signs are arbitrary (and can
    # differ across LAPACK builds); flip so the largest-|x| entry of each
    # component is positive.  L2 in projected space is rotation- and
    # sign-invariant, so this only pins reproducibility.
    for j in range(out_dim):
        i = int(np.argmax(np.abs(comps[j])))
        if comps[j, i] < 0:
            comps[j] = -comps[j]
    return mu, comps


def _sql_double_array(vals: np.ndarray) -> str:
    """A float64 vector as one SQL array literal.  ``repr`` round-trips
    doubles exactly; non-finite values would render as unparseable
    ``infD``/``nanD`` (the ADVICE r12 pq.py lesson), so guard loudly —
    a finite corpus always fits finite components."""
    if not np.all(np.isfinite(np.asarray(vals, dtype=np.float64))):
        raise ValueError("pca projection contains non-finite values")
    return "array(" + ",".join(repr(float(v)) + "D" for v in vals) + ")"


def pca_project_col(
    vec_sql: str, mean: np.ndarray, components: np.ndarray
) -> Column:
    """The fitted projection over the column named/spelled ``vec_sql``:
    ``proj_j = dot(x, comp_j) - dot(mean, comp_j)`` — the mean-centering
    collapses to one precomputed scalar per output dim, so the hot path
    is ``out_dim`` fused dot products over the input array.

    Built as ONE SQL-text expression (a single py4j call carrying a
    nested array literal) rather than ``out_dim`` python-side aggregate
    trees: the old form shipped ~``out_dim * dim`` Literal objects
    through py4j and Catalyst per plan, and that CONSTRUCTION dominated
    the gated query — 5.9-6.9 s per fresh plan at (32, 64) over a
    2000-row corpus vs ~0.8 s for this form, execution unchanged (r13
    opt; the same single-SQL-text fix the PQ ADC path took in r12).
    Arithmetic and fold order are identical to the old per-dim
    aggregates, so the projected floats are bit-identical."""
    m_sql = (
        "array(" + ",".join(_sql_double_array(row) for row in components) + ")"
    )
    offs = _sql_double_array(components @ mean)
    return F.expr(
        f"zip_with(transform({m_sql}, _pcomp -> "
        f"aggregate(zip_with({vec_sql}, _pcomp, (a, b) -> CAST(a AS DOUBLE) * b), "
        f"0.0D, (acc, v) -> acc + v)), {offs}, (_pd, _po) -> _pd - _po)"
    )


def _proj_l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.pow(x - y, F.lit(2.0))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pca_knn(
    corpus: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    out_dim: int = 8,
    oversample: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
    train_limit: int = 100_000,
    fitted: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Two-stage search: coarse L2 over the ``out_dim`` PCA projection,
    exact full-dim rerank (the shared ``quant.py`` tail — both stages
    TakeOrderedAndProject, zero exchanges).  ``query_df`` is a 1-row
    relation with a ``query_vec`` column.  Pass ``fitted`` to reuse a
    projection across calls (the deployed pattern)."""
    mu, comps = fitted if fitted is not None else pca_fit(
        corpus, out_dim=out_dim, vec_col=vec_col, id_col=id_col, train_limit=train_limit
    )
    scored = (
        corpus.crossJoin(F.broadcast(query_df))
        .withColumn("p_corpus", pca_project_col(f"`{vec_col}`", mu, comps))
        .withColumn("p_query", pca_project_col("query_vec", mu, comps))
        .withColumn("pdist", _proj_l2sq(F.col("p_corpus"), F.col("p_query")))
    )
    return _approx_then_exact(
        scored, "pdist", vec_col, "query_vec", id_col, k, oversample, payload_cols
    )


def pca_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    out_dim: int = 8,
    oversample: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    payload_cols: Sequence[str] = (),
    train_limit: int = 100_000,
    fitted: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Batched form: every query is projected once (broadcast side), the
    corpus projection is computed in ONE pass shared by all N queries,
    then the shared broadcast-rerank tail (``_approx_then_exact_join``)."""
    mu, comps = fitted if fitted is not None else pca_fit(
        corpus, out_dim=out_dim, vec_col=vec_col, id_col=id_col, train_limit=train_limit
    )
    q_proj = queries.withColumn(
        "p_query", pca_project_col(f"`{query_vec_col}`", mu, comps)
    )
    scored = (
        corpus.withColumn("p_corpus", pca_project_col(f"`{vec_col}`", mu, comps))
        .crossJoin(F.broadcast(q_proj))
        .withColumn("pdist", _proj_l2sq(F.col("p_corpus"), F.col("p_query")))
    )
    return _approx_then_exact_join(
        corpus, queries, scored, "pdist", k, oversample,
        vec_col=vec_col, id_col=id_col, query_id_col=query_id_col,
        query_vec_col=query_vec_col, payload_cols=payload_cols,
    )


def pca_index_write(
    corpus: DataFrame,
    path: str,
    out_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
    train_limit: int = 100_000,
) -> tuple[np.ndarray, np.ndarray]:
    """Project once and persist ONLY ``(id, payload, proj)`` — the
    ``out_dim/dim``-sized table the coarse stage scans (the float corpus
    is not duplicated; mirrors ``quant.py::sq8_index_write``).  Returns
    the fitted ``(mean, components)`` — the searcher needs them to
    project queries the same way."""
    mu, comps = pca_fit(
        corpus, out_dim=out_dim, vec_col=vec_col, id_col=id_col, train_limit=train_limit
    )
    proj = corpus.withColumn("proj", pca_project_col(f"`{vec_col}`", mu, comps))
    proj.select(id_col, *payload_cols, "proj").write.mode("overwrite").parquet(path)
    return mu, comps


def pca_index_search(
    spark,
    path: str,
    corpus_df: DataFrame,
    query_vec: Sequence[float],
    fitted: tuple[np.ndarray, np.ndarray],
    k: int = 5,
    oversample: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
) -> DataFrame:
    """Two-scan search over the persisted projection.

    1. Coarse: scan the projected table alone (``out_dim/dim`` of the
       corpus bytes), L2 against the projected literal query,
       TakeOrdered to ``k * oversample`` ids.
    2. Rerank: re-read ONLY the candidates from the full corpus via a
       literal ``isin`` (parquet row-group stats prune the rest), exact
       double L2, final top-k.

    The mid-plan ``collect()`` is bounded at ``k * oversample`` rows
    (``index_maint.rerank_pool``, shared with the SQ8 and IVF-PQ
    index searches)."""
    mu, comps = fitted
    qp = comps @ (np.asarray(query_vec, dtype=np.float64) - mu)
    qp_arr = F.array(*[F.lit(float(v)) for v in qp])
    scored = spark.read.parquet(path).withColumn(
        "pdist", _proj_l2sq(F.col("proj"), qp_arr)
    )
    return rerank_pool(
        scored, F.col("pdist"), corpus_df, query_vec, k, oversample,
        vec_col=vec_col, id_col=id_col, payload_cols=payload_cols,
    )
