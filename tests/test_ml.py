"""PCA/KMeans numpy-oracle parity (SURVEY.md §5.2 L1, §7 M5)."""

from __future__ import annotations

import numpy as np

from osm_data_classification_spark.io import load_table
from osm_data_classification_spark.ml import (
    kmeans_fit,
    pca_fit,
    pca_project_df,
)


def _matrix(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    return emb, np.vstack(pdf["embedding"].to_numpy()).astype("float64"), pdf["vec_id"].to_numpy()


def test_pca_suffstats_match_numpy(spark, sf_dir):
    emb, x, _ = _matrix(spark, sf_dir)
    model = pca_fit(emb, vec_col="embedding", q=3)
    assert model["n"] == x.shape[0]
    np.testing.assert_allclose(model["mean"], x.mean(axis=0), rtol=1e-10)
    cov = np.cov(x, rowvar=False)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1][:3]
    np.testing.assert_allclose(model["explained_var"], evals, rtol=1e-8)


def test_pca_components_match_numpy(spark, sf_dir):
    emb, x, _ = _matrix(spark, sf_dir)
    model = pca_fit(emb, vec_col="embedding", q=2)
    cov = np.cov(x, rowvar=False)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:2]
    exp = evecs[:, order].T
    for i in range(2):
        j = int(np.argmax(np.abs(exp[i])))
        if exp[i, j] < 0:
            exp[i] = -exp[i]
    np.testing.assert_allclose(model["components"], exp, atol=1e-8)


def test_pca_projection_and_reconstruction(spark, sf_dir):
    emb, x, vec_ids = _matrix(spark, sf_dir)
    q = 8
    model = pca_fit(emb, vec_col="embedding", q=q)
    out = (
        pca_project_df(emb, model, vec_col="embedding")
        .select("vec_id", "pc")
        .toPandas()
        .sort_values("vec_id")
    )
    pc = np.vstack(out["pc"].to_numpy())
    # projection parity
    exp_pc = (x - model["mean"]) @ model["components"].T
    np.testing.assert_allclose(pc, exp_pc, atol=1e-8)
    # reconstruction error == residual variance of dropped components
    recon = pc @ model["components"] + model["mean"]
    resid = ((x - recon) ** 2).sum() / (x.shape[0] - 1)
    total_var = np.trace(np.cov(x, rowvar=False))
    explained = model["explained_var"].sum()
    np.testing.assert_allclose(resid, total_var - explained, rtol=1e-6)


def test_kmeans_matches_numpy_lloyd(spark, sf_dir):
    emb, x, _ = _matrix(spark, sf_dir)
    k, iters = 5, 8
    model = kmeans_fit(emb, k=k, vec_col="embedding", id_col="vec_id", max_iter=iters)
    centers = x[:k].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)
        new = np.vstack(
            [x[lab == j].mean(axis=0) if (lab == j).any() else centers[j] for j in range(k)]
        )
        if np.max(np.abs(new - centers)) < 1e-12:
            centers = new
            break
        centers = new
    np.testing.assert_allclose(
        np.sort(model["centers"], axis=0), np.sort(centers, axis=0), atol=1e-8
    )
    # inertia parity
    d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    np.testing.assert_allclose(model["inertia"], d.min(axis=1).sum(), rtol=1e-8)


def test_plane_weights_match_duckdb_twin(spark):
    """pca_project_fixed's planes come from ``_planes`` in Spark and
    from ``_plane_w_sql`` in its DuckDB oracle: both must give the same
    weight for every (m, d) of the table."""
    import duckdb

    from osm_data_classification_spark.operators.ml_queries import (
        EMB_DIM,
        _plane_w_sql,
        _planes,
    )

    got = sorted(
        (r["m"], r["d"], r["w"]) for r in _planes(spark).collect()
    )
    want = duckdb.sql(
        f"SELECT m, d, {_plane_w_sql('m', 'd')} AS w"
        f" FROM generate_series(0, 3) AS pm(m),"
        f" generate_series(1, {EMB_DIM}) AS pd(d) ORDER BY m, d"
    ).fetchall()
    assert len(got) == 4 * EMB_DIM
    assert got == [tuple(r) for r in want]
