"""Corpus statistics operators: grouped quantiles and random-projection
dimensionality reduction.

Extensions beyond the reference surface (SURVEY.md §2.8) — the
profiling layer of a training-data pipeline: length/price/score
distributions per slice drive filter thresholds, and projected
embeddings make downstream similarity passes cheaper.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import _as_double, _hyperplanes, _sql_double


def group_quantiles(df: DataFrame, value_col: str,
                    group_cols: list[str] | None = None,
                    probs: list[float] = (0.25, 0.5, 0.75, 0.95),
                    exact: bool = True,
                    accuracy: int = 10_000) -> DataFrame:
    """Per-group quantiles of a numeric column, one output row per
    (group, prob): ``group_cols..., prob, quantile``.

    ``exact=True`` uses Spark's exact ``percentile`` (linear
    interpolation, the same definition as DuckDB ``quantile_cont`` —
    the pytest oracle) — it buffers each group's values, fine for the
    per-slice profiling this exists for. ``exact=False`` switches to
    ``approx_percentile`` (KLL-style mergeable sketch, bounded memory)
    — the 100 TB path when groups are corpus-sized; same output shape,
    rank error <= 1/accuracy.

    Values are rounded to 4 decimals: exact-percentile interpolation
    is the one float step, and rounding absorbs last-ulp association
    differences across engines.
    """
    group_cols = list(group_cols or [])
    plist = list(probs)
    if not plist or not all(0.0 <= p <= 1.0 for p in plist):
        raise ValueError(f"probs must be within [0, 1], got {plist}")
    arr = F.array(*[F.lit(float(p)) for p in plist])
    fn = "percentile" if exact else "approx_percentile"
    extra = "" if exact else f", {int(accuracy)}"
    qs = F.expr(f"{fn}({value_col}, "
                f"array({', '.join(repr(float(p)) for p in plist)})"
                f"{extra})")
    agg = df.groupBy(*group_cols).agg(qs.alias("qs"))
    return (
        agg.select(
            *group_cols,
            F.posexplode(F.arrays_zip(arr.alias("p"), F.col("qs")))
            .alias("_i", "pq"),
        )
        .select(
            *group_cols,
            F.col("pq.p").alias("prob"),
            F.round(F.col("pq.qs"), 4).alias("quantile"),
        )
    )


def random_projection(df: DataFrame, out_dim: int,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      dim: int | None = None,
                      seed: int = 42) -> DataFrame:
    """Johnson-Lindenstrauss random projection: embed vectors into
    ``out_dim`` dimensions via a seeded Gaussian plane matrix (the
    same generator as the LSH hyperplanes, scaled by
    ``1/sqrt(out_dim)`` so expected norms are preserved). Pairwise
    distances distort by at most ~sqrt(ln n / out_dim) w.h.p. — run
    ANN / near-dup / clustering passes on the cheap vectors first,
    re-rank survivors on the originals.

    Deterministic (seeded planes are literals in the plan) and fully
    JVM-side: a narrow per-row projection, zero shuffles. Output:
    ``(id_col, projected array<double>)``.
    """
    if out_dim < 1:
        raise ValueError("out_dim must be >= 1")
    if dim is None:
        probe = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if probe is None:
            raise ValueError("cannot infer dim from an empty DataFrame")
        dim = probe["d"]
    planes = _hyperplanes(dim, out_dim, seed)
    scale = 1.0 / float(out_dim) ** 0.5
    # One parsed SQL expression per output coordinate instead of
    # out_dim x dim F.lit py4j round-trips (r15 — the same device as
    # pca_transform/_cents_lit): the left-associated multiply-add
    # chain matches dot(dim=...) term for term and repr round-trips
    # each double exactly, so projections are bit-identical.
    comp_sqls = [
        "round((%s) * %s, 6)" % (
            " + ".join(f"{_sql_double(x)} * element_at(_v, {i + 1})"
                       for i, x in enumerate(plane)),
            _sql_double(scale),
        )
        for plane in planes
    ]
    return df.select(
        F.col(id_col).alias("_id"),
        _as_double(F.col(vec_col)).alias("_v"),
    ).selectExpr(
        f"_id AS `{id_col}`",
        f"array({', '.join(comp_sqls)}) AS projected",
    )


PCA_EXACT_MAX_DIM = 256


def pca_fit(
    df: DataFrame, k: int = 8, vec_col: str = "embedding",
    dim: int | None = None, method: str = "auto",
) -> tuple[list[float], list[list[float]], list[float]]:
    """Fit PCA over an embedding column via the Gram-matrix
    formulation — the corpus is scanned once and only O(dim^2) values
    ever reach the driver, where numpy's symmetric eigendecomposition
    finishes in microseconds. Two physical strategies:

    - ``method='exact'`` (default for dim <= 128): count + per-dim
      sums + upper-triangle second moments as ONE aggregate of
      DECIMAL(38,18) SUM expressions — exact decimal arithmetic,
      order-independent, so the fitted model is a pure function of
      the data under any partitioning. The plan carries
      dim*(dim+3)/2 aggregate expressions, so it is capped at
      ``PCA_EXACT_MAX_DIM`` (Catalyst analysis cost grows with
      expression count, not data).
    - ``method='gram'`` (default above 128 — real embedding models
      at 256-1024 dims): Arrow-batched ``mapInPandas`` accumulates
      per-partition ``X^T X`` partials with BLAS, reduced by one
      (cell-index, value) shuffle — dim^2 rows total, independent of
      corpus size. Float accumulation: deterministic for a fixed
      partitioning, but partials can differ in final ulps across
      repartitionings (the exact path exists precisely for
      bit-stable fits; at these dims the eigen-spectrum is stable to
      far larger perturbations than an ulp).

    Components are sign-fixed (largest-|entry| coordinate positive).
    Returns (mean, components, explained_variance): ``components`` is
    k rows of dim floats, orthonormal, by descending variance.
    """
    import numpy as np

    if dim is None:
        probe = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if probe is None:
            raise ValueError("cannot fit PCA on an empty DataFrame")
        dim = probe["d"]
    if not 1 <= k <= dim:
        raise ValueError(f"k must be in [1, {dim}], got {k}")
    if method == "auto":
        method = "exact" if dim <= 128 else "gram"
    if method not in ("exact", "gram"):
        raise ValueError(f"method must be auto|exact|gram, got {method}")
    if method == "exact" and dim > PCA_EXACT_MAX_DIM:
        raise ValueError(
            f"method='exact' builds dim*(dim+3)/2 aggregate "
            f"expressions — intractable at dim={dim}; use "
            "method='gram' (or random_projection first)")
    if method == "gram":
        n, mean, cov = _gram_stats(df, vec_col, dim)
    else:
        # Aggregates as SQL expression STRINGS through ONE selectExpr
        # call (r15, guide §1 driver-side plan cost — the same device
        # as kmeans' _cents_lit and minhash's SQL-string aggregates):
        # the previous nested-Column construction made ~5 py4j
        # round-trips per aggregate x dim*(dim+3)/2 aggregates
        # (dim=64: ~10k bridge calls, 20-40 s of pure driver time per
        # fit). The parsed plan is identical — same element_at /
        # multiply / cast(decimal) / sum tree — so fits are
        # bit-for-bit unchanged (exact decimal arithmetic either way).
        dec = "decimal(38,18)"
        exprs = ["count(1) AS _n"]
        exprs += [
            f"sum(cast(element_at(_v, {i + 1}) as {dec})) AS _s{i}"
            for i in range(dim)
        ]
        exprs += [
            f"sum(cast(element_at(_v, {i + 1}) * element_at(_v, {j + 1})"
            f" as {dec})) AS _p{i}_{j}"
            for i in range(dim) for j in range(i, dim)
        ]
        row = df.select(
            _as_double(F.col(vec_col)).alias("_v")).selectExpr(
            *exprs).first()
        n = row["_n"]
        if n < 2:
            raise ValueError("PCA needs at least 2 vectors")
        mean = np.array(
            [float(row[f"_s{i}"]) for i in range(dim)]) / n
        cov = np.zeros((dim, dim))
        for i in range(dim):
            for j in range(i, dim):
                m2 = float(row[f"_p{i}_{j}"]) / n
                cov[i, j] = cov[j, i] = m2 - mean[i] * mean[j]
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    comps = []
    for idx in order:
        c = evecs[:, idx]
        pivot = int(np.argmax(np.abs(c)))
        if c[pivot] < 0:
            c = -c
        comps.append([float(u) for u in c])
    return (
        [float(m) for m in mean],
        comps,
        [float(evals[i]) for i in order],
    )


def _gram_stats(df: DataFrame, vec_col: str, dim: int):
    """(n, mean, covariance) via per-partition BLAS partials: each
    Arrow batch contributes count / column sums / X^T X, partials are
    reduced by one (cell-index, value) aggregate — dim^2 + dim + 1
    rows total regardless of corpus size, then summed on the
    driver."""
    import numpy as np

    from typing import Iterator

    def partial(batches: Iterator["pandas.DataFrame"]):  # noqa: F821
        import numpy as np
        import pandas as pd

        cnt = 0
        s = np.zeros(dim)
        g = np.zeros((dim, dim))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf["v"].to_numpy()).astype("float64")
            cnt += X.shape[0]
            s += X.sum(axis=0)
            g += X.T @ X
        vals = np.concatenate(
            [[float(cnt)], s, g.reshape(-1)])
        yield pd.DataFrame({
            "i": np.arange(len(vals), dtype="int64"), "x": vals})

    cells = (
        df.select(_as_double(F.col(vec_col)).alias("v"))
        .mapInPandas(partial, schema="i long, x double")
        .groupBy("i").agg(F.sum("x").alias("x"))
        .collect()
    )
    vals = np.zeros(1 + dim + dim * dim)
    for r in cells:
        vals[r["i"]] = r["x"]
    n = int(vals[0])
    if n < 2:
        raise ValueError("PCA needs at least 2 vectors")
    mean = vals[1:1 + dim] / n
    g = vals[1 + dim:].reshape(dim, dim) / n
    cov = g - np.outer(mean, mean)
    return n, mean, cov


def pca_transform(
    df: DataFrame, mean: list[float], components: list[list[float]],
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Project vectors onto fitted components: (id_col, projected)
    with projected[c] = components[c] . (x - mean). The mean shift
    folds into a per-component constant, so each output coordinate is
    one literal-array dot — narrow, codegen'd, zero shuffles (the
    same plan shape as random_projection)."""
    dim = len(mean)
    # One parsed SQL expression per output instead of k x dim F.lit
    # py4j calls (r15, same device as pca_fit above): the unrolled
    # left-associated multiply-add chain matches dot(dim=...) term for
    # term, and repr round-trips each double exactly through Spark's
    # SQL double literal, so projections are bit-identical.
    comp_sqls = []
    for c in components:
        if len(c) != dim:
            raise ValueError("component/mean dimensionality mismatch")
        offset = sum(float(ci) * float(mi) for ci, mi in zip(c, mean))
        body = " + ".join(
            f"{_sql_double(ci)} * element_at(_v, {i + 1})"
            for i, ci in enumerate(c))
        comp_sqls.append(f"round(({body}) - {_sql_double(offset)}, 6)")
    return df.select(
        F.col(id_col).alias("_id"),
        _as_double(F.col(vec_col)).alias("_v"),
    ).selectExpr(
        f"_id AS `{id_col}`",
        f"array({', '.join(comp_sqls)}) AS projected",
    )


def pca(
    df: DataFrame, k: int = 8, id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int | None = None,
) -> DataFrame:
    """Fit + transform in one call — the embedding-compression pass a
    pipeline runs before ANN / clustering / SemDeDup to cut the
    vector math by dim/k (re-rank survivors on the originals)."""
    mean, comps, _ = pca_fit(df, k, vec_col, dim)
    return pca_transform(df, mean, comps, id_col, vec_col)
