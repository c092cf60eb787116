"""Grouped quantiles + random projection (ops/stats): DuckDB parity,
approx-vs-exact error bound, JL distance preservation, plan shape."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from brahmand_spark.ops.stats import group_quantiles, random_projection

from .conftest import SF_SMOKE
from .helpers import assert_same


class TestGroupQuantiles:
    def test_duckdb_parity_grouped(self, spark, duck):
        from brahmand_spark.io import read_parquet

        li = read_parquet(spark, f"{SF_SMOKE}/lineitem.parquet")
        got = group_quantiles(li, "l_extendedprice", ["l_returnflag"])
        # quantile_cont only takes CONSTANT fractions in DuckDB ->
        # one SELECT per prob
        per_p = "\n            UNION ALL ".join(
            f"SELECT l_returnflag, CAST({p} AS DOUBLE) AS prob, "
            f"round(quantile_cont(l_extendedprice, {p}), 4) AS quantile "
            f"FROM lineitem GROUP BY l_returnflag"
            for p in (0.25, 0.5, 0.75, 0.95)
        )
        assert_same(got, duck.sql(per_p))

    def test_duckdb_parity_global(self, spark, duck):
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        lens = docs.select(F.length("text").alias("n"))
        got = group_quantiles(lens, "n", probs=[0.0, 0.5, 1.0])
        per_p = "\n            UNION ALL ".join(
            f"SELECT CAST({p} AS DOUBLE) AS prob, "
            f"round(quantile_cont(length(text), {p}), 4) AS quantile "
            f"FROM documents"
            for p in (0.0, 0.5, 1.0)
        )
        assert_same(got, duck.sql(per_p))

    def test_approx_within_rank_error(self, spark):
        """approx_percentile's rank error: the approximate median of
        0..9999 lands within accuracy-driven distance of 5000."""
        df = spark.range(10_000).select(F.col("id").cast("double")
                                        .alias("v"))
        exact = {r["prob"]: r["quantile"]
                 for r in group_quantiles(df, "v").collect()}
        approx = {r["prob"]: r["quantile"]
                  for r in group_quantiles(
                      df, "v", exact=False, accuracy=1000).collect()}
        for p, e in exact.items():
            assert abs(approx[p] - e) <= 10_000 / 1000 + 1

    def test_rejects_bad_probs(self, spark):
        df = spark.range(3).select(F.col("id").alias("v"))
        with pytest.raises(ValueError):
            group_quantiles(df, "v", probs=[1.5])


class TestRandomProjection:
    def test_deterministic_and_shaped(self, spark):
        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        a = random_projection(emb, 8).collect()
        b = random_projection(emb, 8).collect()
        assert sorted(map(repr, a)) == sorted(map(repr, b))
        assert all(len(r["projected"]) == 8 for r in a)

    def test_distances_roughly_preserved(self, spark):
        """JL property: squared-distance ratios between projected and
        original stay within a loose band for out_dim=16 (statistical,
        but deterministic here — fixed data + seeded planes)."""
        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet") \
            .filter(F.col("vec_id") < 40)
        orig = {r["vec_id"]: list(map(float, r["embedding"]))
                for r in emb.collect()}
        proj = {r["vec_id"]: list(r["projected"])
                for r in random_projection(emb, 16).collect()}

        def d2(u, v):
            return sum((x - y) ** 2 for x, y in zip(u, v))

        ids = sorted(orig)[:20]
        ratios = []
        for i in range(0, len(ids) - 1, 2):
            a, b = ids[i], ids[i + 1]
            do, dp = d2(orig[a], orig[b]), d2(proj[a], proj[b])
            if do > 0:
                ratios.append(dp / do)
        mean = sum(ratios) / len(ratios)
        assert 0.6 < mean < 1.4, ratios
        assert all(0.2 < r < 2.5 for r in ratios), ratios

    def test_narrow_plan_no_shuffle(self, spark):
        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        plan = random_projection(emb, 8, dim=emb.selectExpr(
            "size(embedding) d").first()["d"])._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan

    def test_component_matches_manual_dot(self, spark):
        """First projected component == scaled dot with the first
        seeded plane, replayed in plain Python."""
        from brahmand_spark.ops.similarity import _hyperplanes

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet") \
            .filter(F.col("vec_id") == 0)
        row = emb.collect()[0]
        dim = len(row["embedding"])
        planes = _hyperplanes(dim, 8, 42)
        got = random_projection(emb, 8).collect()[0]["projected"][0]
        want = sum(
            float(x) * p for x, p in zip(row["embedding"], planes[0])
        ) / math.sqrt(8)
        assert abs(got - round(want, 6)) < 1e-9

    def test_rejects_bad_dim(self, spark):
        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        with pytest.raises(ValueError):
            random_projection(emb, 0)


@pytest.fixture(scope="module")
def pca8(spark):
    """ONE exact-path fit (k=8) shared by the TestPca assertions —
    fits are deterministic and a k-truncation of the same
    eigendecomposition, so every smaller-k check can read a slice of
    this fit instead of paying the dim*(dim+3)/2-aggregate plan again
    (r15 suite-time: 8 fits -> 4 across the module)."""
    from brahmand_spark.ops.stats import pca_fit

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    return pca_fit(emb, k=8)


class TestPca:
    def _emb(self, spark):
        return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")

    def test_fit_matches_numpy(self, spark, pca8):
        """Mean/covariance/eigenvectors agree with a full-precision
        numpy PCA on the collected vectors."""
        import numpy as np

        emb = self._emb(spark)
        X = np.vstack([
            np.array(r["embedding"], dtype="float64")
            for r in emb.orderBy("vec_id").collect()])
        mean, comps, var = pca8
        comps, var = comps[:6], var[:6]
        assert np.allclose(mean, X.mean(axis=0), atol=1e-9)
        C = np.cov(X, rowvar=False, bias=True)
        evals, evecs = np.linalg.eigh(C)
        order = np.argsort(evals)[::-1][:6]
        assert np.allclose(var, evals[order], atol=1e-9)
        for got, idx in zip(comps, order):
            want = evecs[:, idx]
            piv = int(np.argmax(np.abs(want)))
            if want[piv] < 0:
                want = -want
            assert np.allclose(got, want, atol=1e-7)

    def test_components_orthonormal_and_ordered(self, pca8):
        import numpy as np

        _, comps, var = pca8
        M = np.array(comps)
        assert np.allclose(M @ M.T, np.eye(8), atol=1e-9)
        assert all(a >= b for a, b in zip(var, var[1:]))
        assert var[-1] > 0

    def test_transform_matches_numpy_projection(self, spark, pca8):
        import numpy as np

        from brahmand_spark.ops.stats import pca_transform

        emb = self._emb(spark)
        mean, comps, _ = pca8
        comps = comps[:4]
        got = {r["vec_id"]: list(r["projected"])
               for r in pca_transform(emb, mean, comps).collect()}
        rows = emb.orderBy("vec_id").collect()
        M = np.array(comps)
        mu = np.array(mean)
        for r in rows[:50]:
            x = np.array(r["embedding"], dtype="float64")
            want = M @ x - M @ mu
            assert np.allclose(got[r["vec_id"]], np.round(want, 6),
                               atol=2e-6)

    def test_non_finite_doubles_propagate(self, spark):
        """A NaN / infinite mean or component renders as a SQL cast
        (not ``nanD``, a ParseException) and propagates as NaN; a NaN
        inside an input vector propagates the same way."""
        import math

        from brahmand_spark.ops.stats import pca_transform

        emb = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, [float("nan"), 0.5])],
            "vec_id long, embedding array<double>")
        got = {r["vec_id"]: list(r["projected"]) for r in pca_transform(
            emb, [0.0, 0.0], [[1.0, 0.0], [0.0, 1.0]]).collect()}
        assert got[1] == [1.0, 2.0]
        # each coordinate is a full dot product, so 0 * NaN taints all
        assert all(math.isnan(x) for x in got[2])
        got = [list(r["projected"]) for r in pca_transform(
            emb, [float("nan"), 0.0],
            [[1.0, 0.0], [0.0, float("inf")]]).collect()]
        assert len(got) == 2
        assert all(math.isnan(x) for p in got for x in p)

    def test_sql_double_round_trips_non_finite(self, spark):
        import math

        from brahmand_spark.ops.similarity import _sql_double

        vals = [0.1, -0.0, 1e308, float("inf"), float("-inf")]
        row = spark.sql("SELECT " + ", ".join(
            f"{_sql_double(v)} AS c{i}"
            for i, v in enumerate(vals + [float("nan")]))).first()
        assert list(row)[:-1] == vals
        assert math.isnan(row[-1])

    def test_deterministic_under_repartition(self, spark, pca8):
        from brahmand_spark.ops.stats import pca_fit

        emb = self._emb(spark)
        b = pca_fit(emb.repartition(13), k=8)
        assert pca8 == b

    def test_projection_matches_duckdb_replay(self, spark, duck, pca8):
        """Given the fitted literals, the projection replays in DuckDB
        (list_dot_product minus the folded mean offset)."""
        from brahmand_spark.ops.stats import pca_transform

        emb = self._emb(spark)
        mean, comps, _ = pca8
        comps = comps[:3]
        got = pca_transform(emb, mean, comps).select(
            "vec_id", F.col("projected")[0].alias("p0"),
            F.col("projected")[1].alias("p1"),
            F.col("projected")[2].alias("p2"))
        items = []
        for c in comps:
            arr = "[" + ", ".join(repr(float(x)) for x in c) + "]"
            off = repr(float(sum(ci * mi for ci, mi in zip(c, mean))))
            items.append(
                "round(list_dot_product(embedding::DOUBLE[], "
                f"{arr}::DOUBLE[]) - {off}, 6)")
        sql = (f"SELECT vec_id, {items[0]} AS p0, {items[1]} AS p1, "
               f"{items[2]} AS p2 FROM embeddings")
        assert_same(got, duck.sql(sql))

    def test_transform_plan_is_narrow(self, spark, pca8):
        from brahmand_spark.ops.stats import pca_transform

        emb = self._emb(spark)
        mean, comps, _ = pca8
        plan = pca_transform(emb, mean, comps[:2]) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "EvalPython" not in plan


def test_pca_via_call(tpch):
    from brahmand_spark.ops.stats import pca

    got = tpch.execute(
        "CALL corpus.pca('Embedding', 3) YIELD vec_id, projected "
        "ORDER BY vec_id LIMIT 20").collect()
    want = {r["vec_id"]: list(r["projected"]) for r in pca(
        tpch.tables["Embedding"], k=3).collect()}
    assert len(got) == 20
    for r in got:
        assert list(r["projected"]) == want[r["vec_id"]]


class TestPcaGramPath:
    def test_gram_matches_exact(self, spark, pca8):
        """The BLAS mapInPandas Gram path agrees with the exact
        decimal path to float precision on the 64-dim embeddings."""
        import numpy as np

        from brahmand_spark.ops.stats import pca_fit

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        m_e, c_e, v_e = pca8[0], pca8[1][:4], pca8[2][:4]
        m_g, c_g, v_g = pca_fit(emb, k=4, method="gram")
        assert np.allclose(m_e, m_g, atol=1e-10)
        assert np.allclose(v_e, v_g, atol=1e-9)
        for a, b in zip(c_e, c_g):
            assert np.allclose(a, b, atol=1e-7)

    def test_exact_guard_on_large_dim(self, spark):
        from brahmand_spark.ops.stats import pca_fit

        rows = [(i, [float(i)] * 300) for i in range(4)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="gram"):
            pca_fit(df, k=2, method="exact")

    def test_auto_picks_gram_for_large_dim(self, spark):
        import numpy as np

        from brahmand_spark.ops.stats import pca_fit

        rng = np.random.RandomState(2)
        X = rng.randn(60, 200)
        rows = [(i, [float(x) for x in X[i]]) for i in range(60)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        mean, comps, var = pca_fit(df, k=3)  # auto -> gram at dim 200
        assert np.allclose(mean, X.mean(axis=0), atol=1e-9)
        C = np.cov(X, rowvar=False, bias=True)
        evals = np.sort(np.linalg.eigvalsh(C))[::-1][:3]
        assert np.allclose(var, evals, atol=1e-8)
