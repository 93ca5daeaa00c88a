"""The one nearest-centroid kernel (common.np_nearest) against its DuckDB
twins: k-means' ``_km_assign_sql`` and PQ's ``_pq_assign_sql`` must pick
the same centroid on every row, including exact ties, near-ties inside
one fround6 step and pairs that straddle a fround6 boundary."""

from __future__ import annotations

import numpy as np

from spatial_data_engineering_spark.operators.common import (np_fround6,
                                                             np_nearest)


def _tie_matrix(seed: int = 11, dim: int = 8, n: int = 400):
    """float32 rows and centroids where many rows sit on or next to the
    bisector of centroids 0 and 1; centroid 3 duplicates centroid 0."""
    rng = np.random.RandomState(seed)
    cent = rng.randn(4, dim).astype(np.float32)
    cent[3] = cent[0]
    c0, c1 = cent[0].astype(np.float64), cent[1].astype(np.float64)
    # project random points onto the bisector plane of c0/c1; the float32
    # rounding leaves them within ~1e-7 of it
    u = (c1 - c0) / np.linalg.norm(c1 - c0)
    mid = (c0 + c1) / 2
    p = mid + 0.3 * rng.randn(n, dim)
    p -= ((p - mid) @ u)[:, None] * u[None, :]
    x = np.concatenate([p.astype(np.float32),
                        rng.randn(n // 4, dim).astype(np.float32),
                        cent[:2]])  # rows equal to a centroid
    return x.astype(np.float64), cent.astype(np.float64)


def test_tie_matrix_covers_ties_and_fround6_steps():
    x, cent = _tie_matrix()
    _, d2 = np_nearest(x, cent)
    a, b = np.sort(d2, axis=1)[:, :2].T  # the two smallest per row
    # exact ties (the duplicated centroid), near-ties rounded into one
    # fround6 step, and near-ties that straddle a step boundary
    assert (a == b).sum() > 0
    near = (b - a > 0) & (b - a < 1e-6)
    assert (near & (np_fround6(a) == np_fround6(b))).sum() > 0
    assert (near & (np_fround6(a) != np_fround6(b))).sum() > 0


def test_np_nearest_matches_km_assign_sql():
    import duckdb
    import pandas as pd

    from spatial_data_engineering_spark.operators.clustering import (
        _km_assign_sql)

    x, cent = _tie_matrix()
    cl, _ = np_nearest(x, cent)
    con = duckdb.connect()
    xdf = pd.DataFrame({"vec_id": np.arange(len(x)),
                        "embedding": [r.tolist() for r in x]})
    cdf = pd.DataFrame({"cid": np.arange(len(cent)),
                        "cemb": [r.tolist() for r in cent]})
    con.register("xdf", xdf)
    con.register("cdf", cdf)
    con.execute("CREATE TABLE x AS SELECT vec_id, "
                "CAST(embedding AS FLOAT[]) AS embedding FROM xdf")
    con.execute("CREATE TABLE cent AS SELECT cid, "
                "CAST(cemb AS DOUBLE[]) AS cemb FROM cdf")
    got = dict(con.execute(
        f"WITH {_km_assign_sql('a', 'cent')} SELECT vec_id, cluster FROM a"
    ).fetchall())
    assert got == {i: int(c) for i, c in enumerate(cl)}


def test_np_nearest_matches_pq_assign_sql():
    import duckdb
    import pandas as pd

    from spatial_data_engineering_spark.operators.similarity import (
        _pq_assign_sql)

    x, cent = _tie_matrix()
    half = x.shape[1] // 2
    want = {}
    srows, crows = [], []
    for s in range(2):
        cols = slice(s * half, (s + 1) * half)
        xs, cs = x[:, cols], cent[:, cols]
        for i, c in enumerate(np_nearest(xs, cs)[0]):
            want[(i, s)] = int(c)
        srows += [(i, s, r.tolist()) for i, r in enumerate(xs)]
        crows += [(s, j, r.tolist()) for j, r in enumerate(cs)]
    con = duckdb.connect()
    con.register("sdf", pd.DataFrame(srows, columns=["vec_id", "s", "sv"]))
    con.register("cdf", pd.DataFrame(crows, columns=["s", "cid", "cv"]))
    got = {(v, s): c for v, s, c in con.execute(
        f"WITH {_pq_assign_sql('a', 'sdf', 'cdf')} "
        "SELECT vec_id, s, cid FROM a").fetchall()}
    assert got == want


def _far_ties(dim: int = 8, n: int = 32, seed: int = 3):
    """Two centroids that differ in coordinate 0 only, and rows on their
    bisector (coordinate 0 the exact float32 midpoint): the fold d2 ties
    exactly.  Half the coordinates sit near 2**17 and half near 1, so
    ``|x|^2`` and ``x.c`` need more than a double's 53 bits, and the
    ``|x|^2 - 2x.c + |c|^2`` expansion misses the fold by ~1e-5 —
    several fround6 steps."""
    rng = np.random.RandomState(seed)
    step = np.float32(1 / 32)  # float32 spacing near 2**17 is 1/64
    big = dim // 2
    c0 = rng.randn(dim).astype(np.float32)
    c0[:big] = np.float32(2 ** 17) + step * rng.randint(-50, 50, big)
    c1 = c0.copy()
    c1[0] += 2 * step * 7
    x = rng.randn(n, dim).astype(np.float32)
    x[:, :big] = c0[:big] + step * rng.randint(-40, 40, (n, big))
    x[:, 0] = c0[0] + step * 7
    return np.stack([c0, c1]), x


def test_kmeans_assignment_is_the_fold_not_the_expansion(spark):
    """kmeans_fit's final assignment (max_iter=0: the first k vectors are
    the centroids) must equal the oracle's fold on rows whose fold d2
    ties exactly — where the expansion formula rounds to other fround6
    values and can pick either centroid."""
    from spatial_data_engineering_spark.operators.clustering import kmeans_fit

    cent, x = _far_ties()
    xd, cd = x.astype(np.float64), cent.astype(np.float64)
    fold_cl, fold = np_nearest(xd, cd)
    assert (fold[:, 0] == fold[:, 1]).all() and (fold_cl == 0).all()
    expansion = ((xd * xd).sum(axis=1)[:, None] - 2.0 * (xd @ cd.T)
                 + (cd * cd).sum(axis=1)[None, :])
    assert (np_fround6(expansion) != np_fround6(fold)).any()

    rows = [(i, [float(v) for v in r])
            for i, r in enumerate(np.concatenate([cent, x]))]
    vectors = spark.createDataFrame(rows, "vec_id bigint, embedding "
                                          "array<float>")
    assignments, centroids, hist = kmeans_fit(spark, vectors, k=2,
                                              max_iter=0)
    assert hist == [] and (centroids == cd).all()
    got = {r["id"]: r["cluster"] for r in assignments.collect()}
    assert got == {i: (1 if i == 1 else 0) for i in range(len(rows))}
