"""HITS: numpy golden on a small graph + proportionality to normalized
HITS. PSI: zero on identical distributions, positive and asymmetric on
shifted ones."""

import numpy as np
from pyspark.sql import functions as F

from gridmet_etl_spark.operators.graph import hits


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_hits_matches_numpy_golden(spark):
    pairs = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "c"), ("c", "a")]
    nodes = sorted({x for p in pairs for x in p})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)), dtype=np.int64)
    for s, d in pairs:
        A[idx[s], idx[d]] = 1
    hub = np.ones(len(nodes), dtype=np.int64)
    for _ in range(3):
        auth = A.T @ hub
        hub = A @ auth
    got = {r.node: (r.auth, r.hub) for r in hits(_edges(spark, pairs), iters=3).collect()}
    for n in nodes:
        assert got[n] == (int(auth[idx[n]]), int(hub[idx[n]]))


def test_hits_proportional_to_normalized(spark):
    """Unnormalized fixed-round scores are a global scalar multiple of the
    L1-normalized iteration at every round — ranking-identical."""
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    rows = hits(_edges(spark, pairs), iters=3).collect()
    auths = np.array([float(r.auth) for r in sorted(rows, key=lambda r: r.node)])
    nodes = sorted({x for p in pairs for x in p})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s, d in pairs:
        A[idx[s], idx[d]] = 1.0
    hub = np.ones(len(nodes)) / len(nodes)
    for _ in range(3):
        auth = A.T @ hub
        auth /= auth.sum()
        hub = A @ auth
        hub /= hub.sum()
    np.testing.assert_allclose(auths / auths.sum(), auth, rtol=1e-12)


def test_psi_zero_for_identical_positive_for_shifted(spark):
    from offpath_queries.contract_ext4 import _PSI_BINS, _PSI_W

    def psi(base_vals, cur_vals):
        rows = [("view", float(v)) for v in base_vals] + [
            ("x", float(v)) for v in cur_vals
        ]
        ev = spark.createDataFrame(rows, "event_type string, value double")
        binned = ev.select(
            "event_type",
            F.least(F.floor(F.col("value") / _PSI_W), F.lit(_PSI_BINS - 1)).alias("bin"),
        )
        counts = binned.groupBy("event_type", "bin").count()
        import collections

        c = collections.defaultdict(dict)
        for r in counts.collect():
            c[r.event_type][r.bin] = r["count"]
        nb, nc = len(base_vals), len(cur_vals)
        tot = 0.0
        for b in range(_PSI_BINS):
            p = (c["view"].get(b, 0) + 1) / (nb + _PSI_BINS)
            q = (c["x"].get(b, 0) + 1) / (nc + _PSI_BINS)
            tot += (p - q) * np.log(p / q)
        return tot

    same = list(range(0, 500, 5))
    assert abs(psi(same, same)) < 1e-12
    shifted = [min(v + 200, 499) for v in same]
    assert psi(same, shifted) > 0.5
