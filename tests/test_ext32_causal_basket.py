"""Round-9 ext32 tests: brute-force references for QTE quartiles and
Apriori triples (query-level compositions over exact order statistics /
basket counts)."""

import datetime
import os
import tempfile

import numpy as np


def test_qte_matches_numpy(spark):
    from offpath_queries.contract_ext32 import q_qte_quartiles

    rng = np.random.RandomState(3)
    n = 4000
    disc = rng.choice([0.0, 0.02, 0.05, 0.08], n)
    price = rng.randint(1000, 100000, n) / 100.0
    price[disc >= 0.05] *= 1.5  # planted distributional shift
    d = tempfile.mkdtemp()
    d0 = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [
            (i, 1, 1, 1, 1.0, float(round(p, 2)), float(dc), 0.0, "N", "O", d0)
            for i, (p, dc) in enumerate(zip(price, disc))
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
    out = {r["tau"]: r for r in q_qte_quartiles(spark, d).collect()}
    cents = np.round(np.round(price, 2) * 100).astype(np.int64)
    tr = np.sort(cents[disc >= 0.05])
    ct = np.sort(cents[disc < 0.05])
    for tau in (0.25, 0.5, 0.75):
        qt = tr[int(np.ceil(len(tr) * tau)) - 1]
        qc = ct[int(np.ceil(len(ct) * tau)) - 1]
        r = out[tau]
        assert abs(r["q_treat"] - qt / 100.0) < 1e-9
        assert abs(r["q_ctrl"] - qc / 100.0) < 1e-9
        assert abs(r["qte"] - (qt - qc) / 100.0) < 1e-9
        assert r["qte"] > 0  # the planted shift is positive at every tau


def test_apriori_triples_counts(spark):
    from offpath_queries.contract_ext32 import q_apriori_triples

    # 30 baskets of {A,B,C}, 10 of {A,B,D}, 5 of {A,C,D,E}
    baskets = (
        [["A", "B", "C"]] * 30 + [["A", "B", "D"]] * 10 + [["A", "C", "D", "E"]] * 5
    )
    li_rows, part_rows = [], []
    brands = sorted({b for bs in baskets for b in bs})
    for pk, b in enumerate(brands):
        part_rows.append((pk, "p", b, "t", 1, 1.0))
    pk_of = {b: pk for pk, b in enumerate(brands)}
    for o, bs in enumerate(baskets):
        for i, b in enumerate(bs):
            li_rows.append(
                (o, pk_of[b], 1, i + 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
                 datetime.datetime(2024, 1, 1))
            )
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
    spark.createDataFrame(
        part_rows,
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(os.path.join(d, "part.parquet"))
    out = q_apriori_triples(spark, d).collect()
    top = {(r["b1"], r["b2"], r["b3"]): r for r in out}
    assert top[("A", "B", "C")]["support"] == 30
    assert top[("A", "B", "D")]["support"] == 10
    assert top[("A", "C", "D")]["support"] == 5
    # lift of ABC: support*n^2/(nA*nB*nC) = 30*45^2/(45*40*35)
    r = top[("A", "B", "C")]
    assert abs(r["lift"] - 30 * 45 * 45 / (45 * 40 * 35)) < 1e-6
    assert abs(r["support_frac"] - 30 / 45) < 1e-6  # 6-decimal display rounding
    # C(4,3)=4 triples from the 5 ACDE baskets included
    assert top[("C", "D", "E")]["support"] == 5
