"""Round-9 ext30 tests: numpy references for NMI association and Chao1
richness (query-level — both are contract compositions over exact
contingency / frequency-of-frequencies relations)."""

import os
import tempfile

import numpy as np


def _write_tables(spark, d, orders_rows, cust_rows):
    spark.createDataFrame(
        orders_rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
    spark.createDataFrame(
        cust_rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).write.mode("overwrite").parquet(os.path.join(d, "customer.parquet"))


def test_nmi_matches_numpy(spark):
    import datetime

    from offpath_queries.contract_ext30 import q_nmi_assoc

    rng = np.random.RandomState(4)
    segs = ["S0", "S1", "S2"]
    pris = ["P0", "P1"]
    cust_rows = [
        (i, "c", 0, 0.0, segs[i % 3]) for i in range(300)
    ]
    d0 = datetime.datetime(2024, 1, 1)
    orders_rows = []
    for k in range(3000):
        cust = int(rng.randint(0, 300))
        seg_i = cust % 3
        # priority correlates with segment: seg 0 -> mostly P0
        p = pris[0] if rng.rand() < (0.8 if seg_i == 0 else 0.3) else pris[1]
        orders_rows.append((k, cust, "F", 10.0, d0, p))
    d = tempfile.mkdtemp()
    _write_tables(spark, d, orders_rows, cust_rows)
    out = q_nmi_assoc(spark, d).collect()[0]
    # numpy reference
    seg_of = {i: segs[i % 3] for i in range(300)}
    pairs = [(seg_of[r[1]], r[5]) for r in orders_rows]
    n = len(pairs)
    from collections import Counter

    cij = Counter(pairs)
    ci = Counter(a for a, _ in pairs)
    cj = Counter(b for _, b in pairs)
    mi = sum(
        (v / n) * np.log(n * v / (ci[a] * cj[b])) for (a, b), v in cij.items()
    )
    ha = sum(-(v / n) * np.log(v / n) for v in ci.values())
    hb = sum(-(v / n) * np.log(v / n) for v in cj.values())
    assert out["n"] == n
    assert abs(out["mi_nats"] - mi) < 1e-5
    assert abs(out["nmi"] - mi / np.sqrt(ha * hb)) < 1e-5
    assert out["nmi"] > 0.05  # planted dependence visible


def test_chao1_matches_bruteforce(spark):
    from offpath_queries.contract_ext30 import q_chao1_richness

    rng = np.random.RandomState(6)
    vocab = [f"w{i}" for i in range(500)]
    p = 1.0 / np.arange(1, 501)
    p /= p.sum()
    docs = [
        (i, " ".join(rng.choice(vocab, 20, p=p)), "en", "s", 1)
        for i in range(200)
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = q_chao1_richness(spark, d).collect()[0]
    from collections import Counter

    c = Counter(w for _, t, _, _, _ in docs for w in t.split(" "))
    fof = Counter(c.values())
    D, f1, f2 = len(c), fof[1], fof[2]
    chao1 = D + f1 * (f1 - 1) / (2 * (f2 + 1))
    assert (out["d_observed"], out["f1"], out["f2"]) == (D, f1, f2)
    assert abs(out["chao1"] - chao1) < 1e-6
    assert out["chao1"] >= out["d_observed"]  # estimator never below observed
