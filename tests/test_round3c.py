"""Session-C round-3 operators: distributed BPE training, embedding
covariance/PCA, and the entity-resolution flagship."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gridmet_etl_spark.operators.bpe import bpe_encode, bpe_train, bpe_word_freqs
from gridmet_etl_spark.operators.linalg import (
    embed_covariance,
    pca_components,
    pca_project,
)


# ---------------------------------------------------------------------------
# reference BPE (pure python, the Sennrich formulation) for goldens
# ---------------------------------------------------------------------------


def _ref_bpe(word_freqs: dict[str, int], k: int):
    """Greedy left-to-right BPE on word types: returns [(l, r, count)]."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(k):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r, c))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_bpe_train_matches_reference(spark):
    texts = [
        "lower lower lowest newer newer newer wider wide wide",
        "low low low lower newest widest wide new new newer",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
    got = [
        (r.left_sym, r.right_sym, r.pair_count)
        for r in bpe_train(docs, k=5).orderBy("merge_rank").collect()
    ]
    freqs = {}
    for t in texts:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    assert got == _ref_bpe(freqs, 5)


def test_bpe_merge_run_semantics(spark):
    # greedy left-to-right on runs: 'aaa' under merge (a,a) -> [aa, a];
    # 'aaaa' -> [aa, aa] — the string-replace formulation must agree.
    docs = spark.createDataFrame([(0, "aaa aaa aaaa")], "doc_id int, text string")
    m = bpe_train(docs, k=1).collect()
    assert (m[0].left_sym, m[0].right_sym) == ("a", "a")
    # counts: 'aaa' (freq 2) has 2 adjacent pairs, 'aaaa' has 3 -> 7
    assert m[0].pair_count == 7
    enc = bpe_encode(docs, [("a", "a")]).select("bpe_tokens").first()[0]
    assert enc == ["aa", "a", "aa", "a", "aa", "aa"]


def test_bpe_no_cross_symbol_merge(spark):
    # after (x,a) -> 'xa', a later (a,b) merge must NOT split 'xa': the
    # sentinel wrapping makes '<xa><b>' immune to the '<a><b>' replace.
    docs = spark.createDataFrame([(0, "xab xab xab ab")], "doc_id int, text string")
    merges = [
        (r.left_sym, r.right_sym)
        for r in bpe_train(docs, k=2).orderBy("merge_rank").collect()
    ]
    freqs = {"xab": 3, "ab": 1}
    assert merges == [(l, r) for l, r, _ in _ref_bpe(freqs, 2)]
    enc = bpe_encode(docs, merges).select("bpe_tokens").first()[0]
    ref_first = _ref_bpe(freqs, 2)
    # whatever the learned order, encoding must equal the reference encode
    # of the same merges — spot-check via the 'ab' word staying whole/split
    assert "".join(enc) == "xabxabxabab"


def test_bpe_word_freqs_filters_nonalpha(spark):
    docs = spark.createDataFrame(
        [(0, "ab ab 123 a1b -- ab")], "doc_id int, text string"
    )
    rows = {r.w: r.freq for r in bpe_word_freqs(docs).collect()}
    assert rows == {"ab": 3}


def test_bpe_encode_no_shuffle(spark):
    docs = spark.createDataFrame([(0, "ab ab")], "doc_id int, text string")
    plan = bpe_encode(docs, [("a", "b")])._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# covariance / PCA
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def small_emb(spark):
    rng = np.random.default_rng(7)
    x = rng.normal(size=(200, 8)).astype(np.float32)
    # give the data real structure so PCA ordering is unambiguous
    x[:, 0] *= 5.0
    x[:, 1] *= 2.0
    rows = [(i, [float(v) for v in x[i]]) for i in range(200)]
    return (
        spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        .repartition(4),
        x.astype(np.float64),
    )


def test_embed_covariance_matches_numpy(spark, small_emb):
    emb, x = small_emb
    got = {
        (r.i, r.j): r.cov
        for r in embed_covariance(emb, dim=8, ndigits=9).collect()
    }
    ref = np.cov(x, rowvar=False, bias=True)
    for i in range(8):
        for j in range(i, 8):
            assert got[(i + 1, j + 1)] == pytest.approx(ref[i, j], abs=1e-8)


def test_pca_components_golden(spark, small_emb):
    emb, x = small_emb
    comps, mean = pca_components(emb, dim=8, k=3)
    assert mean == pytest.approx(x.mean(axis=0), abs=1e-9)
    cov = np.cov(x, rowvar=False, bias=True)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:3]
    for ci, ei in enumerate(order):
        ref = v[:, ei]
        if ref[np.argmax(np.abs(ref))] < 0:
            ref = -ref
        assert comps[ci] == pytest.approx(ref, abs=1e-9)
    # orthonormal
    assert comps @ comps.T == pytest.approx(np.eye(3), abs=1e-9)


def test_pca_project_golden_and_planar(spark, small_emb):
    emb, x = small_emb
    comps, mean = pca_components(emb, dim=8, k=2)
    proj = pca_project(emb, comps, mean)
    got = {r.vec_id: (r.pc1, r.pc2) for r in proj.collect()}
    ref = (x - x.mean(axis=0)) @ comps.T
    for i in range(200):
        assert got[i][0] == pytest.approx(ref[i, 0], abs=1e-9)
        assert got[i][1] == pytest.approx(ref[i, 1], abs=1e-9)
    # the projection pass itself is narrow: no exchange, no python eval
    # (assert on an input without the fixture's repartition in its lineage)
    flat = spark.createDataFrame(
        [(0, [0.0] * 8)], "vec_id int, embedding array<float>"
    )
    plan = (
        pca_project(flat, comps, mean)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_pca_projected_variance_decreasing(spark, small_emb):
    emb, x = small_emb
    comps, mean = pca_components(emb, dim=8, k=3)
    proj = (x - x.mean(axis=0)) @ comps.T
    var = proj.var(axis=0)
    assert var[0] >= var[1] >= var[2]
    # pc1 must capture the inflated first axis
    assert var[0] == pytest.approx(np.cov(x, rowvar=False, bias=True).diagonal().max(), rel=0.2)


# ---------------------------------------------------------------------------
# entity resolution flagship
# ---------------------------------------------------------------------------


def test_entity_resolution_small(spark):
    from gridmet_etl_spark.operators.cluster import survivorship
    from gridmet_etl_spark.operators.simjoin import fuzzy_join

    rows = [
        # block A: ids 1,2,3 are one entity chain (1~2, 2~3), 4 is far
        (1, "A", "acme corp", 10.0),
        (2, "A", "acme corp.", 30.0),
        (3, "A", "acme  corp.", 20.0),
        (4, "A", "zzzzzzzzzz", 99.0),
        # block B: same name as id 1 but blocked apart — must NOT link
        (5, "B", "acme corp", 50.0),
        (6, "B", "acme corpX", 40.0),
    ]
    df = spark.createDataFrame(rows, "rid int, blk string, name string, q double")
    pairs = fuzzy_join(df, df, "blk", "name", 2, "rid").select(
        F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b")
    )
    out = {
        r.cluster_id: (r.survivor_id, r.n_members, r.total_quality)
        for r in survivorship(pairs, df, id_col="rid", quality_col="q").collect()
    }
    assert out[1] == (2, 3, 60.0)  # 1-2-3 chain, survivor = max quality id 2
    assert out[4] == (4, 1, 99.0)  # singleton
    assert out[5] == (5, 2, 90.0)  # block B pair, blocked away from A


# ---------------------------------------------------------------------------
# bigram LM scoring + containment
# ---------------------------------------------------------------------------


def test_bigram_lm_scores_golden(spark):
    import math

    from gridmet_etl_spark.operators.lm import bigram_lm_scores

    texts = {0: "a b a b", 1: "a b c", 2: "c c"}
    docs = spark.createDataFrame(list(texts.items()), "doc_id int, text string")
    got = {r.doc_id: (r.n_bigrams, r.nll) for r in bigram_lm_scores(docs, lam=0.5).collect()}
    # hand-counted model over the 3-doc corpus
    toks = [w for t in texts.values() for w in t.split()]
    n = len(toks)
    cu = {w: toks.count(w) for w in set(toks)}
    bigs = {d: list(zip(t.split(), t.split()[1:])) for d, t in texts.items()}
    cb = {}
    for bs in bigs.values():
        for b in bs:
            cb[b] = cb.get(b, 0) + 1
    for d, bs in bigs.items():
        nll = -sum(
            math.log(0.5 * cb[(w1, w2)] / cu[w1] + 0.5 * cu[w2] / n) for w1, w2 in bs
        ) / len(bs)
        assert got[d][0] == len(bs)
        assert got[d][1] == pytest.approx(nll, abs=1e-6)
    # in-distribution repetition scores better (lower nll) than the rare tail
    assert got[0][1] < got[1][1]


def test_containment_catches_excerpt_jaccard_misses(spark):
    from gridmet_etl_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    long = "the quick brown fox jumps over the lazy dog " * 20
    excerpt = "quick brown fox jumps over"
    docs = spark.createDataFrame(
        [(1, long), (2, excerpt), (3, "zzz qqq vvv www")],
        "doc_id int, text string",
    )
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(docs, threshold=0.9).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] == pytest.approx(1.0)
    # Jaccard at the same strictness misses the excerpt entirely
    jac = ngram_jaccard_pairs(docs, threshold=0.9).collect()
    assert all((r.doc_a, r.doc_b) != (1, 2) for r in jac)
    # unrelated doc is not linked
    assert not any(3 in p for p in cont)


# ---------------------------------------------------------------------------
# large-star/small-star components
# ---------------------------------------------------------------------------


def test_star_cc_matches_minlabel_on_shapes(spark):
    import random

    from gridmet_etl_spark.operators.cluster import (
        connected_components,
        connected_components_star,
    )

    shapes = {
        "chain": [(i, i + 1) for i in range(60)],
        "two_cliques_bridge": [(i, j) for i in range(8) for j in range(i + 1, 8)]
        + [(10 + i, 10 + j) for i in range(8) for j in range(i + 1, 8)]
        + [(7, 10)],
        "self_pair_singleton": [(5, 5), (1, 2)],
    }
    random.seed(13)
    shapes["random"] = [
        (random.randrange(200), random.randrange(200)) for _ in range(150)
    ]
    for name, pairs_py in shapes.items():
        pdf = spark.createDataFrame(pairs_py, "doc_a long, doc_b long")
        a = {
            (r.node, r.cluster_id)
            for r in connected_components(pdf, max_iter=500).collect()
        }
        b = {
            (r.node, r.cluster_id)
            for r in connected_components_star(pdf).collect()
        }
        assert a == b, name


def test_star_cc_log_rounds_on_chain(spark):
    """A 200-diameter chain converges within the 40-round cap (min-label
    would need 200 rounds) — the log-diameter property in action."""
    from gridmet_etl_spark.operators.cluster import connected_components_star

    pdf = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a long, doc_b long"
    )
    got = {r.node: r.cluster_id for r in connected_components_star(pdf).collect()}
    assert len(got) == 201
    assert set(got.values()) == {0}


def test_minhash_estimate_tracks_exact_jaccard(spark):
    from gridmet_etl_spark.operators.dedup import (
        minhash_jaccard_estimate,
        ngram_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog and runs away fast"
    rows = [
        (1, base),
        (2, base),  # exact dup -> est 1.0
        (3, base.replace("fox", "cat").replace("dog", "pig")),  # near dup
        (4, "completely different words entirely unrelated content here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a int, doc_b int"
    )
    est = {
        (r.doc_a, r.doc_b): r.est
        for r in minhash_jaccard_estimate(docs, cands).collect()
    }
    assert est[(1, 2)] == pytest.approx(1.0)
    # 16-seed sketch: estimates are coarse (1/16 steps) but must order the
    # near-dup far above the unrelated pair
    assert est[(1, 3)] > est[(1, 4)]
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    assert abs(est[(1, 3)] - exact[(1, 3)]) < 0.35  # sketch tolerance, 16 seeds


# ---------------------------------------------------------------------------
# degenerate inputs
# ---------------------------------------------------------------------------


def test_bpe_empty_vocab_yields_no_merges(spark):
    docs = spark.createDataFrame([(0, "123 456 --")], "doc_id int, text string")
    m = bpe_train(docs, k=3)
    assert m.count() == 0
    assert m.columns == ["merge_rank", "left_sym", "right_sym", "pair_count"]


def test_covariance_empty_input_yields_empty_result(spark):
    emb = spark.createDataFrame([], "vec_id int, embedding array<double>")
    assert embed_covariance(emb, dim=4).count() == 0


def test_pca_empty_input_raises(spark):
    emb = spark.createDataFrame([], "vec_id int, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        pca_components(emb, dim=4, k=1)


def test_quota_zero_budget_rejects_all(spark):
    from gridmet_etl_spark.streaming.quota import quota_filter

    docs = spark.createDataFrame(
        [("s", 1, 5), ("s", 2, 3)], "source string, doc_id long, n_tokens long"
    )
    out = quota_filter(docs, budget=0).collect()
    assert all(not r.kept for r in out)


def test_fuzzy_join_zero_distance_is_exact_equality(spark):
    from gridmet_etl_spark.operators.simjoin import fuzzy_join

    rows = [(1, "A", "x"), (2, "A", "x"), (3, "A", "y")]
    df = spark.createDataFrame(rows, "rid int, blk string, name string")
    got = {(r.a_id, r.b_id) for r in fuzzy_join(df, df, "blk", "name", 0, "rid").collect()}
    assert got == {(1, 2)}


def test_lsh_recall_query_reports_sane_metrics(spark):
    from offpath_queries.contract_ext3 import q_lsh_recall

    r = q_lsh_recall(spark, "/root/testdata/sf0.001").collect()[0]
    assert r.n_true > 0 and r.n_cand > 0
    assert 0.0 <= r.recall <= 1.0 and 0.0 <= r.precision <= 1.0
    assert r.n_hit <= min(r.n_true, r.n_cand)


def test_hard_negatives_labels_differ_and_argmax(spark):
    import numpy as np

    from offpath_queries.contract_ext3 import q_hard_negatives

    sf = "/root/testdata/sf0.001"
    out = {r.query_id: (r.negative_id, r.sim) for r in q_hard_negatives(spark, sf).collect()}
    emb = spark.read.parquet(sf + "/embeddings.parquet").collect()
    vecs = {r.vec_id: (np.array(r.embedding, dtype=np.float64), r.label) for r in emb}
    for qid, (nid, sim) in out.items():
        qv, ql = vecs[qid]
        nv, nl = vecs[nid]
        assert nl != ql
        ref = float(qv @ nv / (np.linalg.norm(qv) * np.linalg.norm(nv)))
        assert sim == pytest.approx(ref, abs=1e-5)
        # argmax: no different-label vector scores strictly higher (beyond rounding)
        best = max(
            float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
            for vid, (v, l) in vecs.items()
            if l != ql
        )
        assert sim == pytest.approx(best, abs=1e-5)


def test_bpe_compression_reduces_tokens(spark):
    from offpath_queries.contract_ext3 import q_bpe_compression

    rows = q_bpe_compression(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    total_before = sum(r.n_before for r in rows)
    total_after = sum(r.n_after for r in rows)
    # 6 merges over a small-vocab corpus must strictly compress
    assert total_after < total_before
    assert all(r.n_after <= r.n_before for r in rows)
