"""Similarity search: brute-force cosine vs numpy oracle, and the
LSH-bucketed ANN path's recall against the exact baseline."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb_df(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_mat():
    pdf = duckdb.sql(
        f"SELECT * FROM '{SF}/embeddings.parquet' ORDER BY vec_id"
    ).df()
    ids = pdf["vec_id"].to_numpy()
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    return ids, V


def _brute_topk(ids, V, query_mask, k=5):
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = np.round(Vn[query_mask] @ Vn.T, 6)
    out = {}
    for qi, row in zip(ids[query_mask], sims):
        order = sorted(
            ((s, c) for s, c in zip(row, ids) if c != qi),
            key=lambda t: (-t[0], t[1]),
        )
        out[qi] = [(c, s) for s, c in order[:k]]
    return out


def test_cosine_topk_matches_numpy(spark, emb_df, emb_mat):
    from batch3dfier_spark.operators.similarity import cosine_topk

    ids, V = emb_mat
    mask = ids % 50 == 0
    got = (
        cosine_topk(emb_df, emb_df.where(F.col("vec_id") % 50 == 0), k=5)
        .toPandas()
        .sort_values(["query_id", "rank"])
    )
    exp = _brute_topk(ids, V, mask, k=5)
    for qid, grp in got.groupby("query_id"):
        want = exp[qid]
        have = list(zip(grp["cand_id"], grp["cosine"]))
        assert have == [(c, pytest.approx(s, abs=2e-6)) for c, s in want]


def test_lsh_ann_recall(spark, emb_df, emb_mat):
    """Recall@5 of the LSH path vs exact top-5.  This corpus has no true
    near-dups — exact top-5 cosines sit at ~0.27-0.43 (theta ~65-75 deg)
    where per-table collision p = (1-theta/pi)^planes is weak, so the
    test pins planes=4 x tables=32: p ~= 0.13 at theta=72 deg ->
    recall 1-(1-p)^32 ~= 0.99.  Real dedup workloads (cosine > 0.9)
    reach the same recall with the cheaper defaults."""
    from batch3dfier_spark.operators.similarity import lsh_ann_topk

    ids, V = emb_mat
    dim = V.shape[1]
    mask = ids % 50 == 0
    exact = _brute_topk(ids, V, mask, k=5)
    got = lsh_ann_topk(
        emb_df, emb_df.where(F.col("vec_id") % 50 == 0), dim=dim, k=5,
        n_planes=4, tables=32,
    ).toPandas()
    hits = total = 0
    for qid, grp in got.groupby("query_id"):
        want = {c for c, _ in exact[qid]}
        have = set(grp["cand_id"])
        hits += len(want & have)
        total += len(want)
    assert total > 0
    assert hits / total >= 0.9, f"recall {hits}/{total}"



def test_lsh_ann_is_subset_scored_exactly(spark, emb_df, emb_mat):
    """Every (query, cand, cosine) the ANN path emits must carry the
    exact cosine (same scoring expression as the brute-force path)."""
    from batch3dfier_spark.operators.similarity import lsh_ann_topk

    ids, V = emb_mat
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    idx = {int(i): r for r, i in enumerate(ids)}
    got = lsh_ann_topk(
        emb_df, emb_df.where(F.col("vec_id") % 50 == 0), dim=V.shape[1], k=5
    ).toPandas()
    for q, c, s in zip(got["query_id"], got["cand_id"], got["cosine"]):
        assert s == pytest.approx(
            round(float(Vn[idx[int(q)]] @ Vn[idx[int(c)]]), 6), abs=2e-6
        )


def test_ivf_frozen_recall(spark, emb_df, emb_mat):
    """The frozen quantizer is a weaker index than Lloyd but must still
    deliver useful recall at the default nprobe, and exact results at
    full probe (nprobe == n_centroids scans everything)."""
    from batch3dfier_spark.operators.similarity import ivf_topk_frozen

    ids, V = emb_mat
    dim = V.shape[1]
    qmask = ids % 100 == 0
    exact = _brute_topk(ids, V, qmask, k=5)

    # contract operating point (nc=64, nprobe=8 -> ~12.5% corpus
    # scanned): measured 0.60 on this fixture vs ~0.8+ for the Lloyd
    # quantizer — the frozen variant trades recall for exact SQL
    # checkability; gate slightly below the measurement for VM noise
    approx = ivf_topk_frozen(
        emb_df, emb_df.where(F.col("vec_id") % 100 == 0),
        dim=dim, k=5, n_centroids=64, nprobe=8,
    ).toPandas()
    hits = tot = 0
    for qid, pairs in exact.items():
        want = {c for c, _ in pairs}
        got = set(approx[approx["query_id"] == qid]["cand_id"])
        hits += len(want & got)
        tot += len(want)
    assert hits / tot >= 0.55, f"frozen-IVF recall {hits/tot:.2f}"

    full = ivf_topk_frozen(
        emb_df, emb_df.where(F.col("vec_id") % 100 == 0),
        dim=dim, k=5, n_centroids=16, nprobe=16,
    ).toPandas()
    for qid, pairs in exact.items():
        got = full[full["query_id"] == qid].sort_values("rank")
        assert list(got["cand_id"]) == [c for c, _ in pairs]


def test_embedding_lsh_funnel_recall(spark, emb_df, emb_mat):
    """VERDICT #4: the hyperplane-bucket -> embedding_near_dups
    candidates funnel, wired end to end.  Recall >= 0.95 vs the exact
    all-pairs output on the fixture corpus; the all-pairs path is never
    constructed (candidates is non-None by construction)."""
    from batch3dfier_spark.operators.dedup import (
        embedding_near_dups,
        embedding_near_dups_lsh,
    )

    ids, V = emb_mat
    dim = V.shape[1]
    exact = embedding_near_dups(emb_df, threshold=0.4).toPandas()
    exact_pairs = set(zip(exact["id_a"], exact["id_b"]))
    assert len(exact_pairs) > 10  # fixture really has near-dups

    funnel = embedding_near_dups_lsh(emb_df, dim=dim, threshold=0.4).toPandas()
    funnel_pairs = set(zip(funnel["id_a"], funnel["id_b"]))
    # funnel pairs are a subset (same exact scoring, fewer candidates)
    assert funnel_pairs <= exact_pairs
    recall = len(funnel_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.95, f"funnel recall {recall:.3f}"
    # scores of surviving pairs are bit-identical to the all-pairs path
    merged = funnel.merge(exact, on=["id_a", "id_b"], suffixes=("_f", "_e"))
    assert (merged["cosine_f"] == merged["cosine_e"]).all()



def test_quantize_int8_matches_duckdb_and_is_map_only(spark, emb_df):
    """Int8 quantization (its registry query is oracle-checked in
    test_oracle_contract): MAP-ONLY plan (no Exchange), codes within
    [-127, 127] with every vector's max-|v| position hitting ±127, and
    the dequantization error bounded by scale/254 per element."""
    import pandas as pd

    from batch3dfier_spark.operators.similarity import quantize_int8

    out = quantize_int8(emb_df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    pdf = out.toPandas()
    Q = np.stack([np.asarray(r) for r in pdf["q"]]).astype(np.int64)
    assert Q.min() >= -127 and Q.max() <= 127
    assert (np.abs(Q).max(axis=1) == 127).all()  # scale anchor element
    src = duckdb.sql(
        f"SELECT * FROM '{SF}/embeddings.parquet' ORDER BY vec_id"
    ).df()
    V = np.stack(src["embedding"].to_numpy()).astype(np.float64)
    order = np.argsort(pdf["vec_id"].to_numpy())
    Qs = Q[order]
    sc = pdf["scale"].to_numpy()[order]
    deq = Qs * (sc / 127.0)[:, None]
    assert np.abs(deq - V).max() <= (sc.max() / 254.0) + 1e-12

    # all-zero vector: scale 0, all-zero code, no crash
    z = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1], "embedding": [[0.0] * 4]})
    )
    zrow = quantize_int8(z).toPandas().iloc[0]
    assert zrow["scale"] == 0.0 and list(zrow["q"]) == [0, 0, 0, 0]
