"""IVF inverted-file + near-dup scale parameterization tests."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from rle_spark import similarity as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_ivf_index_prunes_partitions(spark, emb, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("ivf") / "index")
    S.ivf_write_index(emb, idx)
    probe = S.ivf_topk_indexed(spark, idx)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_list" in plan
    # the pruned scan must list strictly fewer partition dirs than exist
    import os
    n_lists = sum(1 for d in os.listdir(idx) if d.startswith("ivf_list="))
    assert n_lists == S.IVF_LISTS
    got = [(r.vec_id, r.sim_r3) for r in probe.collect()]
    want = [(r.vec_id, r.sim_r3)
            for r in S.ivf_topk_frozen(emb).collect()]
    assert got == want


def test_ivf_index_rebuild_replaces_every_list(spark, emb, tmp_path_factory):
    """Rebuilding the inverted file at the same path leaves only the
    new input's vectors. A session-wide dynamic partitionOverwriteMode
    replaced only the lists the new input touches, so a 1-vector
    rebuild kept 450 of the 500 old vectors."""
    idx = str(tmp_path_factory.mktemp("ivf_rebuild") / "index")
    S.ivf_write_index(emb, idx)
    S.ivf_write_index(emb.limit(1), idx)
    assert spark.read.parquet(idx).count() == 1


def test_ivf_via_index_matches_frozen(spark, emb, tmp_path_factory):
    cache = str(tmp_path_factory.mktemp("ivfcache"))
    got = {(r.vec_id, r.sim_r3)
           for r in S.ivf_topk_via_index(spark, SF, cache_root=cache).collect()}
    want = {(r.vec_id, r.sim_r3) for r in S.ivf_topk_frozen(emb).collect()}
    assert got == want
    # second call hits the _SUCCESS short-circuit (idempotent)
    again = {(r.vec_id, r.sim_r3)
             for r in S.ivf_topk_via_index(spark, SF, cache_root=cache).collect()}
    assert again == want


def test_auto_n_planes_scales_with_corpus():
    assert S.auto_n_planes(100) == S.NEAR_DUP_PLANES
    assert S.auto_n_planes(1 << 20, target_bucket=256) == 12
    # 10^12 vectors: buckets keep pace, capped at max_planes
    assert S.auto_n_planes(10 ** 12) == 30
    # monotone non-decreasing
    vals = [S.auto_n_planes(n) for n in (10, 10 ** 3, 10 ** 6, 10 ** 9)]
    assert vals == sorted(vals)


def test_auto_planes_bound_candidate_pairs(spark, emb):
    """With auto planes the expected bucket occupancy is bounded, so
    candidate-pair volume stays ~N * target_bucket even when the fixed
    6-plane grid would put everything into few buckets."""
    n = emb.count()
    auto = S.auto_n_planes(n, target_bucket=8)
    planes = S.near_dup_plane_matrix(auto, S.NEAR_DUP_DIM, S.NEAR_DUP_SEED)
    sig = emb.select(F.expr(S.signature_expr_sql("embedding", planes, 0))
                     .alias("sig"))
    cand_pairs = (sig.groupBy("sig").count()
                  .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
                  .collect()[0][0])
    # all-pairs would be n*(n-1)/2; the bucketed volume must be far less
    assert cand_pairs < n * (n - 1) / 2 * 0.25


def test_near_dup_multi_table_recall(spark, emb):
    one = {(r.vec_a, r.vec_b)
           for r in S.cosine_near_dup(emb, n_tables=1).collect()}
    two = {(r.vec_a, r.vec_b)
           for r in S.cosine_near_dup(emb, n_tables=2).collect()}
    # extra tables only ADD candidate pairs -> recall is monotone
    assert one <= two


def test_near_dup_auto_planes_runs(spark, emb):
    # n_planes=None derives the grid from the corpus size
    df = S.cosine_near_dup(emb, n_planes=None)
    assert df.columns == ["vec_a", "vec_b", "cos_pct"]
    assert df.count() >= 0


def test_quantize_roundtrip_error_bound(spark, emb):
    """|x - q*scale| <= scale/2 per element, q in [-127, 127]."""
    import numpy as np
    qt = S.quantize_embeddings(emb).collect()
    orig = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    assert len(qt) == len(orig)
    for r in qt:
        x = orig[r.vec_id]
        q = np.asarray(r.qvec, dtype=np.int64)
        assert q.min() >= -127 and q.max() <= 127
        if r.scale == 0.0:
            assert not q.any()
            continue
        err = np.abs(x - q * r.scale)
        assert float(err.max()) <= r.scale / 2 + 1e-12


def test_quantized_cosine_recall(spark, emb):
    """Quantized vectors keep exact-cosine top-10 recall high."""
    import numpy as np
    X = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
         for r in emb.collect()}
    qv = X[0]

    def topk(vecs, k=10):
        sims = {i: float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
                for i, v in vecs.items()}
        return [i for i, _ in sorted(sims.items(),
                                     key=lambda kv: (-kv[1], kv[0]))[:k]]

    exact = set(topk(X))
    deq = {r.vec_id: np.asarray(r.qvec, dtype=np.float64) * r.scale
           for r in S.quantize_embeddings(emb).collect()}
    approx = set(topk(deq))
    assert len(exact & approx) >= 8  # >= 0.8 recall at k=10


def test_shipped_auto_near_dup_grid_varies_with_corpus():
    """The oracle-gated cosine_near_dup_auto shape (target_bucket=16,
    min_planes=4) derives a plane count that actually changes with the
    corpus: 5 planes at the 500-vector test tables (provably not the
    fixed NEAR_DUP_PLANES=6) and 7 at the 2000-vector sf0.1 table."""
    from rle_spark.queries import AUTO_ND_MIN_PLANES, AUTO_ND_TARGET_BUCKET
    a500 = S.auto_n_planes(500, AUTO_ND_TARGET_BUCKET, AUTO_ND_MIN_PLANES)
    a2000 = S.auto_n_planes(2000, AUTO_ND_TARGET_BUCKET, AUTO_ND_MIN_PLANES)
    assert a500 == 5 and a500 != S.NEAR_DUP_PLANES
    assert a2000 == 7 and a2000 > a500


def test_metadata_row_count_engages_and_declines(spark, tmp_path):
    """The auto-grid sizing count must come from parquet footers (O(1))
    for plain scans/projections, and decline to None for any plan that
    could change the row count."""
    import pandas as pd
    p = str(tmp_path / "e.parquet")
    pd.DataFrame({"vec_id": [f"v{i}" for i in range(257)],
                  "x": range(257)}).to_parquet(p)
    df = spark.read.parquet(p)
    assert S._metadata_row_count(df) == 257
    assert S._metadata_row_count(df.select("vec_id")) == 257
    assert S._metadata_row_count(df.filter("x > 3")) is None
    assert S._metadata_row_count(df.limit(5)) is None
    assert S._metadata_row_count(
        spark.createDataFrame([(1,)], "a int")) is None
