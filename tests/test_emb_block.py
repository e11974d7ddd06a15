"""Embedding block lane (round-12 optimization): pin the one-task
numpy kernels used below EMB_BLOCK_CAP row-identical to the
distributed chains, by running each registered query on the live
fixture twice — lane on (plan must carry the mapInPandas kernel) and
lane gated OFF (EMB_BLOCK_CAP = -1 forces the distributed path) — and
asserting exact row equality. The three-sf oracle sweeps certify the
same kernels against DuckDB end to end; this A/B additionally pins
them against the Spark chains bit for bit (floats included: both
lanes quantize through the same HALF_UP decimal grid, so equal means
bit-equal)."""

from __future__ import annotations

import demo_segmenter_spark.operators.layer_c as lc
from demo_segmenter_spark.functions.cache import release_persisted

SF_DIR = "/root/testdata/sf0.001"

EMB_QUERIES = [
    "c_embed_pca",
    "c_embed_pca_deflate",
    "c_embed_pca_project",
    "c_sim_kmeans",
    "c_sim_ivf_trained",
    "c_sim_dedup_semantic",
    "c_sim_dedup_kmeans",
    "c_sim_dedup_kmeans_hybrid",
    "c_sim_ivfpq_adc",
    "c_embed_rq",
    "c_sim_rq_adc",
    "c_embed_pq",
    "c_sim_pq_adc",
    # round-12 pass 2: native RHP-LSH banding + exact verify in-task
    "c_sim_lsh_native",
]


def test_emb_block_lanes_match_distributed_lane_on_fixture(
    spark, monkeypatch
):
    from demo_segmenter_spark.plans.inspect import explain_str

    for q in EMB_QUERIES:
        df = lc.__dict__[q](spark, SF_DIR)
        plan = explain_str(df)
        assert "MapInPandas" in plan, q
        got = sorted(tuple(r) for r in df.collect())
        assert got, q  # sanity: the lane produced rows
        release_persisted(spark, owner=True)
        monkeypatch.setattr(lc, "EMB_BLOCK_CAP", -1)
        try:
            ref_df = lc.__dict__[q](spark, SF_DIR)
            ref = sorted(tuple(r) for r in ref_df.collect())
        finally:
            monkeypatch.undo()
            release_persisted(spark, owner=True)
        assert got == ref, q


def test_np_rnd_matches_spark_half_up_knife_edges():
    """The generalized np_round_half_up(n) kernel on representable
    knife-edge values: HALF_UP away from zero, EPS nudge must not flip
    values clearly below the boundary, negative zero normalized away."""
    import numpy as np

    from demo_segmenter_spark.functions.compat import np_round_half_up

    r4 = np_round_half_up(4)
    out = r4(np.array([0.12345, 0.1234449, -0.00004, 1.0]))
    assert abs(out[0] - 0.1235) < 1e-15  # .5 at 4dp rounds up
    assert abs(out[1] - 0.1234) < 1e-15
    assert out[2] == 0.0 and not np.signbit(out[2])  # -0.00004+eps→-0.0→0.0
    assert out[3] == 1.0


def test_doremi_block_lane_matches_distributed_lane(spark, monkeypatch):
    """c_mix_doremi's weight-algebra block lane vs the distributed
    rounds: exact row equality on the live fixture (all integer
    micro-units past the ln/exp quantization points)."""
    df = lc.c_mix_doremi(spark, SF_DIR)
    from demo_segmenter_spark.plans.inspect import explain_str

    assert "MapInPandas" in explain_str(df)
    got = sorted(tuple(r) for r in df.collect())
    assert got
    release_persisted(spark, owner=True)
    monkeypatch.setattr(lc, "DOREMI_BLOCK_CAP", -1)
    try:
        ref = sorted(tuple(r) for r in lc.c_mix_doremi(spark, SF_DIR).collect())
    finally:
        monkeypatch.undo()
        release_persisted(spark, owner=True)
    assert got == ref
