"""Arrow cosine kernels (r14, guide §4.2): bit-parity with the
interpreted JVM folds on every reachable corner — plain vectors, zero
vectors, NULL vectors, NULL elements, length mismatches, empty arrays —
plus the dispatch gate itself (dim threshold, module toggle) and the
shared NULL contract for non-finite vectors."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.functions import vectors as vec
from sample_dms_kinesis_rds_mariadb_spark.operators import similarity


def _bits(x):
    """Exact float64 identity (NaN-safe, -0.0-distinguishing)."""
    if x is None:
        return None
    return struct.pack("<d", float(x))


DIM = 32
CORNER_VECS = [
    (0, [float(i % 7) - 3.0 + 0.125 * i for i in range(DIM)]),
    (1, [0.0] * DIM),                       # zero norm -> NULL sim
    (2, None),                              # NULL vector -> NULL sim
    (3, [1e-160] * DIM),                    # tiny but nonzero norm
    (4, [float(i) for i in range(DIM - 1)]),  # length mismatch -> NULL
    (5, []),                                # empty -> zero norm -> NULL
    (6, [1.0] * (DIM // 2) + [None] * (DIM // 2)),  # NULL element -> NULL
    (7, [math.pi * (i + 1) for i in range(DIM)]),
]
PROBE = [math.sqrt(i + 2.0) * (-1.0 if i % 3 else 1.0) for i in range(DIM)]


def _corner_df(spark):
    return spark.createDataFrame(
        CORNER_VECS, "vec_id long, embedding array<double>"
    )


def test_probe_cosine_kernel_parity(spark, monkeypatch):
    """probe_cosine_arrow_udf vs the cosine_similarity fold, bit-exact
    per row (the embedding_topk_cosine / IVF-probe / LSH-probe path)."""
    df = _corner_df(spark)
    monkeypatch.setattr(vec, "COSINE_ARROW", True)
    arrow = {
        r["vec_id"]: r["s"]
        for r in df.select(
            "vec_id", similarity._probe_sim(df, "embedding", PROBE).alias("s")
        ).collect()
    }
    monkeypatch.setattr(vec, "COSINE_ARROW", False)
    jvm = {
        r["vec_id"]: r["s"]
        for r in df.select(
            "vec_id", similarity._probe_sim(df, "embedding", PROBE).alias("s")
        ).collect()
    }
    assert set(arrow) == set(jvm)
    for k in jvm:
        assert _bits(arrow[k]) == _bits(jvm[k]), (k, arrow[k], jvm[k])
    # corners actually exercise the contract
    assert jvm[1] is None and jvm[2] is None and jvm[4] is None
    assert jvm[5] is None and jvm[6] is None
    assert jvm[0] is not None and jvm[3] is not None


def test_probe_cosine_zero_probe_is_all_null(spark, monkeypatch):
    df = _corner_df(spark)
    monkeypatch.setattr(vec, "COSINE_ARROW", True)
    rows = df.select(
        similarity._probe_sim(df, "embedding", [0.0] * DIM).alias("s")
    ).collect()
    assert all(r["s"] is None for r in rows)


def test_quantized_probe_kernel_parity(spark, monkeypatch):
    """quantized_topk_rerank coarse pass on/off: identical output frame
    (integer inputs widen exactly — every corner shared)."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(DIM)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q8 = similarity.quantize_embeddings(df)
    probe = rows[7][1]

    def run():
        return [
            (r["vec_id"], _bits(r["cosine_sim"]))
            for r in similarity.quantized_topk_rerank(
                q8, probe, k=10, id_col="vec_id"
            ).collect()
        ]

    monkeypatch.setattr(vec, "COSINE_ARROW", True)
    arrow = run()
    monkeypatch.setattr(vec, "COSINE_ARROW", False)
    jvm = run()
    assert arrow == jvm
    assert arrow[0][0] == 7  # self-probe ranks first


def test_dispatch_gate_dim_and_toggle(spark, monkeypatch):
    """Below COSINE_ARROW_MIN_DIM (and with the toggle off) the plan must
    stay pure JVM — no Python evaluation node; above it the kernel node
    appears."""
    df = _corner_df(spark)
    monkeypatch.setattr(vec, "COSINE_ARROW", True)
    small = [1.0] * (vec.COSINE_ARROW_MIN_DIM - 1)
    plan_small = df.select(
        similarity._probe_sim(df, "embedding", small).alias("s")
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan_small
    plan_big = df.select(
        similarity._probe_sim(df, "embedding", PROBE).alias("s")
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan_big
    monkeypatch.setattr(vec, "COSINE_ARROW", False)
    plan_off = df.select(
        similarity._probe_sim(df, "embedding", PROBE).alias("s")
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan_off


def test_probe_kernel_single_evaluation_under_filter(spark, monkeypatch):
    """Guide §4.4: a filter over the kernel's output column must not
    duplicate the Python evaluation node in the optimized plan."""
    df = _corner_df(spark)
    monkeypatch.setattr(vec, "COSINE_ARROW", True)
    plan = (
        df.select(
            "vec_id",
            similarity._probe_sim(df, "embedding", PROBE).alias("s"),
        )
        .filter(F.col("s") > 0.1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("ArrowEvalPython") == 1, plan


def test_non_finite_vectors_rank_last_on_both_paths(spark, monkeypatch):
    """A NaN or ±inf element gives a NULL similarity on the JVM path
    (dim 8, below COSINE_ARROW_MIN_DIM) as on the kernel path (dim 32),
    so such rows rank last: Spark orders NaN above every number, so a
    NaN similarity would take the top of top-k."""
    monkeypatch.setattr(vec, "COSINE_ARROW", True)
    assert 8 < vec.COSINE_ARROW_MIN_DIM <= 32
    results = {}
    for dim in (8, 32):
        rows = [
            (0, [1.0] * dim),
            (1, [math.inf] + [1.0] * (dim - 1)),
            (2, [math.nan] + [1.0] * (dim - 1)),
            (3, [1.0] * (dim - 1) + [0.5]),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        probe = [1.0] * dim
        probes = spark.createDataFrame(
            [(100, probe)], "probe_id long, embedding array<double>"
        )
        top2 = similarity.brute_force_topk(df, probe, k=2).collect()
        every = similarity.brute_force_topk(df, probe, k=4).collect()
        joined = sorted(
            similarity.knn_join(df, probes, k=4).collect(),
            key=lambda r: r["rank"],
        )
        results[dim] = (
            [r["vec_id"] for r in top2],
            [(r["vec_id"], r["cosine_sim"] is None) for r in every],
            [(r["vec_id"], r["cosine_sim"] is None) for r in joined],
        )
    expected_rank = [(0, False), (3, False), (1, True), (2, True)]
    assert results[8] == results[32] == ([0, 3], expected_rank, expected_rank)
