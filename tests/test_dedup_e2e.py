"""End-to-end dedup pipeline guards: the LSH hot-bucket star cap keeps candidate
volume linear in a huge exact-duplicate class while preserving connectivity
through the connected-components stage (VERDICT round-1 item 8)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def dup_docs(spark, tmp_path_factory):
    """1,000 identical docs + 200 distinct docs, written as a documents table."""
    path = str(tmp_path_factory.mktemp("dup") / "documents.parquet")
    dup_text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, dup_text) for i in range(1000)]
    rows += [
        (1000 + i, f"unique document number {i} with its own words w{i} x{i} y{i} z{i}")
        for i in range(200)
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.mode("overwrite").parquet(path)
    return path


def test_hot_bucket_star_is_linear(spark, dup_docs):
    from ioverlay_spark.queries import _minhash_sql

    pairs = spark.sql(_minhash_sql("spark", f"parquet.`{dup_docs}`")).toPandas()
    # identical docs share every band bucket; all-pairs would be 1000*999/2 ≈ 500k.
    # The star guard emits anchor->member pairs only: ≤ 999 + cross-band dups.
    dup_pairs = pairs[(pairs.doc_a < 1000) & (pairs.doc_b < 1000)]
    assert len(dup_pairs) <= 1100, f"quadratic bucket leak: {len(dup_pairs)} pairs"
    # connectivity: the star must reach every duplicate doc from the anchor
    assert set(dup_pairs.doc_a) == {0}
    assert set(dup_pairs.doc_b) == set(range(1, 1000))


def test_dup_class_collapses_to_one_cluster(spark, dup_docs):
    from ioverlay_spark.operators.distributed_extract import connected_components
    from ioverlay_spark.queries_ext import _dedup_verified_pairs_sql

    pairs = spark.sql(_dedup_verified_pairs_sql("spark", f"parquet.`{dup_docs}`"))
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    cc = connected_components(edges).toPandas()
    dup_components = cc[cc.node < 1000]["component"].unique()
    assert list(dup_components) == [0], "duplicate class must form ONE cluster"
    # distinct docs stay out of it
    uniq = cc[cc.node >= 1000]
    assert (uniq["component"] >= 1000).all()


def test_connected_components_paths_agree(spark):
    """The single-task union-find path and the alternating-star label
    propagation path must produce identical (node, component) output —
    component = min node id — on a graph with chains, cycles, a star, and
    isolated-pair components. The single-task path is one repartition(1)
    mapInArrow: no grouped map and no Sort ahead of it."""
    import numpy as np

    from ioverlay_spark.operators.distributed_extract import connected_components

    rng = np.random.default_rng(21)
    edges = []
    # 50 chain components of length 6 (tests multi-hop propagation)
    for c in range(50):
        base = c * 100
        edges += [(base + i, base + i + 1) for i in range(5)]
    # a 200-leaf star + a 40-cycle + isolated pairs
    edges += [(10_000, 10_000 + i) for i in range(1, 200)]
    edges += [(20_000 + i, 20_000 + (i + 1) % 40) for i in range(40)]
    edges += [(30_000 + 2 * i, 30_001 + 2 * i) for i in range(100)]
    rng.shuffle(edges)
    df = spark.createDataFrame([(int(u), int(v)) for u, v in edges], ["u", "v"])
    one_task = connected_components(df)
    plan = one_task._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "FlatMapGroupsInArrow" not in plan and "Sort" not in plan, plan
    small = one_task.toPandas().sort_values("node").reset_index(drop=True)
    large = (
        connected_components(df, local_threshold=0)
        .toPandas()
        .sort_values("node")
        .reset_index(drop=True)
    )
    assert small.equals(large)
    # spot-check semantics: component = min node id
    assert (small[small.node < 600].component == (small[small.node < 600].node // 100) * 100).all()
