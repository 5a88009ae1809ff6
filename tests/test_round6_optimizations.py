"""Round-6 optimization pins: the rewrites must keep outputs bit-identical
and the plans must keep the shapes the optimizations bought.

Covered internals (see OPTIMIZATION_r06.md):
- embedding_near_dups: per-bucket numpy matmul scoring (applyInPandas)
  replaced the JVM join-condition cosine — exactness vs the JVM qcosine
  expression and plan shape (no join, grouped-map node present);
- CowTable._reconcile_by_bucket: Arrow last-per-key reduce must equal the
  max_by formulation on multiplicities, ties and delete tombstones;
- shingles()/winnowing(): the hoisted-norm forms are pinned against a
  reference implementation evaluated the trivially-correct way.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tiflow_spark.functions import dedup as dd
from tiflow_spark.functions import similarity as sim
from tiflow_spark.functions.xhash import qvec


@pytest.fixture(scope="module")
def spark():
    from tiflow_spark.session import get_spark

    return get_spark("test_round6", cores=4, shuffle_partitions=4)


def _vectors(spark, n=64, dim=8):
    # deterministic vectors with planted near-dup pairs (i, i+1 for even i)
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: (
                (F.xxhash64((F.col("id") / 2).cast("long"), d) % 1000).cast("double")
                / 1000.0
                + (F.col("id") % 2) * 0.001
            ),
        ).alias("embedding"),
    )


def test_near_dups_matches_jvm_qcosine(spark):
    """The numpy matmul path must reproduce the JVM qcosine expression
    bit-for-bit: recompute sim for every emitted pair with the original
    zip_with/aggregate expression and compare exact doubles."""
    vecs = _vectors(spark)
    dups = sim.embedding_near_dups(vecs, dim=8, threshold=0.6, n_planes=3)
    rows = dups.collect()
    assert len(rows) > 0

    q = vecs.select("vec_id", qvec(F.col("embedding")).alias("qv"))
    a = q.withColumnsRenamed({"vec_id": "id_a", "qv": "qa"})
    b = q.withColumnsRenamed({"vec_id": "id_b", "qv": "qb"})
    pairs = spark.createDataFrame(
        [(r["id_a"], r["id_b"], r["sim"]) for r in rows],
        "id_a long, id_b long, sim double",
    )
    jvm = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", "sim", sim.qcosine(F.col("qa"), F.col("qb")).alias("jvm_sim"))
        .collect()
    )
    for r in jvm:
        assert r["sim"] == r["jvm_sim"], (r["id_a"], r["id_b"], r["sim"], r["jvm_sim"])


def test_near_dups_plan_has_no_pairwise_join(spark):
    """The B^2 pair materialization is gone: scoring is a grouped-map node,
    not a join whose condition carries the cosine."""
    plan = sim.embedding_near_dups(_vectors(spark), dim=8, threshold=0.6)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan, plan
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" not in plan, plan


def test_near_dups_multi_table_dedup(spark):
    """n_tables > 1 must not emit a pair twice even when it collides in
    several hash tables."""
    vecs = _vectors(spark, n=32)
    dups = sim.embedding_near_dups(vecs, dim=8, threshold=0.6, n_planes=2, n_tables=3)
    rows = [(r["id_a"], r["id_b"]) for r in dups.collect()]
    assert len(rows) == len(set(rows))


def test_near_dups_exclude_zero_vectors_without_warning():
    """A zero vector's cosine is 0/0: the bucket scorer drops it before the
    matmul, so it pairs with nothing and numpy raises no RuntimeWarning."""
    import warnings

    import pandas as pd

    bucket = pd.DataFrame(
        {"id": [3, 1, 2], "qv": [[0, 0, 0, 0], [5, 1, 0, 2], [5, 1, 0, 2]]}
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        pairs = sim._score_bucket(bucket, 0.4)
    assert pairs.values.tolist() == [[1, 2, 1.0]]
    assert sim._score_bucket(bucket[bucket["id"] != 2], 0.4).empty


def test_reconcile_by_bucket_equals_max_by(spark, tmp_path):
    """The Arrow last-per-key reduce must agree with the max_by formulation
    on ties, multiplicities and tombstones."""
    from tiflow_spark.sinks.cow_table import VERSION_COLS, CowTable

    table = CowTable(
        spark, str(tmp_path / "t"), n_buckets=4, data_schema={"text": "string"}
    )
    rows = [
        # key, text, commit, start, op_order, deleted
        ("c1", 0, "old", 100, 99, 3, False),
        ("c1", 0, "new", 200, 199, 2, False),
        ("c1", 0, "new", 200, 199, 2, False),   # exact tie (redelivery)
        ("c2", 1, "only", 50, 49, 1, True),     # tombstone wins alone
        ("c3", 2, "a", 10, 9, 1, False),
        ("c3", 2, "b", 10, 9, 2, False),        # op_order breaks the tie
    ]
    cand = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, text string, __commit_ts long, "
        "__start_ts long, __op_order int, __deleted boolean",
    ).withColumn("bucket", table._bucket_col())

    got = sorted(
        map(tuple, table._reconcile_by_bucket(cand).drop("bucket").collect())
    )
    ver = F.struct(*[F.col(c) for c in VERSION_COLS])
    val_cols = [c for c in cand.columns if c not in table.key_cols]
    ref = sorted(
        map(
            tuple,
            cand.groupBy(*table.key_cols)
            .agg(F.max_by(F.struct(*val_cols), ver).alias("_w"))
            .select(*table.key_cols, *[F.col(f"_w.{c}").alias(c) for c in val_cols])
            .drop("bucket")
            .collect(),
        )
    )
    assert got == ref
    assert len(got) == 3


def test_reconcile_by_bucket_roundtrips_timestamps(spark, tmp_path):
    """Arrow reduce must hand timestamp columns back unchanged (the
    spark-submit tz-alias case: input batches may say Etc/UTC)."""
    import datetime

    from tiflow_spark.sinks.cow_table import CowTable

    table = CowTable(
        spark, str(tmp_path / "t2"), n_buckets=2, data_schema={"ts": "timestamp"}
    )
    t0 = datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)
    cand = spark.createDataFrame(
        [("k", 0, t0, 10, 9, 1, False)],
        "conv_id string, turn_idx int, ts timestamp, __commit_ts long, "
        "__start_ts long, __op_order int, __deleted boolean",
    ).withColumn("bucket", table._bucket_col())
    out = table._reconcile_by_bucket(cand).collect()
    assert out[0]["ts"] == t0


def test_shingles_match_reference_form(spark):
    """The hoisted-norm shingles must equal the naive per-row Python
    computation (the pre-optimization semantics)."""
    import re

    docs = spark.createDataFrame(
        [(1, "The  quick\tbrown fox"), (2, "ab"), (3, "  x  ")],
        "doc_id long, text string",
    )
    got = {
        (r["id"], r["shingle"])
        for r in dd.shingles(docs, n=3, distinct=True).collect()
    }
    want = set()
    for i, txt in [(1, "The  quick\tbrown fox"), (2, "ab"), (3, "  x  ")]:
        norm = re.sub(r"\s+", " ", txt.lower())
        L = max(len(norm) - 2, 1)
        for j in range(L):
            want.add((i, norm[j : j + 3]))
    assert got == want


def test_winnowing_matches_reference_form(spark):
    """Hoisted-array winnowing equals the direct computation."""
    import re

    from tiflow_spark.functions.xhash import h60_py

    text = "the quick brown fox jumped over the lazy dog"
    docs = spark.createDataFrame([(7, text)], "doc_id long, text string")
    got = {
        (r["id"], r["fp"])
        for r in dd.winnowing_fingerprints(docs, k=5, window=4).collect()
    }
    norm = re.sub(r"\s+", " ", text.lower())
    hashes = [h60_py(norm[i : i + 5]) for i in range(max(len(norm) - 4, 1))]
    want = {
        (7, min(hashes[w : w + 4]))
        for w in range(max(len(hashes) - 3, 1))
    }
    assert got == want
