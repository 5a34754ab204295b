"""Session helpers: driver-built tables (``local_frame``) and the
invalidation rules of the plan and weights memos."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cross_sentence_relation_extraction_idepnn_spark import session, training
from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
    transcripts,
)

ALL_TYPES = "s string, i int, b bigint, d double, a array<int>"


def _analyzed_class(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_local_frame_round_trips_nulls_exactly(spark):
    rows = [
        ("x", 1, 2**40, 0.25, [1, None, 3]),
        (None, None, None, None, None),
        ("", -7, -(2**62), -1.5, []),
    ]
    df = session.local_frame(spark, rows, ALL_TYPES)
    assert df.schema == T.StructType.fromDDL(ALL_TYPES)
    assert [tuple(r) for r in df.collect()] == rows


def test_local_frame_empty_rows_keep_declared_schema(spark):
    df = session.local_frame(spark, [], ALL_TYPES)
    assert df.schema == T.StructType.fromDDL(ALL_TYPES)
    assert df.collect() == []


def test_local_frame_keeps_struct_type_nullability(spark):
    schema = T.StructType(
        [
            T.StructField("node", T.StringType(), True),
            T.StructField("deg", T.LongType(), False),
        ]
    )
    df = session.local_frame(spark, [("a", 3)], schema)
    assert df.schema == schema


def test_local_frame_analyzes_to_local_relation(spark):
    """A silent fallback to the Python-row path (``LogicalRDD``) would
    bring back the PythonRDD stage on every scan of the table."""
    for rows in ([("x", 1, 2, 0.5, [1])], []):
        df = session.local_frame(spark, rows, ALL_TYPES)
        assert _analyzed_class(df) == "LocalRelation"


def test_save_weights_refreshes_load_weights(tmp_path):
    path = str(tmp_path / "weights.json")
    base = training.load_weights()
    training.save_weights(base, path)
    assert training.load_weights(path) is training.load_weights(path)
    rng = np.random.default_rng(7)
    d = base["W_hy_adp"].shape[0]
    trained = training.train_head(
        rng.normal(size=(32, d)), rng.integers(0, 2, size=32), base
    )
    assert not np.array_equal(trained["W_hy_adp"], base["W_hy_adp"])
    training.save_weights(trained, path)
    loaded = training.load_weights(path)
    for k, v in trained.items():
        np.testing.assert_array_equal(loaded[k], v)


def test_scored_plan_memo_follows_reloaded_weights(spark, sf_dir, monkeypatch):
    """After ``save_weights`` → ``load_weights`` hands out a new
    weights object, the default-path scoring plan is rebuilt on it."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
        detect_mentions,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import (
        segment,
    )
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        scored_from_shared,
    )

    sents = segment(transcripts(spark, sf_dir))
    mens = detect_mentions(spark, sents)
    old = scored_from_shared(sents, mens)
    assert scored_from_shared(sents, mens) is old
    fresh = {k: v.copy() for k, v in training.load_weights().items()}
    monkeypatch.setitem(training._WEIGHTS_CACHE, training.ARTIFACT, fresh)
    assert scored_from_shared(sents, mens) is not old


def test_invalidate_parquet_cache_drops_plans_built_on_the_path(
    spark, sf_dir, tmp_path
):
    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = sorted(r[0] for r in src.select("doc_id").limit(6).collect())
    d = str(tmp_path)
    path = f"{d}/documents.parquet"

    def convs() -> set[str]:
        df = transcripts(spark, d).select("conv_id").distinct()
        return {r[0] for r in df.collect()}

    src.filter(F.col("doc_id").isin(ids[:3])).write.parquet(path)
    assert convs() == {f"conv-{i}" for i in ids[:3]}
    other = transcripts(spark, sf_dir)
    src.filter(F.col("doc_id").isin(ids[3:])).write.mode("overwrite").parquet(path)
    session.invalidate_parquet_cache(path)
    assert convs() == {f"conv-{i}" for i in ids[3:]}
    # plans over other paths stay memoized
    assert transcripts(spark, sf_dir) is other


def test_invalidate_parquet_cache_drops_the_persisted_kg(spark, sf_dir, tmp_path):
    """The session memo of ``materialize_kg`` is built on its corpus
    path: after the path is rewritten and invalidated, the memoized KG
    is the KG of the new rows."""
    from cross_sentence_relation_extraction_idepnn_spark.config import SCORE_THRESHOLD
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        materialize_kg,
    )

    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = sorted(r[0] for r in src.select("doc_id").collect())
    d = str(tmp_path)
    path = f"{d}/documents.parquet"

    def kg_rows(df) -> list[tuple]:
        return sorted(tuple(r) for r in df.collect())

    src.filter(F.col("doc_id").isin(ids[:5])).write.parquet(path)
    old = kg_rows(materialize_kg(spark, d))
    src.filter(F.col("doc_id").isin(ids[5:50])).write.mode("overwrite").parquet(path)
    session.invalidate_parquet_cache(path)
    new = kg_rows(materialize_kg(spark, d))
    assert new != old
    # an explicit argument skips the memo: a fresh build on the new rows
    assert new == kg_rows(materialize_kg(spark, d, threshold=SCORE_THRESHOLD))


def test_plan_cache_evicts_least_recently_used(spark, sf_dir):
    """A plan that was just used survives the cache filling past its
    bound; the entries dropped are the least recently used ones."""
    session._PLAN_CACHE.clear()
    plan = transcripts(spark, sf_dir)
    filler = session.local_frame(spark, [], "x int")
    i = 0
    while len(session._PLAN_CACHE) < session._PLAN_CACHE_MAX:
        session.plan_memo(spark, ("lru-filler", i), lambda: filler)
        i += 1
    assert transcripts(spark, sf_dir) is plan  # a hit: now most recent
    for _ in range(session._PLAN_CACHE_MAX - 1):
        session.plan_memo(spark, ("lru-filler", i), lambda: filler)
        i += 1
    assert len(session._PLAN_CACHE) == session._PLAN_CACHE_MAX
    assert transcripts(spark, sf_dir) is plan
    session._PLAN_CACHE.clear()


def test_invalidate_all_rebuilds_the_alias_table(spark):
    from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
        alias_df,
    )

    old = alias_df(spark)
    assert alias_df(spark) is old
    session.invalidate_parquet_cache(None)
    assert alias_df(spark) is not old
