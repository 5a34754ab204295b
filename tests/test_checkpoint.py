"""Checkpoint/resume semantics (north rule: killed job resumes
idempotently with per-partition lineage + counters; SURVEY.md §5.2.4)."""

from __future__ import annotations

import os
import shutil

import pandas as pd
from pyspark.sql import functions as F

from cross_sentence_relation_extraction_idepnn_spark.plans.checkpoint import (
    Checkpointer,
)
from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
    extract_triples,
    materialize_kg,
)


def _sorted_pdf(df):
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(cols).reset_index(drop=True)


def _triples_pdf(spark, sf_dir, warehouse):
    return _sorted_pdf(extract_triples(spark, sf_dir, warehouse=warehouse))


def test_fast_equals_checkpointed_on_all_columns(spark, sf_dir, tmp_path):
    """Fast and checkpointed runs share one stage chain, so triples
    and KG agree on every column, ``cand_id`` included."""
    wh = str(tmp_path / "wh_eq")
    pd.testing.assert_frame_equal(
        _sorted_pdf(extract_triples(spark, sf_dir)), _triples_pdf(spark, sf_dir, wh)
    )
    pd.testing.assert_frame_equal(
        _sorted_pdf(materialize_kg(spark, sf_dir)),
        _sorted_pdf(materialize_kg(spark, sf_dir, warehouse=wh)),
    )


def test_checkpointed_quarantine_is_the_not_ok_scored_rows(spark, sf_dir, tmp_path):
    """A candidate that cannot featurize (token 9999) is scored, not
    dropped: ``scored`` keeps one row per candidate, ``quarantine``
    holds exactly its ``ok = false`` rows, and no triple comes of it."""
    wh = str(tmp_path / "wh_q")
    extract_triples(spark, sf_dir, warehouse=wh)
    cp = Checkpointer(spark, wh)
    side = str(tmp_path / "planted")
    cands = cp.read("candidates")
    broken = cands.limit(1).withColumn("tok1", F.lit(9999))
    cands.unionByName(
        broken.withColumn("cand_id", F.lit("planted#broken"))
    ).write.parquet(side)
    cp.stage(
        "candidates", lambda: spark.read.parquet(side), ["mentions"], resume=False
    )
    for stage in ("quarantine", "scored", "triples"):
        shutil.rmtree(os.path.join(wh, stage))

    triples = extract_triples(spark, sf_dir, warehouse=wh)
    meta = {m["stage"]: m for m in cp.meta()}  # the latest row per stage
    assert meta["scored"]["rows"] == meta["candidates"]["rows"]
    n_bad = cp.read("scored").filter(~F.col("ok")).count()
    assert n_bad >= 1
    assert meta["quarantine"]["rows"] == n_bad
    planted = F.col("cand_id") == "planted#broken"
    assert cp.read("quarantine").filter(planted).count() == 1
    assert triples.filter(planted).count() == 0


def test_kill_and_resume_produces_identical_triples(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "wh")
    first = _triples_pdf(spark, sf_dir, wh)
    cp = Checkpointer(spark, wh)
    assert cp.is_complete("sentences") and cp.is_complete("triples")

    # record which stage outputs existed, then simulate a kill after
    # the 'candidates' stage: later stages vanish, earlier ones stay.
    sent_mtime = os.path.getmtime(os.path.join(wh, "sentences", "_SUCCESS"))
    for stage in ("quarantine", "scored", "triples"):
        shutil.rmtree(os.path.join(wh, stage))

    second = _triples_pdf(spark, sf_dir, wh)
    pd.testing.assert_frame_equal(first, second)
    # completed upstream stages were reused, not recomputed
    assert os.path.getmtime(os.path.join(wh, "sentences", "_SUCCESS")) == sent_mtime


def test_lineage_meta_counters(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "wh2")
    extract_triples(spark, sf_dir, warehouse=wh)
    cp = Checkpointer(spark, wh)
    meta = cp.meta()
    stages = {m["stage"] for m in meta}
    assert {"sentences", "mentions", "candidates", "scored", "triples"} <= stages
    by_stage = {m["stage"]: m for m in meta}
    assert by_stage["scored"]["upstream"] == ["candidates", "sentences"]
    for m in meta:
        assert m["rows"] >= 0 and m["wall_sec"] >= 0 and m["n_files"] >= 1
    # counters are real: checkpointed row counts equal a fresh read
    assert cp.read("triples").count() == by_stage["triples"]["rows"]


def test_stage_write_is_single_pass(spark, sf_dir, tmp_path):
    """Counters come from parquet footers: stage() must launch exactly
    as many Spark jobs as the bare write itself — no count()/groupBy
    second scan over the checkpoint."""
    sc = spark.sparkContext
    wh = str(tmp_path / "wh4")

    def build():
        return spark.range(0, 1000, 1, 4).withColumnRenamed("id", "v")

    sc.setJobGroup("bare_write", "baseline")
    build().write.mode("overwrite").parquet(str(tmp_path / "bare"))
    bare_jobs = len(sc.statusTracker().getJobIdsForGroup("bare_write"))

    cp = Checkpointer(spark, wh)
    sc.setJobGroup("cp_stage", "stage write")
    cp.stage("single_pass", build)
    stage_jobs = len(sc.statusTracker().getJobIdsForGroup("cp_stage"))
    sc.setJobGroup(None, None)

    assert bare_jobs >= 1
    assert stage_jobs == bare_jobs
    meta = {m["stage"]: m for m in cp.meta()}["single_pass"]
    assert meta["rows"] == 1000
    assert meta["partitions"]["n"] == meta["n_files"] >= 1
    assert meta["partitions"]["min_rows"] >= 1


def test_resume_false_recomputes(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "wh3")
    a = _triples_pdf(spark, sf_dir, wh)
    mt = os.path.getmtime(os.path.join(wh, "triples", "_SUCCESS"))
    df = extract_triples(spark, sf_dir, warehouse=wh, resume=False)
    df.count()
    assert os.path.getmtime(os.path.join(wh, "triples", "_SUCCESS")) > mt
    b = _triples_pdf(spark, sf_dir, wh)
    pd.testing.assert_frame_equal(a, b)
