"""Skew handling (north rule: adversarially long conversations) and the
spark-submit --py-files deployment path."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from compare_util import assert_candidates_match_reference
from cross_sentence_relation_extraction_idepnn_spark.config import MAX_K
from cross_sentence_relation_extraction_idepnn_spark.operators.candidates import (
    _bucket,
    candidate_pairs_fast,
)
from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
    detect_mentions,
)
from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import (
    segment,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _skewed_transcripts(spark, long_turns=600, short_convs=40):
    """One adversarially long conversation among many short ones
    (FIXTURES.md §1 skew classes)."""
    vocab = ["scan", "reads", "the", "table", "fast", "join", "row", "data"]
    rows = []
    for t in range(long_turns):
        words = [vocab[(t * 7 + i) % len(vocab)] for i in range(8)]
        rows.append(("conv-long", t, "user", " ".join(words), None))
    for c in range(short_convs):
        for t in range(3):
            words = [vocab[(c + t + i) % len(vocab)] for i in range(8)]
            rows.append((f"conv-s{c}", t, "user", " ".join(words), None))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.timestamp_seconds(F.lit(1704067200) + F.col("turn_idx")))


def test_band_pairs_equal_reference_on_adversarial_skew(spark):
    """The band join must emit the reference candidate set when one
    conversation is 200× longer than the rest — the bucket edges may
    not lose cross-boundary pairs (SURVEY.md §7.3.4)."""
    mens = detect_mentions(spark, segment(_skewed_transcripts(spark)))
    ref = assert_candidates_match_reference(mens, MAX_K)
    assert len(ref) > 0
    assert (ref.conv_id == "conv-long").any()


def test_band_join_spreads_the_hot_conversation(spark):
    """The candidate join keys on (conv_id, bucket), and the long
    conversation spans many of those keys, so no one reducer takes the
    whole of it."""
    mens = detect_mentions(spark, segment(_skewed_transcripts(spark)))
    cands = candidate_pairs_fast(mens)
    cands.write.format("noop").mode("overwrite").save()
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"(SortMergeJoin|HashJoin) \[[^\]]*bucket", plan), plan
    keys = (
        mens.filter(F.col("conv_id") == "conv-long")
        .selectExpr("conv_id", f"{_bucket(MAX_K)} AS bucket")
        .distinct()
        .count()
    )
    assert keys >= 10  # 600 turns × 2 sents / (MAX_K + 1) ≫ 10 buckets


def test_weights_load_from_package_resource():
    """--py-files regression: when the artifact's filesystem path does
    not exist (zipimport), weights must still resolve via package
    resources — not silently fall back to the random init."""
    import numpy as np

    from cross_sentence_relation_extraction_idepnn_spark import kernels
    from cross_sentence_relation_extraction_idepnn_spark.training import load_weights

    via_resource = load_weights(path="/nonexistent/weights.json")
    init = kernels.init_weights()
    assert not np.allclose(via_resource["W_hy_adp"], init["W_hy_adp"])
    direct = load_weights()
    np.testing.assert_array_equal(via_resource["W_hy_adp"], direct["W_hy_adp"])


@pytest.mark.slow
def test_spark_submit_pyfiles_job(tmp_path):
    """End-to-end deployment: build the --py-files zip, run the job via
    spark-submit, check the emitted triple count matches entry()."""
    zip_path = str(tmp_path / "kgengine.zip")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "make_pyfiles.py"), zip_path],
        check=True,
        cwd=ROOT,
    )
    out = subprocess.run(
        [
            "spark-submit",
            "--master", "local[8]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=16",
            "--py-files", zip_path,
            os.path.join(ROOT, "jobs", "run_pipeline.py"),
            "--sf-dir", "/root/testdata/sf0.001",
            "--output", str(tmp_path / "kg"),
        ],
        capture_output=True,
        text=True,
        timeout=400,
        cwd=str(tmp_path),  # away from the repo: imports must come from the zip
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.splitlines() if l.startswith('{"job"')][-1]
    res = json.loads(line)
    assert res["triples"] == 108  # == entry() at sf0.001


def test_results_invariant_under_parallelism(tmp_path):
    """The KG must be bit-identical at different parallelism levels
    (local[2] vs local[16], different shuffle-partition counts) — no
    hidden dependence on partitioning, task order, or AQE decisions."""
    script = r'''
import sys, hashlib
from pyspark.sql import SparkSession
def run(cores, parts):
    spark = (SparkSession.builder.master(f"local[{cores}]")
        .appName(f"inv_{cores}")
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate())
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import materialize_kg
    rows = sorted(map(str, materialize_kg(spark, "/root/testdata/sf0.001").collect()))
    spark.stop()
    return hashlib.md5("\n".join(rows).encode()).hexdigest(), len(rows)
h2 = run(2, 4)
h16 = run(16, 32)
print("H", h2, h16)
assert h2 == h16, (h2, h16)
'''
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=500,
        cwd=ROOT,
    )
    # the script itself asserts hash equality; nonzero rc = divergence
    assert out.returncode == 0, out.stderr[-2000:]
    assert [l for l in out.stdout.splitlines() if l.startswith("H ")]


def test_locate_annotations_hot_turn_key(spark):
    """VERDICT r2 #8 — J2 at scale shape: ONE (conv_id, turn_idx) key
    carrying a 1,000-sentence turn and 10,000 annotations. The fused
    plan must stay correct (vs an independent two-pass loop) and must
    not shuffle the fat annotation side on the hot coarse key: the
    sentence side broadcasts, and the only exchange keys on the
    ann-grain groupBy columns."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
        locate_annotations,
    )

    n_sents, n_anns = 1000, 10000
    sent_rows = [
        ("c0", 0, i, f"t{i:06d}xx", i * 10, i * 10 + 9) for i in range(n_sents)
    ]
    sents = spark.createDataFrame(
        sent_rows,
        "conv_id string, turn_idx int, sent_idx int, sent_text string,"
        " begin int, end int",
    )
    ann_rows = []
    for j in range(n_anns):
        sj = j % n_sents
        drift = 100000 if j % 5 == 0 else 0  # 20% need the contains pass
        ann_rows.append(
            ("c0", 0, f"a{j}", sj * 10 + 2 + drift, sj * 10 + 8 + drift,
             f"t{sj:06d}")
        )
    anns = spark.createDataFrame(
        ann_rows,
        "conv_id string, turn_idx int, ann_id string, a_begin int,"
        " a_end int, surface string",
    )
    import re

    out = locate_annotations(anns, sents)
    got = {r["ann_id"]: (r["sent_idx"], r["via"]) for r in out.collect()}
    # documented default-plan property: the agg piggybacks on the join's
    # coarse partitioning (zero extra exchange) — so the whole fixture
    # rides ONE reducer. The salted variant is the scale remedy:
    salted = locate_annotations(anns, sents, salt=8)
    got_salted = {
        r["ann_id"]: (r["sent_idx"], r["via"]) for r in salted.collect()
    }
    assert got_salted == got  # lossless under salting
    plan = salted._jdf.queryExecution().executedPlan().toString()
    # the join key carries the salt (hot turn spread over 8 reducers)…
    assert re.search(r"SortMergeJoin \[[^\]]*_salt", plan) or re.search(
        r"hashpartitioning\([^)]*_salt", plan
    ), plan
    # …and the post-join exchange keys on the FINE ann-grain columns
    assert re.search(r"Exchange hashpartitioning\([^)]*ann_id", plan), plan
    # independent two-pass reference loop
    sdf = pd.DataFrame(
        sent_rows,
        columns=["conv_id", "turn_idx", "sent_idx", "sent_text", "begin", "end"],
    )
    expected = {}
    for conv, turn, ann_id, ab, _ae, surf in ann_rows:
        hit = sdf[(sdf.begin <= ab) & (ab < sdf.end)]
        if len(hit):
            expected[ann_id] = (int(hit.sent_idx.iloc[0]), "offset")
        else:
            contains = sdf[sdf.sent_text.str.lower().str.contains(surf.lower())]
            if len(contains):
                expected[ann_id] = (int(contains.sent_idx.min()), "contains")
    assert len(got) == n_anns
    assert got == expected
    assert sum(1 for _s, v in got.values() if v == "contains") == n_anns // 5


def test_task_failure_mid_stage_resumes_identically(tmp_path):
    """VERDICT r2 #10 — executor/task-loss resume: a task that dies
    mid-featurize (flaky-once failure injected into an upstream
    mapInPandas) must be retried by Spark (master local[4,2]) and the
    job must produce the IDENTICAL triple set as the clean run."""
    script = r'''
import os, sys, hashlib
from pyspark.sql import SparkSession
MARKER = sys.argv[1] + "/flaky_fired"
spark = (SparkSession.builder.master("local[4,2]")
    .appName("task_retry")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .getOrCreate())
from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import triples_from_transcripts
from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import transcripts

def flaky(batches):
    first = True
    for pdf in batches:
        if first and not os.path.exists(MARKER):
            open(MARKER, "w").write("x")
            raise RuntimeError("injected flaky-once task failure")
        first = False
        yield pdf

tdf = transcripts(spark, "/root/testdata/sf0.001")
schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in tdf.schema.fields)
flaky_tdf = tdf.repartition(4).mapInPandas(flaky, schema=schema)

def h(df):
    return hashlib.md5("\n".join(sorted(map(str, df.collect()))).encode()).hexdigest()

want = h(triples_from_transcripts(spark, tdf))
got = h(triples_from_transcripts(spark, flaky_tdf))
assert os.path.exists(MARKER), "failure never fired"
print("H", want, got)
assert want == got, (want, got)
'''
    out = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=500,
        cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert (tmp_path / "flaky_fired").exists()
    assert [l for l in out.stdout.splitlines() if l.startswith("H ")]
