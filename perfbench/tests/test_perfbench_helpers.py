"""Tests for the benchmark's own helpers (no Spark session needed).

Run: ``python3 -m pytest perfbench/tests -q``
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os

import pytest

import gate
import run
import workloads
from cross_sentence_relation_extraction_idepnn_spark.config import ENTITY_ALIASES

BENCHMARK_JSON = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def _digest(w, seed, d) -> str:
    path = os.path.join(workloads.write_corpus(w, seed, str(d)), "documents.parquet")
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_gives_byte_identical_corpus(tmp_path, name):
    w = workloads.WORKLOADS[name]
    assert _digest(w, 7, tmp_path / "a") == _digest(w, 7, tmp_path / "b")


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_seed_change_alters_corpus(tmp_path, name):
    w = workloads.WORKLOADS[name]
    assert _digest(w, 7, tmp_path / "a") != _digest(w, 8, tmp_path / "b")


def test_corpus_has_fixture_schema_and_shape():
    w = workloads.WORKLOADS["kg_dense"]
    t = workloads.generate(w, 3)
    assert [(f.name, str(f.type)) for f in t.schema] == [
        ("doc_id", "int64"), ("text", "string"), ("lang", "string"),
        ("source", "string"), ("n_chars", "int64"),
    ]
    texts = t.column("text").to_pylist()
    assert t.num_rows == w.n_convs
    assert t.column("n_chars").to_pylist() == [len(x) for x in texts]
    words = " ".join(texts).split(" ")
    share = sum(x in ENTITY_ALIASES for x in words) / len(words)
    assert abs(share - w.alias_share) < 0.02
    fillers = {x for x in words if x not in ENTITY_ALIASES}
    assert fillers <= set(workloads.filler_words(w.filler_vocab))


def test_filler_words_are_distinct_and_never_aliases():
    fw = workloads.filler_words(5000)
    assert len(set(fw)) == 5000
    assert not set(fw) & set(ENTITY_ALIASES)


def test_n_turns_counts_started_turns():
    w = dataclasses.replace(workloads.WORKLOADS["kg_dense"], n_convs=5)
    t = workloads.generate(w, 1)
    expect = sum(-(-len(x.split(" ")) // 8) for x in t.column("text").to_pylist())
    assert workloads.n_turns(t) == expect


@pytest.fixture(scope="module")
def tiny_oracle(tmp_path_factory):
    w = dataclasses.replace(workloads.WORKLOADS["kg_dense"], n_convs=12, words=80)
    d = workloads.write_corpus(w, 5, str(tmp_path_factory.mktemp("corpus")))
    return gate.oracle_kg(d)


def test_oracle_gate_accepts_the_oracle_itself(tiny_oracle):
    kg = tiny_oracle.sample(frac=1.0, random_state=0).assign(max_score=0.9)
    assert len(kg) > 0
    assert gate.kg_matches(kg, tiny_oracle)


def test_oracle_gate_flags_one_perturbed_support(tiny_oracle):
    kg = tiny_oracle.assign(max_score=0.9)
    kg.loc[kg.index[0], "support"] += 1
    assert not gate.kg_matches(kg, tiny_oracle)


def test_oracle_gate_flags_dtype_and_row_changes(tiny_oracle):
    kg = tiny_oracle.assign(max_score=0.9)
    assert not gate.kg_matches(kg.astype({"support": "float64"}), tiny_oracle)
    assert not gate.kg_matches(kg.iloc[1:], tiny_oracle)


def test_benchmark_json_declares_the_workloads_and_unique_metrics():
    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert run.declared("end_to_end")["setup_s"] == "s"


@pytest.mark.parametrize("kind", ["end_to_end", "per_layer"])
def test_emit_prints_only_declared_metrics(kind):
    units = run.declared(kind)
    ok = {k: 1.0 for k in units}
    line = json.loads(run.emit(ok, units, attempted=3, failed=0))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"]
    assert {k: v["unit"] for k, v in line["metrics"].items()} == units
    assert not json.loads(run.emit(ok, units, attempted=3, failed=1))["correct"]
    with pytest.raises(ValueError):
        run.emit({**ok, "undeclared": 1.0}, units, 1, 0)
    with pytest.raises(ValueError):
        run.emit({k: 1.0 for k in list(units)[1:]}, units, 1, 0)


def test_tracer_records_parents_and_dumps_tagged_spans(tmp_path):
    from layers import Tracer

    tr = Tracer("kg_dense", 9)
    with tr.span("run"):
        with tr.span("layer"):
            pass
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["layer"]["parent"] == "run" and by_name["run"]["parent"] is None
    assert by_name["run"]["start"] <= by_name["layer"]["start"] <= by_name["layer"]["end"]
    assert tr.seconds("run") >= tr.seconds("layer")
    path = tmp_path / "t.json"
    tr.dump(str(path), {"cores": 1})
    spans = json.loads(path.read_text())["spans"]
    assert [s["name"] for s in spans] == ["run", "layer"]
    assert all(s["workload"] == "kg_dense" and s["seed"] == 9 for s in spans)


def test_worker_rss_is_zero_without_spark_workers():
    assert run.worker_rss_mb() == 0.0

