"""The traced run: per-layer self times and counts, measured from outside.

Each Spark layer's input is materialized first (``localCheckpoint``,
eager, which also gives its row count), then the layer's public call is
timed into a ``noop`` sink, so each span is the layer's own work. Every
span is recorded by a :class:`Tracer` and written to one JSON file at
the end of the run.

The layers run on the same Python workers as the timed KG builds
before them, so the kernel's executor-local memos are as warm as they
are for ``kg_s``. ``kernels.*`` come from a fresh one-core process on
a sample of the workload's windows, so they show the cold kernel.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cross_sentence_relation_extraction_idepnn_spark.operators.candidates import (
    candidate_pairs_fast,
)
from cross_sentence_relation_extraction_idepnn_spark.operators.graph import (
    candidate_windows,
    featurize_pair,
)
from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
    canonicalize,
    dedup_triples,
    rekey_canonical,
)
from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import detect_mentions
from cross_sentence_relation_extraction_idepnn_spark.operators.scoring import (
    PASSTHROUGH_COLS,
    emit_triples,
    featurize_and_score,
    score_pairs,
)
from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import segment
from cross_sentence_relation_extraction_idepnn_spark.session import unpersist_checkpoint
from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import transcripts
from cross_sentence_relation_extraction_idepnn_spark.training import load_weights

KERNEL_SAMPLE = 4000  # windows handed to the one-core kernel probe
BLAS_THREADS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")


class Tracer:
    """Spans ``(name, start, end, parent)`` kept in memory; ``dump``
    writes them, tagged with workload and seed, as one JSON file."""

    def __init__(self, workload: str, seed: int):
        self.workload = workload
        self.seed = seed
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None}
        self._stack.append(name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)

    def seconds(self, name: str) -> float:
        """Duration of the last span called ``name``."""
        rec = next(s for s in reversed(self.spans) if s["name"] == name)
        return rec["end"] - rec["start"]

    def dump(self, path: str, config: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "workload": self.workload,
                    "seed": self.seed,
                    "config": config,
                    "spans": [
                        {**s, "workload": self.workload, "seed": self.seed}
                        for s in sorted(self.spans, key=lambda s: s["start"])
                    ],
                },
                f,
                indent=1,
            )


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Pinned:
    """Eager ``localCheckpoint`` copies of layer outputs, released
    together at the end of the traced run."""

    def __init__(self):
        self.dfs: list[DataFrame] = []

    def __call__(self, df: DataFrame) -> tuple[DataFrame, int]:
        cp = df.localCheckpoint(eager=True)
        self.dfs.append(cp)
        return cp, cp.count()

    def release(self) -> None:
        for df in self.dfs:
            unpersist_checkpoint(df)
        self.dfs.clear()


def layer_metrics(spark: SparkSession, corpus: str, tr: Tracer, work: str) -> dict:
    """Self time and counts of every KG layer on the fast path, the
    staged featurize/score pair, and the one-core kernel probe."""
    m: dict[str, float] = {}
    pin = _Pinned()
    weights = load_weights()

    def timed(name: str, df: DataFrame) -> float:
        with tr.span(name):
            _noop(df)
        return tr.seconds(name)

    try:
        m["transcripts.s"] = timed("transcripts", transcripts(spark, corpus))
        turns, m["transcripts.rows"] = pin(transcripts(spark, corpus))

        m["segmentation.s"] = timed("segmentation", segment(turns))
        sents, m["segmentation.rows"] = pin(segment(turns))

        m["mentions.s"] = timed("mentions", detect_mentions(spark, sents))
        mens, m["mentions.rows"] = pin(detect_mentions(spark, sents))

        m["candidates.s"] = timed("candidates", candidate_pairs_fast(mens))
        cands, n_cands = pin(candidate_pairs_fast(mens))
        m["candidates.rows"] = n_cands
        m["candidates.pair_rows"] = (
            mens.groupBy("conv_id")
            .agg(
                (
                    F.sum((F.col("ner_tag") == "OP").cast("long"))
                    * F.sum((F.col("ner_tag") == "OBJ").cast("long"))
                ).alias("n")
            )
            .agg(F.sum("n"))
            .first()[0]
        )
        m["candidates.kept_ratio"] = n_cands / m["candidates.pair_rows"]

        m["graph.windows_s"] = timed("graph.windows", candidate_windows(cands, sents))
        wins, _ = pin(candidate_windows(cands, sents))
        m["graph.distinct_window_ratio"] = wins.select("wtexts").distinct().count() / n_cands

        keep = [c for c in PASSTHROUGH_COLS if c in wins.columns]
        kernel_in = wins.select(
            *dict.fromkeys(keep + ["sent1", "tok1", "sent2", "tok2", "smin", "wtexts"])
        )
        m["scoring.arrow_s"] = timed(
            "scoring.arrow", kernel_in.mapInArrow(lambda it: it, kernel_in.schema)
        )
        m["scoring.fused_s"] = timed("scoring.fused", featurize_and_score(wins, weights=weights))

        m["graph.featurize_pair_s"] = timed("graph.featurize_pair", featurize_pair(wins))
        feats, _ = pin(featurize_pair(wins))
        ok = feats.filter("ok")
        m["scoring.ok_ratio"] = ok.count() / n_cands
        m["scoring.score_pairs_s"] = timed("scoring.score_pairs", score_pairs(ok, weights=weights))
        triples, n_triples = pin(emit_triples(score_pairs(ok, weights=weights)))
        m["scoring.accept_ratio"] = n_triples / n_cands

        with tr.span("linking.canonicalize"):
            canon = canonicalize(mens)
            _noop(canon)
        m["linking.canonicalize_s"] = tr.seconds("linking.canonicalize")
        kg = dedup_triples(rekey_canonical(triples, canon))
        m["linking.dedup_s"] = timed("linking.dedup", kg)
        m["linking.kg_rows"] = kg.count()

        sample = os.path.join(work, "kernel_sample.parquet")
        sample_df = kernel_in.orderBy("conv_id", "cand_id").limit(KERNEL_SAMPLE)
        sample_df.toPandas().to_parquet(sample)
    finally:
        pin.release()
    with tr.span("kernels"):
        probe = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "kernel_probe.py"), sample],
            check=True,
            capture_output=True,
            text=True,
            timeout=120,
            env={**os.environ, **{v: "1" for v in BLAS_THREADS}},
        )
    k = json.loads(probe.stdout.strip().splitlines()[-1])
    for layer in ("featurize", "birnn", "treernn", "head"):
        m[f"kernels.{layer}_s"] = k[layer]
    return m


FAST_LAYERS = (
    "transcripts.s", "segmentation.s", "mentions.s", "candidates.s",
    "graph.windows_s", "scoring.fused_s", "linking.canonicalize_s", "linking.dedup_s",
)


def layer_sum_ratio(m: dict, kg_times: list[float]) -> float:
    """Σ fast-path layer self times / median end-to-end KG time."""
    return sum(m[k] for k in FAST_LAYERS) / statistics.median(kg_times)
