"""Batched relation-scoring kernel (SURVEY.md §2.12 #4, §2.10 M1–M7).

``score_pairs`` applies the frozen iDepNN forward pass (bi-RNN over the
iSDP + TreeRNN over the ADP) to featurized candidates inside
``mapInPandas``. Weights are broadcast once per job (the reference
reloads ``.npy`` files per run, ``elman_bidirection_RC.py:1273-1281``);
each Arrow chunk is scored with batched matmuls — no per-row Python.

Output mirrors the reference's ``.decision``/``.prob`` sinks
(``elman-bidirection.py:2547-2562``) as columns: ``y_pred`` (argmax)
and ``p_rel`` (P(class=1)).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import kernels
from ..config import PREDICATE, SCORE_THRESHOLD
from .graph import featurize_rows


FEATURE_COLS = [
    "sdp_gidx",
    "sdp_words",
    "sdp_pos",
    "sdp_iob",
    "pi_e1",
    "pi_e2",
    "win_words",
    "parents",
]

PASSTHROUGH_COLS = [
    "conv_id",
    "cand_id",
    "cand_seq",
    "e1_id",
    "e2_id",
    "e1_surface",
    "e2_surface",
    "k",
    # candidate coordinates: define the reference's encounter order
    # (a2 R-numbering) downstream of scoring — four ints, negligible
    # Arrow width next to wtexts
    "sent1",
    "tok1",
    "sent2",
    "tok2",
]


def score_pairs(
    featurized: DataFrame,
    weights=None,
    keep_cols: list[str] | None = None,
    emit_second: bool = False,
    use_ent_pres: bool = False,
) -> DataFrame:
    """featurized (ok rows) → (keep_cols…, y_pred int, p_rel double).

    Arrow traffic is pruned on both sides of the kernel: only the
    feature arrays + ``keep_cols`` enter Python, and only ``keep_cols``
    + scores come back (the feature arrays never cross the boundary
    twice). ``keep_cols`` defaults to the id/surface columns
    ``emit_triples`` needs.

    ``emit_second=True`` adds ``y_2nd`` — the reference's 2nd-ranked
    class (O3, ``elman-bidirection.py:924-926``), gated off by default
    exactly like the reference's ``RANKING=False``.

    ``use_ent_pres=True`` (M12 consumption,
    ``augment_entity_presence``) feeds the raw entity-presence bit
    pair into the input concat — weights must then come from
    ``init_weights(use_ent_pres=True)`` (xdim+2); gated off in the
    trained artifact.
    """
    if weights is None:
        weights = kernels.init_weights()
    if keep_cols is None:
        keep_cols = [c for c in PASSTHROUGH_COLS if c in featurized.columns]
    wlists = kernels.weights_to_lists(weights)
    sc = featurized.sparkSession.sparkContext
    bweights = sc.broadcast(wlists)

    feat_cols = FEATURE_COLS + (
        ["ent_pres_e1", "ent_pres_e2"] if use_ent_pres else []
    )
    pruned = featurized.select(*keep_cols, *feat_cols)
    keep_fields = [f for f in pruned.schema.fields if f.name in keep_cols]
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in keep_fields)
        + ", y_pred int, p_rel double"
        + (", y_2nd int" if emit_second else "")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        W = kernels.weights_from_lists(bweights.value)
        for pdf in batches:
            rows = [
                {k: list(getattr(r, k)) for k in feat_cols}
                for r in pdf.itertuples(index=False)
            ]
            probs = kernels.score_batch(rows, W, use_ent_pres=use_ent_pres)
            out = pdf[keep_cols].reset_index(drop=True).copy()
            out["y_pred"] = probs.argmax(axis=1).astype("int32")
            out["p_rel"] = probs[:, 1]
            if emit_second:
                out["y_2nd"] = kernels.second_ranked(probs)
            yield out

    return pruned.mapInPandas(run, schema=out_schema)


def featurize_and_score(
    windows: DataFrame,
    weights=None,
    keep_cols: list[str] | None = None,
    tokenizer: str = "split",
) -> DataFrame:
    """Fused featurize+score kernel: candidate windows → (keep_cols…,
    ok boolean, y_pred int, p_rel double) in ONE ``mapInPandas`` pass.

    This is the pipeline's one scoring stage, fast and checkpointed
    runs alike: the fat feature arrays never cross the JVM↔Python
    boundary at all (built and consumed inside the same Arrow batch).
    Every window yields one row; a window that does not featurize
    gets ``ok = false``, ``y_pred = 0`` and NULL ``p_rel``, so it
    never passes a threshold and stays visible as quarantine. The
    staged operators (``featurize_pair`` → ``score_pairs``) serve the
    feature-output queries, training and the per-layer benchmark.
    """
    if weights is None:
        weights = kernels.init_weights()
    if keep_cols is None:
        keep_cols = [c for c in PASSTHROUGH_COLS if c in windows.columns]
    wlists = kernels.weights_to_lists(weights)
    bweights = windows.sparkSession.sparkContext.broadcast(wlists)

    in_cols = keep_cols + ["sent1", "tok1", "sent2", "tok2", "smin", "wtexts"]
    in_cols = list(dict.fromkeys(in_cols))  # dedup, preserve order
    pruned = windows.select(*in_cols)
    keep_fields = [f for f in pruned.schema.fields if f.name in keep_cols]
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in keep_fields)
        + ", ok boolean, y_pred int, p_rel double"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        W = kernels.weights_from_lists(bweights.value)
        for pdf in batches:
            feats = featurize_rows(pdf, tokenizer)
            ok_rows = [f for f in feats if f is not None]
            probs = kernels.score_batch(ok_rows, W)
            out = pdf[keep_cols].reset_index(drop=True).copy()
            ok = np.array([f is not None for f in feats])
            y = np.zeros(len(feats), dtype="int32")
            p = np.full(len(feats), np.nan)
            if len(ok_rows):
                y[ok] = probs.argmax(axis=1).astype("int32")
                p[ok] = probs[:, 1]
            out["ok"] = ok
            out["y_pred"] = y
            out["p_rel"] = p
            yield out

    return pruned.mapInPandas(run, schema=out_schema)


def ensemble_or_vote(
    scored_models: list[tuple[DataFrame, float]], key: str = "cand_id"
) -> DataFrame:
    """U3 ensemble OR-vote (``bb2016_threshold_ensemble.py:69-99``):
    accept a candidate when ANY model's score clears its own threshold.

    ``scored_models`` is a list of (scored DF with ``p_rel``, θ) pairs
    over the same candidates. Expressed as per-model boolean columns
    joined on the candidate key and OR-ed — pure Column algebra, one
    broadcast-able join per extra model.
    """
    base_df, base_thr = scored_models[0]
    out = base_df.withColumn("vote_0", (F.col("p_rel") >= base_thr)).select(
        key, "p_rel", "vote_0"
    )
    for i, (df, thr) in enumerate(scored_models[1:], start=1):
        out = out.join(
            df.select(
                F.col(key),
                (F.col("p_rel") >= thr).alias(f"vote_{i}"),
                F.col("p_rel").alias(f"p_rel_{i}"),
            ),
            key,
        )
    votes = [F.col(f"vote_{i}") for i in range(len(scored_models))]
    accept = votes[0]
    for v in votes[1:]:
        accept = accept | v
    return out.withColumn("accepted", accept)


def emit_triples(scored: DataFrame, threshold: float = SCORE_THRESHOLD) -> DataFrame:
    """Threshold + triple assembly (reference: ``bb2016_threshold.py:44-81``).

    Output: ``(conv_id, subj, pred, obj, subj_surface, obj_surface,
    k, score, cand_id)`` — one row per accepted candidate; dedup /
    canonicalization happen downstream (A10/G6).
    """
    return (
        scored.filter(F.col("p_rel") >= threshold)
        .select(
            "conv_id",
            F.col("e1_id").alias("subj"),
            F.lit(PREDICATE).alias("pred"),
            F.col("e2_id").alias("obj"),
            F.col("e1_surface").alias("subj_surface"),
            F.col("e2_surface").alias("obj_surface"),
            "k",
            F.round(F.col("p_rel"), 6).alias("score"),
            "cand_id",
        )
    )
