"""End-to-end KG-construction pipeline (SURVEY.md §3 Spark lifecycle).

Every entry point runs ONE stage chain::

    transcripts → sentences (W1/T1) → mentions (J7/J2)
      → candidates (J3/F2/W4/W5: band join on (conv_id, bucket))
      → scored: windows → featurize (G1–G5) + score (M1–M7) in one
        fused Arrow kernel; quarantine = the rows with ``ok = false``
      → triples (threshold) → canonicalize (G6) → kg (dedup A10)

A stage hook decides what happens at each stage boundary. The fast
hook persists sentences and mentions in memory and leaves every other
stage lazy; the checkpointed hook (``warehouse=...``) writes every
stage as a resumable parquet checkpoint with lineage counters (see
checkpoint.py), so a killed job re-run reuses completed stages and
produces the identical triple table. Both modes build the same plans:
their outputs agree on every column, ``cand_id`` (``conv#e1#e2``)
included.

Shuffle topology: segmentation's sent_idx window keys on ``conv_id``,
the candidate band join on ``(conv_id, bucket)``, nearest-pair
selection on (conv_id, e1, e2) and the dedup groupBy on
(subj, pred, obj). Everything else is narrow.

Skew: a single multi-million-turn conversation would hot-spot a
``conv_id``-keyed pair join. The band join keys on
``(conv_id, bucket)`` with ``bucket = sent_idx DIV (MAX_K + 1)`` and
meets each OBJ mention with the OPs of its own and both adjacent
buckets: two sentences at most MAX_K apart are at most one bucket
apart, so no pair is lost, and each OBJ copy carries a distinct
bucket, so no pair meets twice (SURVEY.md §7.3.4;
``operators/candidates.py``). A conversation of n sentences spreads
over ceil(n / (MAX_K + 1)) join keys; AQE skew-join splitting covers
residual imbalance.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..config import MAX_K, SCORE_THRESHOLD
from ..session import input_plan_memo, persisted_memo, track_cache
from ..operators.candidates import candidate_pairs_fast
from ..operators.graph import candidate_windows
from ..operators.linking import canonicalize, dedup_triples, rekey_canonical
from ..operators.mentions import detect_mentions
from ..operators.scoring import emit_triples, featurize_and_score
from ..operators.segmentation import segment
from ..sources.transcripts import transcripts
from ..training import load_weights
from .checkpoint import Checkpointer

# (stage name, build, upstream stage names) → the stage's DataFrame
StageHook = Callable[[str, Callable[[], DataFrame], list[str]], DataFrame]


def _fast(name: str, build: Callable[[], DataFrame], upstream: list[str]) -> DataFrame:
    """Fast-mode stage hook. The sentence table feeds both sides of the
    candidate self-join and the window fold; the mention table feeds
    both sides of the self-join and the canonicalization edge build.
    Both are persisted once instead of re-derived per consumer
    (VERDICT r3 #3: the duplicated mention pass was the kg_materialize
    growth, 7.6 → 12.7 → 17.9 s across rounds). Every other stage
    stays lazy."""
    df = build()
    if name in ("sentences", "mentions"):
        df = track_cache(df.persist(StorageLevel.MEMORY_ONLY))
    return df


def _checkpointed(spark: SparkSession, warehouse: str, resume: bool) -> StageHook:
    """Checkpointed-mode stage hook: ``Checkpointer.stage`` per stage."""
    cp = Checkpointer(spark, warehouse)
    return lambda name, build, upstream: cp.stage(
        name, build, upstream=upstream, resume=resume
    )


def _scored(cands: DataFrame, sents: DataFrame, weights, tokenizer: str) -> DataFrame:
    # the entry holds the weights object, so its id stays unique
    return input_plan_memo(
        ("scored", tokenizer),
        (cands, sents, weights),
        lambda: featurize_and_score(
            candidate_windows(cands, sents), weights=weights, tokenizer=tokenizer
        ),
    )


def _chain(
    spark: SparkSession,
    tdf: DataFrame,
    stage: StageHook,
    threshold: float = SCORE_THRESHOLD,
    max_k: int = MAX_K,
    weights=None,
    segmenter=None,
    tokenizer: str = "split",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The stage chain from transcripts to triples, every boundary
    handed to ``stage``; returns (mentions, scored, triples).

    ``scored`` keeps one row per candidate: featurize + score run as
    ONE fused Arrow kernel, so the feature arrays never cross the
    JVM↔Python boundary, and a row whose window does not featurize
    comes out with ``ok = false`` and NULL ``p_rel`` — it lands in
    ``quarantine`` and never passes the threshold. Candidate and
    scoring plans are memoized on their inputs' identities (r6): on
    the fast path ``segment``/``detect_mentions``/``load_weights`` hand
    back stable objects, so the most expensive py4j tree in the engine
    builds once per session; the memo holds LAZY plans — every action
    still recomputes from parquet."""
    weights = weights if weights is not None else load_weights()
    seg = segmenter if segmenter is not None else segment
    sents = stage("sentences", lambda: seg(tdf), ["transcripts"])
    mens = stage(
        "mentions",
        lambda: detect_mentions(spark, sents, tokenizer=tokenizer),
        ["sentences"],
    )
    cands = stage(
        "candidates", lambda: candidate_pairs_fast(mens, max_k), ["mentions"]
    )
    scored = stage(
        "scored",
        lambda: _scored(cands, sents, weights, tokenizer),
        ["candidates", "sentences"],
    )
    stage("quarantine", lambda: scored.filter(~F.col("ok")), ["scored"])
    triples = stage(
        "triples", lambda: emit_triples(scored, threshold=threshold), ["scored"]
    )
    return mens, scored, triples


def _kg(spark: SparkSession, sf_dir: str, stage: StageHook, **kwargs) -> DataFrame:
    """The full chain: triples re-keyed by the canonical entity map of
    the chain's own mention table (G6), then deduped (A10)."""
    mens, _, triples = _chain(spark, transcripts(spark, sf_dir), stage, **kwargs)
    return stage(
        "kg",
        lambda: dedup_triples(rekey_canonical(triples, canonicalize(mens))),
        ["triples"],
    )


def scored_from_transcripts(
    spark: SparkSession,
    tdf: DataFrame,
    max_k: int = MAX_K,
    weights=None,
    segmenter=None,
    tokenizer: str = "split",
) -> DataFrame:
    """Scored candidate pairs, pre-threshold — feeds both
    ``emit_triples`` and the official-eval ``.a2`` assembly
    (``a2_annotation_lines``)."""
    return _chain(
        spark, tdf, _fast, max_k=max_k, weights=weights,
        segmenter=segmenter, tokenizer=tokenizer,
    )[1]


def scored_from_shared(
    sents: DataFrame,
    mens: DataFrame,
    max_k: int = MAX_K,
    weights=None,
    tokenizer: str = "split",
) -> DataFrame:
    """The chain's candidates → scored stages over ALREADY-BUILT
    (ideally persisted) sentence and mention tables, memoized on
    (sents, mens, weights) identity like the chain itself."""
    weights = weights if weights is not None else load_weights()
    return _scored(candidate_pairs_fast(mens, max_k), sents, weights, tokenizer)


def triples_from_transcripts(
    spark: SparkSession,
    tdf: DataFrame,
    threshold: float = SCORE_THRESHOLD,
    max_k: int = MAX_K,
    weights=None,
    segmenter=None,
    tokenizer: str = "split",
) -> DataFrame:
    """Fast path over an arbitrary transcript DataFrame (the production
    entry point — any Iceberg/parquet transcript table plugs in here).

    ``segmenter``/``tokenizer`` gate the punkt/treebank end-to-end mode
    for punctuated corpora (T1/T2): pass ``segment_punkt`` and
    ``'treebank'`` and every stage — segmentation, mention detection,
    featurization — shares the same token coordinate system
    (parity-checked against a single-node numpy pipeline in
    ``tests/test_parity.py``)."""
    return _chain(
        spark, tdf, _fast, threshold=threshold, max_k=max_k,
        weights=weights, segmenter=segmenter, tokenizer=tokenizer,
    )[2]


def extract_triples(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str | None = None,
    threshold: float = SCORE_THRESHOLD,
    max_k: int = MAX_K,
    resume: bool = True,
    weights=None,
    segmenter=None,
    tokenizer: str = "split",
) -> DataFrame:
    """Full pipeline → per-candidate triples (pre-dedup).

    With ``warehouse`` set, every stage checkpoints (resumable);
    without, the whole chain runs as one lazy plan over persisted
    sentences and mentions. The ``segmenter``/``tokenizer`` gates
    (punkt/treebank mode) apply to BOTH modes.
    """
    stage = _fast if warehouse is None else _checkpointed(spark, warehouse, resume)
    return _chain(
        spark, transcripts(spark, sf_dir), stage, threshold=threshold,
        max_k=max_k, weights=weights, segmenter=segmenter,
        tokenizer=tokenizer,
    )[2]


def materialize_kg(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str | None = None,
    **kwargs,
) -> DataFrame:
    """Triples → canonical entity map → deduped KG table.

    Canonical components re-key subj/obj (G6) before the A10 dedup
    shuffle; the component map is tiny → broadcast join. The mention
    table feeds both the candidate self-join and the canonicalization
    edge build: the fast path hands both the one persisted mention
    table, the checkpointed path (``warehouse``; ``resume`` as in
    ``extract_triples``) the written ``mentions`` stage.

    Session-level memo (default-argument path only): ~15 analytics
    queries take the materialized KG as input; in one session (the
    driver correctness harness runs them back-to-back) each would
    otherwise re-run the whole extraction pipeline for an identical
    dimension-sized table — which is exactly what "materialize" is
    supposed to prevent. The memoized KG is persisted with lineage
    intact and registered with ``track_cache``; after a
    ``release_caches()`` (bench does this per query so its timings
    keep including the honest rebuild) the next call rebuilds fresh,
    so the shared-subtree persists inside the rebuild stay effective.
    ``invalidate_parquet_cache(path)`` drops the KG built on ``path``.
    """
    if warehouse is None and not kwargs:
        return persisted_memo(
            spark,
            ("materialize_kg", sf_dir),
            lambda: track_cache(
                _kg(spark, sf_dir, _fast).persist(StorageLevel.MEMORY_AND_DISK)
            ),
        )
    resume = kwargs.pop("resume", True)
    stage = _fast if warehouse is None else _checkpointed(spark, warehouse, resume)
    return _kg(spark, sf_dir, stage, **kwargs)


def temporal_kg(
    spark: SparkSession,
    sf_dir: str | None = None,
    tdf: DataFrame | None = None,
    canon: DataFrame | None = None,
    threshold: float = SCORE_THRESHOLD,
) -> DataFrame:
    """Temporal KG: per canonical triple, the observation window
    (first/last conversation timestamp) and distinct-conversation
    support — ``(subj, pred, obj, first_seen, last_seen, n_convs)``.

    Runs the fast stage chain, so the one persisted mention table feeds
    both the candidate self-join and the canonicalization edge build,
    as in ``materialize_kg``. All three
    aggregates are decomposable (min / max / count-distinct under
    conv-partitioned deltas), so ``merge_kg_tables``-style incremental
    maintenance extends to the temporal columns: pass per-delta
    ``tdf`` slices and a globally-built ``canon`` map, then merge with
    (min first_seen, max last_seen, sum n_convs) — proven equal to the
    full rebuild in ``tests/test_oracle_parity.py``. The conv-grain
    timestamp dimension joins on ``conv_id`` — the key the pipeline
    already shuffles on (conv-grain ≪ corpus; AQE picks broadcast vs
    shuffle by size)."""
    if tdf is None:
        tdf = transcripts(spark, sf_dir)
    mens, _, triples = _chain(spark, tdf, _fast, threshold=threshold)
    if canon is None:
        canon = canonicalize(mens)
    conv_ts = tdf.groupBy("conv_id").agg(
        F.min(F.col("ts").cast("long")).alias("c_first"),
        F.max(F.col("ts").cast("long")).alias("c_last"),
    )
    return (
        rekey_canonical(triples, canon)
        .join(conv_ts, "conv_id")
        .groupBy("subj", "pred", "obj")
        .agg(
            F.min("c_first").alias("first_seen"),
            F.max("c_last").alias("last_seen"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
    )
