"""End-to-end KG-construction pipeline (SURVEY.md §3 Spark lifecycle).

``extract_triples`` chains the full dataflow::

    transcripts → segment (W1/T1) → mentions (J7/J2)
      → candidate pairs (J3/F2/W4/W5, optionally salted)
      → windows → featurize (G1–G5, Arrow kernel)
      → score (M1–M7, broadcast frozen weights) → threshold
      → triples → canonicalize (G6) → dedup (A10)

Shuffle topology: segmentation's sent_idx window and the candidate
self-join both key on ``conv_id`` — one logical exchange; the dedup
groupBy keys on (subj, pred, obj). Everything else is narrow.

Skew: a single multi-million-turn conversation would hot-spot the
``conv_id`` shuffle. ``salted_candidate_pairs`` splits each
conversation into overlapping sentence blocks (overlap = MAX_K, so no
cross-pair is lost — SURVEY.md §7.3.4) and dedupes pairs that fall in
two blocks; AQE skew-join splitting covers residual imbalance.

Checkpoint/resume: pass a warehouse path and every stage becomes a
resumable parquet checkpoint with lineage counters (see checkpoint.py);
kill the job at any point and a re-run reuses completed stages,
producing the identical triple table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import MAX_K, SCORE_THRESHOLD
from ..session import track_cache
from ..operators.candidates import (
    CAND_ORDER,
    candidate_pairs,
    candidate_pairs_fast,
)
from ..operators.graph import candidate_windows, featurize_pair
from ..operators.linking import canonicalize, dedup_triples, rekey_canonical
from ..operators.mentions import detect_mentions
from ..operators.scoring import emit_triples, featurize_and_score, score_pairs
from ..operators.segmentation import segment
from ..sources.transcripts import transcripts
from ..training import load_weights
from .checkpoint import Checkpointer

SALT_BLOCK = 64  # sentences per salt block (>> MAX_K)


def salted_candidate_pairs(
    mentions: DataFrame, max_k: int = MAX_K, block: int = SALT_BLOCK
) -> DataFrame:
    """J3 with skew salting: mentions are assigned to sentence blocks of
    ``block`` sentences; a mention within ``max_k`` of a block's start
    is replicated into the previous block, so every pair with
    ``|Δsent| ≤ max_k`` co-occurs in at least one block. The self-join
    keys on (conv_id, salt) — a hot conversation spreads over
    ceil(n_sents/block) reducers. Duplicated pairs collapse via
    dropDuplicates before nearest-pair selection, which repartitions by
    the *finer* (conv_id, e1, e2) key anyway."""
    m = mentions.withColumn("salt", (F.col("sent_idx") / block).cast("int"))
    spill = (
        mentions.filter((F.col("sent_idx") % block < max_k) & (F.col("sent_idx") >= block))
        .withColumn("salt", (F.col("sent_idx") / block).cast("int") - 1)
    )
    salted = m.unionByName(spill)
    m1 = salted.filter(F.col("ner_tag") == "OP").select(
        "conv_id",
        "salt",
        F.col("entity_id").alias("e1_id"),
        F.col("surface").alias("e1_surface"),
        F.col("sent_idx").alias("sent1"),
        F.col("tok_idx").alias("tok1"),
    )
    m2 = salted.filter(F.col("ner_tag") == "OBJ").select(
        "conv_id",
        "salt",
        F.col("entity_id").alias("e2_id"),
        F.col("surface").alias("e2_surface"),
        F.col("sent_idx").alias("sent2"),
        F.col("tok_idx").alias("tok2"),
    )
    pairs = (
        m1.join(m2, ["conv_id", "salt"])
        .withColumn("k", F.abs(F.col("sent2") - F.col("sent1")).cast("int"))
        .filter(F.col("k") <= max_k)
        .drop("salt")
        .dropDuplicates(
            ["conv_id", "e1_id", "e2_id", "sent1", "tok1", "sent2", "tok2"]
        )
    )
    w_near = Window.partitionBy("conv_id", "e1_id", "e2_id").orderBy(*CAND_ORDER)
    near = (
        pairs.withColumn("rn", F.row_number().over(w_near))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    w_seq = Window.partitionBy("conv_id").orderBy(*CAND_ORDER, "e1_id", "e2_id")
    return near.withColumn(
        "cand_seq", F.row_number().over(w_seq).cast("int")
    ).withColumn("cand_id", F.concat_ws("#", "conv_id", "cand_seq"))


def scored_from_transcripts(
    spark: SparkSession,
    tdf: DataFrame,
    max_k: int = MAX_K,
    salted: bool = False,
    weights=None,
    segmenter=None,
    tokenizer: str = "split",
) -> DataFrame:
    """Scored candidate pairs, pre-threshold — feeds both
    ``emit_triples`` and the official-eval ``.a2`` assembly
    (``a2_annotation_lines``).

    Physical-plan choices (see BASELINE.md for measurements):

    - the sentence table is persisted — it feeds BOTH sides of the
      candidate self-join and the window join, and would otherwise be
      recomputed 3×;
    - candidate generation uses the ``min_by`` aggregation variant
      (one exchange instead of two window exchanges);
    - featurize+score run as ONE fused Arrow kernel — feature arrays
      never cross the JVM↔Python boundary.
    """
    from pyspark.storagelevel import StorageLevel

    seg = segmenter if segmenter is not None else segment
    sents = track_cache(seg(tdf).persist(StorageLevel.MEMORY_ONLY))
    mens = detect_mentions(spark, sents, tokenizer=tokenizer)
    return scored_from_shared(
        sents, mens, max_k=max_k, salted=salted, weights=weights, tokenizer=tokenizer
    )


def scored_from_shared(
    sents: DataFrame,
    mens: DataFrame,
    max_k: int = MAX_K,
    salted: bool = False,
    weights=None,
    tokenizer: str = "split",
) -> DataFrame:
    """Scoring subplan over ALREADY-BUILT (ideally persisted) sentence
    and mention tables. ``materialize_kg`` uses this to share ONE
    mention subtree between candidate generation and canonicalization
    instead of re-deriving mentions per consumer (VERDICT r3 #3: the
    duplicated mention pass was the kg_materialize growth).

    Construction is memoized on (sents, mens, weights) identity (r6):
    ``segment``/``detect_mentions``/``load_weights`` all hand back
    stable objects on the default path, so the candidate + fused-
    kernel plan (the most expensive py4j tree in the engine) builds
    once per session. The memo holds a LAZY plan — every action still
    recomputes from parquet."""
    from ..session import input_plan_memo

    weights = weights if weights is not None else load_weights()

    def build() -> DataFrame:
        cands = (
            salted_candidate_pairs(mens, max_k=max_k)
            if salted
            else candidate_pairs_fast(mens, max_k=max_k)
        )
        return featurize_and_score(
            candidate_windows(cands, sents), weights=weights, tokenizer=tokenizer
        )

    # the entry holds the weights object, so its id stays unique
    return input_plan_memo(
        ("scored_from_shared", max_k, salted, tokenizer),
        (sents, mens, weights),
        build,
    )


def triples_from_transcripts(
    spark: SparkSession,
    tdf: DataFrame,
    threshold: float = SCORE_THRESHOLD,
    max_k: int = MAX_K,
    salted: bool = False,
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
    scored = scored_from_transcripts(
        spark, tdf, max_k=max_k, salted=salted, weights=weights,
        segmenter=segmenter, tokenizer=tokenizer,
    )
    return emit_triples(scored, threshold=threshold)


def extract_triples(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str | None = None,
    threshold: float = SCORE_THRESHOLD,
    max_k: int = MAX_K,
    salted: bool = False,
    resume: bool = True,
    weights=None,
    segmenter=None,
    tokenizer: str = "split",
) -> DataFrame:
    """Full pipeline → per-candidate triples (pre-dedup).

    With ``warehouse`` set, every stage checkpoints (resumable);
    without, the whole chain runs as one lazy plan. The
    ``segmenter``/``tokenizer`` gates (punkt/treebank mode) apply to
    BOTH paths, so a checkpointed punctuated-corpus run stays
    coordinate-consistent across every stage.
    """
    weights = weights if weights is not None else load_weights()
    pair_fn = salted_candidate_pairs if salted else candidate_pairs
    seg = segmenter if segmenter is not None else segment

    if warehouse is None:
        return triples_from_transcripts(
            spark,
            transcripts(spark, sf_dir),
            threshold=threshold,
            max_k=max_k,
            salted=salted,
            weights=weights,
            segmenter=segmenter,
            tokenizer=tokenizer,
        )

    cp = Checkpointer(spark, warehouse)
    sents = cp.stage(
        "sentences",
        lambda: seg(transcripts(spark, sf_dir)),
        upstream=["transcripts"],
        resume=resume,
    )
    mens = cp.stage(
        "mentions",
        lambda: detect_mentions(spark, sents, tokenizer=tokenizer),
        upstream=["sentences"],
        resume=resume,
    )
    cands = cp.stage(
        "candidates",
        lambda: pair_fn(mens, max_k=max_k),
        upstream=["mentions"],
        resume=resume,
    )
    feats = cp.stage(
        "featurized",
        lambda: featurize_pair(candidate_windows(cands, sents), tokenizer=tokenizer),
        upstream=["candidates", "sentences"],
        resume=resume,
    )
    cp.stage(
        "quarantine",
        lambda: feats.filter(~F.col("ok")),
        upstream=["featurized"],
        resume=resume,
    )
    scored = cp.stage(
        "scored",
        lambda: score_pairs(feats.filter("ok"), weights=weights),
        upstream=["featurized"],
        resume=resume,
    )
    return cp.stage(
        "triples",
        lambda: emit_triples(scored, threshold=threshold),
        upstream=["scored"],
        resume=resume,
    )


_KG_MEMO: dict[tuple[str, str], DataFrame] = {}


def materialize_kg(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str | None = None,
    **kwargs,
) -> DataFrame:
    """Triples → canonical entity map → deduped KG table.

    Session-level memo (default-argument path only): ~15 analytics
    queries take the materialized KG as input; in one session (the
    driver correctness harness runs them back-to-back) each would
    otherwise re-run the whole extraction pipeline for an identical
    dimension-sized table — which is exactly what "materialize" is
    supposed to prevent. The memoized KG is persisted with lineage
    intact and registered with ``track_cache``; after a
    ``release_caches()`` (bench does this per query so its timings
    keep including the honest rebuild) the entry is discarded and the
    next call rebuilds fresh, so the shared-subtree persists inside
    the rebuild stay effective.

    Canonical components re-key subj/obj (G6) before the A10 dedup
    shuffle; the component map is tiny → broadcast join.

    Plan sharing (VERDICT r3 #3): the mention table feeds THREE
    consumers — both sides of the candidate self-join and the
    canonicalization edge build. The fast path persists it once and
    hands the same DataFrame to ``scored_from_shared`` and
    ``canonicalize``; the checkpointed path reads the already-written
    ``mentions`` stage instead of re-running detection. Without this,
    the J7+J2 mention subtree executed ~3× per materialization
    (measured: kg_materialize grew 7.6→12.7→17.9 s across rounds as
    the KG stage widened around the duplicated subtree).
    """
    from pyspark.storagelevel import StorageLevel

    if warehouse is None and not kwargs:
        key = (spark.sparkContext.applicationId, sf_dir)
        memo = _KG_MEMO.get(key)
        if memo is not None and (
            memo.storageLevel.useMemory or memo.storageLevel.useDisk
        ):
            return memo
        _KG_MEMO.pop(key, None)
        if len(_KG_MEMO) > 64:
            _KG_MEMO.clear()
        kg = track_cache(
            _materialize_kg_fresh(spark, sf_dir).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        )
        _KG_MEMO[key] = kg
        return kg

    if warehouse is None:
        return _materialize_kg_fresh(spark, sf_dir, **kwargs)

    triples = extract_triples(spark, sf_dir, warehouse=warehouse, **kwargs)
    cp = Checkpointer(spark, warehouse)
    mens = cp.read("mentions")
    canon = canonicalize(mens)
    kg = dedup_triples(rekey_canonical(triples, canon))
    return cp.stage("kg", lambda: kg, upstream=["triples"], resume=kwargs.get("resume", True))


def _materialize_kg_fresh(
    spark: SparkSession, sf_dir: str, **kwargs
) -> DataFrame:
    """The un-memoized default-path build (shared mention subtree)."""
    from pyspark.storagelevel import StorageLevel

    threshold = kwargs.pop("threshold", SCORE_THRESHOLD)
    tokenizer = kwargs.pop("tokenizer", "split")
    segmenter = kwargs.pop("segmenter", None)
    kwargs.pop("resume", None)
    seg = segmenter if segmenter is not None else segment
    sents = track_cache(
        seg(transcripts(spark, sf_dir)).persist(StorageLevel.MEMORY_ONLY)
    )
    mens = track_cache(
        detect_mentions(spark, sents, tokenizer=tokenizer).persist(
            StorageLevel.MEMORY_ONLY
        )
    )
    scored = scored_from_shared(sents, mens, tokenizer=tokenizer, **kwargs)
    triples = emit_triples(scored, threshold=threshold)
    canon = canonicalize(mens)
    return dedup_triples(rekey_canonical(triples, canon))


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

    Shares ONE persisted sentence/mention subtree between the
    candidate self-join and the canonicalization edge build — the same
    plan-sharing shape as ``materialize_kg`` (VERDICT r3 #3: without
    it the J7+J2 mention stage executes ~3× per run). All three
    aggregates are decomposable (min / max / count-distinct under
    conv-partitioned deltas), so ``merge_kg_tables``-style incremental
    maintenance extends to the temporal columns: pass per-delta
    ``tdf`` slices and a globally-built ``canon`` map, then merge with
    (min first_seen, max last_seen, sum n_convs) — proven equal to the
    full rebuild in ``tests/test_oracle_parity.py``. The conv-grain
    timestamp dimension joins on ``conv_id`` — the key the pipeline
    already shuffles on (conv-grain ≪ corpus; AQE picks broadcast vs
    shuffle by size)."""
    from pyspark.storagelevel import StorageLevel

    if tdf is None:
        tdf = transcripts(spark, sf_dir)
    sents = track_cache(segment(tdf).persist(StorageLevel.MEMORY_ONLY))
    mens = track_cache(
        detect_mentions(spark, sents).persist(StorageLevel.MEMORY_ONLY)
    )
    triples = emit_triples(scored_from_shared(sents, mens), threshold=threshold)
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
