"""Streaming KG construction over a transcript feed.

The reference is purely batch; this is the engine's continuous-ingest
surface: transcript turns arrive as a stream (file source here;
Kafka / Iceberg incremental scan in production) and each micro-batch
runs the SAME batch triple pipeline (``triples_from_transcripts``)
inside ``foreachBatch`` — one code path for batch and stream, so the
stream can never drift semantically from the oracle-checked batch
plan.

Correctness contract (tested): on a bounded input driven with
``Trigger.AvailableNow``, the streamed triple set equals the batch
triple set exactly.

Conversation completeness: cross-turn candidate generation (J3,
k ≤ K) needs a conversation's turns to be visible together. A
micro-batch boundary that splits a conversation would lose
cross-boundary pairs, so either the upstream feed emits whole
conversations (transcript logs are conversation-atomic), or
``buffer_conversations=True`` chains ``sessionize_turns`` — a
stateful ``applyInPandasWithState`` operator that buffers turns per
``conv_id`` and releases the WHOLE conversation on gap timeout —
in front of the extraction stage. Both the split-loss and the
buffered recovery are demonstrated in ``tests/test_streaming.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import MAX_K, SCORE_THRESHOLD
from ..session import local_frame

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def stream_transcripts(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream of transcript turns with the explicit input
    schema (streams never infer schema). ``maxFilesPerTrigger`` keeps
    micro-batches bounded when a backlog is replayed."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(src_dir)
    )


GAP_SECONDS = 10  # < the 13 s turn cadence: drains on bounded input
WATERMARK = "0 seconds"


def sessionize_turns(
    stream: DataFrame,
    gap_seconds: int = GAP_SECONDS,
    watermark: str = WATERMARK,
    max_turns: int | None = None,
    overlap: int = MAX_K,
) -> DataFrame:
    """Stateful conversation closer: buffer every turn per ``conv_id``
    in the state store; when no new turn arrives within ``gap_seconds``
    of event time (watermark-driven timeout), emit the WHOLE buffered
    conversation downstream in one piece. This is what makes cross-turn
    extraction exact under arbitrary micro-batch boundaries — the
    extraction stage only ever sees closed, complete conversations.

    Timer semantics worth knowing: an event-time timer only fires once
    the WATERMARK passes it, and a key that receives data in a batch
    is serviced through the data path (its timer resets) — so on a
    bounded ``AvailableNow`` drain, the final empty batch flushes
    every conversation whose gap has elapsed relative to the LAST
    watermark. ``watermark`` delay + ``gap_seconds`` must together sit
    inside the event-time span between the newest conversation's last
    buffered turn and the stream's max event time, or that tail
    conversation stays buffered (on a continuous production stream
    this is a non-issue: the watermark keeps advancing).

    State bound (``max_turns``): a single never-idle conversation would
    otherwise grow state without limit. When the buffer reaches
    ``max_turns``, the whole buffered block is emitted immediately and
    only the LAST ``overlap`` turns stay in state — the band-join
    argument of ``operators/candidates.py`` (no pair within MAX_K
    sentences is split apart) applies here too: every turn yields
    ≥1 sentence, so an ``overlap`` of MAX_K turns keeps every candidate
    pair with sentence distance ≤ MAX_K co-resident in at least one
    emitted block. Overlap turns are emitted twice (once per adjacent
    block); downstream candidate/triple dedup collapses them — the
    sink-level triple SET matches the unbounded-buffer run (tested with
    a never-idle conversation).

    Output schema == input transcript schema.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = gap_seconds * 1000
    state_schema = (
        "turn_idx array<int>, role array<string>, text array<string>, "
        "tool array<string>, ts_us array<long>"
    )

    def _emit(key, st) -> pd.DataFrame:
        ti, ro, te, to, us = st
        order = sorted(range(len(ti)), key=lambda i: ti[i])
        return pd.DataFrame(
            {
                "conv_id": [key[0]] * len(ti),
                "turn_idx": [ti[i] for i in order],
                "role": [ro[i] for i in order],
                "text": [te[i] for i in order],
                "tool": [to[i] for i in order],
                "ts": pd.to_datetime([us[i] for i in order], unit="us"),
            }
        )

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            st = state.get
            state.remove()
            yield _emit(key, st)
            return
        ti, ro, te, to, us = (
            state.get if state.exists else ([], [], [], [], [])
        )
        ti, ro, te, to, us = list(ti), list(ro), list(te), list(to), list(us)
        for pdf in pdfs:
            ti += [int(x) for x in pdf["turn_idx"]]
            ro += list(pdf["role"])
            te += list(pdf["text"])
            to += [None if pd.isna(x) else x for x in pdf["tool"]]
            us += (pdf["ts"].astype("int64") // 1000).tolist()
        if max_turns is not None and len(ti) >= max_turns:
            # spill: emit the whole block now, keep only the overlap
            # tail (by turn order) so cross-boundary pairs survive
            order = sorted(range(len(ti)), key=lambda i: ti[i])
            keep = order[-overlap:]
            block = (ti, ro, te, to, us)
            state.update(tuple([col[i] for i in keep] for col in block))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + gap_ms)
            yield _emit(key, block)
            return
        state.update((ti, ro, te, to, us))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + gap_ms)
        yield pd.DataFrame(
            columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=TRANSCRIPT_SCHEMA,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def write_triples_batch(out: DataFrame, batch_id: int, sink_dir: str) -> None:
    """Idempotent micro-batch sink write: dynamic-overwrite ONLY this
    batch's ``batch_id=N`` partition, so a foreachBatch replay after a
    partial write replaces its own files instead of double-appending.
    Replaying the same batch twice leaves the sink unchanged (tested)."""
    from pyspark.sql import functions as F

    (
        out.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(sink_dir)
    )


def run_stream_triples(
    spark: SparkSession,
    src_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    threshold: float = SCORE_THRESHOLD,
    max_k: int = MAX_K,
    weights=None,
    buffer_conversations: bool = False,
    max_files_per_trigger: int | None = None,
    max_turns: int | None = None,
) -> None:
    """Drive the transcript stream to completion (AvailableNow): every
    micro-batch runs the batch triple pipeline and writes its triples
    into a ``batch_id``-partition of the parquet sink.

    Restart semantics: ``foreachBatch`` itself is at-least-once — a
    batch that dies after partially writing files is replayed from the
    checkpoint. The write is therefore made *idempotent*: each batch
    dynamically overwrites ONLY its own ``batch_id=N`` partition, so a
    replay replaces any partial output instead of double-appending
    (the standard idempotent-foreachBatch recipe). Committed batches
    are never re-fired (checkpoint offset log), so the composition is
    effectively exactly-once for readers of the sink. Readers see a
    ``batch_id`` partition column (provenance; drop it for the bare
    triple set)."""
    from ..plans.pipeline import triples_from_transcripts

    def one_batch(bdf: DataFrame, batch_id: int) -> None:
        out = triples_from_transcripts(
            spark, bdf, threshold=threshold, max_k=max_k, weights=weights
        )
        write_triples_batch(out, batch_id, sink_dir)

    src = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        src = src.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = src.parquet(src_dir)
    if buffer_conversations:
        stream = sessionize_turns(stream, max_turns=max_turns)
    q = (
        stream.writeStream.foreachBatch(one_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ----------------------- continuous KG maintenance (streaming + merge)

def _latest_kg_version(spark: SparkSession, kg_dir: str, below: int) -> int | None:
    """Highest committed ``v=N`` partition with N < ``below`` (the
    replaying batch must merge against the state BEFORE itself)."""
    import os
    import re

    if not os.path.isdir(kg_dir):
        return None
    vs = [
        int(m.group(1))
        for d in os.listdir(kg_dir)
        if (m := re.match(r"v=(\d+)$", d))
    ]
    vs = [v for v in vs if v < below]
    return max(vs) if vs else None


def run_stream_kg(
    spark: SparkSession,
    src_dir: str,
    kg_dir: str,
    checkpoint_dir: str,
    threshold: float = SCORE_THRESHOLD,
    max_k: int = MAX_K,
    weights=None,
    canon=None,
    max_files_per_trigger: int | None = None,
    buffer_conversations: bool = False,
    extend_canon: bool = False,
    canon_dir: str | None = None,
) -> None:
    """Continuous KG maintenance: every micro-batch extracts its delta
    triples, canonicalizes against a FIXED canonical map (``canon`` —
    a slowly-changing dimension in production; pass the map the batch
    rebuild would use for exact parity), dedups to a delta KG and
    MERGES it into the running KG table via the decomposable
    ``merge_kg_tables`` aggregates. Each batch writes the full merged
    state to a ``v=<batch_id>`` version directory and merges against
    the highest version BELOW its own id — so a replayed batch
    recomputes exactly the same merge and overwrites its own version:
    idempotent under foreachBatch's at-least-once replay, and the
    latest version always equals a from-scratch rebuild over
    everything ingested (tested).

    ``extend_canon=True`` removes the fixed-map limitation: the
    canonical map becomes versioned state in ``canon_dir`` (required),
    and each batch extends the previous version with its own new
    mention surfaces via the label-stable
    ``canonicalize_incremental`` — existing components never change
    (already-materialized KG versions stay validly keyed), new
    surfaces adopt the min reachable existing component or found new
    clusters. The map version is derived from the version BELOW the
    batch id exactly like the KG state, so replays recompute the same
    extension and overwrite their own version — the idempotence
    argument is unchanged. ``canon`` (if given) seeds batch 0. Costs
    one extra mention-detection pass over the micro-batch (not the
    historical corpus).

    At 10^12 turns the per-batch cost is the delta extraction plus an
    aggregate over (existing KG + delta) — the historical corpus is
    never re-read.

    Delta atomicity: ``support`` sums across deltas, so each candidate
    must reach extraction exactly once — either the feed is
    conversation-atomic (transcript logs usually are), or
    ``buffer_conversations=True`` chains the sessionize closer so a
    conversation split across micro-batches is extracted whole. Do
    NOT combine support-summing maintenance with the ``max_turns``
    spill (overlap turns would double-count); a spilling deployment
    should merge on max/min aggregates only or dedupe per cand_id
    upstream."""
    from pyspark.sql import functions as F

    from ..operators.linking import (
        canonicalize_incremental,
        dedup_triples,
        merge_kg_tables,
        rekey_canonical,
    )
    from ..plans.pipeline import triples_from_transcripts

    KG_SCHEMA = (
        "subj string, pred string, obj string, support bigint, "
        "max_score double, min_k int"
    )
    CANON_SCHEMA = "surface string, component string"
    if extend_canon and not canon_dir:
        raise ValueError("extend_canon=True requires canon_dir")

    def _batch_canon(bdf: DataFrame, batch_id: int) -> DataFrame:
        """Versioned label-stable map extension for this batch."""
        from ..operators.mentions import detect_mentions
        from ..operators.segmentation import segment

        prev_v = _latest_kg_version(spark, canon_dir, below=int(batch_id))
        if prev_v is not None:
            prev = spark.read.schema(CANON_SCHEMA).parquet(f"{canon_dir}/v={prev_v}")
        elif canon is not None:
            prev = canon.select("surface", "component")
        else:
            prev = local_frame(spark, [], CANON_SCHEMA)
        surfaces = detect_mentions(spark, segment(bdf)).select("surface")
        ext = canonicalize_incremental(prev, surfaces).select(
            "surface", "component"
        )
        ext.write.mode("overwrite").parquet(f"{canon_dir}/v={int(batch_id)}")
        return spark.read.schema(CANON_SCHEMA).parquet(
            f"{canon_dir}/v={int(batch_id)}"
        )

    def one_batch(bdf: DataFrame, batch_id: int) -> None:
        batch_map = _batch_canon(bdf, batch_id) if extend_canon else canon
        delta = dedup_triples(
            rekey_canonical(
                triples_from_transcripts(
                    spark, bdf, threshold=threshold, max_k=max_k, weights=weights
                ),
                batch_map,
            )
        )
        prev = _latest_kg_version(spark, kg_dir, below=int(batch_id))
        if prev is None:
            merged = delta
        else:
            existing = spark.read.schema(KG_SCHEMA).parquet(f"{kg_dir}/v={prev}")
            merged = merge_kg_tables(existing, delta)
        merged.select(
            "subj", "pred", "obj",
            F.col("support").cast("bigint").alias("support"),
            F.col("max_score").cast("double").alias("max_score"),
            F.col("min_k").cast("int").alias("min_k"),
        ).write.mode("overwrite").parquet(f"{kg_dir}/v={int(batch_id)}")

    src = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        src = src.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = src.parquet(src_dir)
    if buffer_conversations:
        stream = sessionize_turns(stream)
    q = (
        stream.writeStream.foreachBatch(one_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_latest_kg(spark: SparkSession, kg_dir: str) -> DataFrame:
    """The current KG state: the highest committed version."""
    v = _latest_kg_version(spark, kg_dir, below=1 << 62)
    if v is None:
        raise FileNotFoundError(f"no KG versions under {kg_dir}")
    return spark.read.parquet(f"{kg_dir}/v={v}")
