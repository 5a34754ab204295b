"""Mention detection via broadcast alias dictionary (SURVEY.md §2.3 J7/J2).

Reference semantics being re-expressed:

- the standoff ``.a1`` entity parse + mention/sentence interval join
  (``generate_bb_training_data_2016.py:547-573,669-707``): entities land
  in sentences by char-offset containment with a lowercased
  string-match fallback;
- ``get_entity_index`` tokenwise matching (``generate_sdp.py:31-61``).

Here mentions are *detected* (inference mode) by exploding sentence
tokens and broadcast-joining the alias dictionary on the lowercased
surface form — the J2 interval join is then definitionally satisfied
(tokens are generated inside their sentence), and we still emit the
char offsets ``m_begin``/``m_end`` so the interval-join contract (W2
running offsets) stays observable and testable.

Scale: the alias dictionary is tiny → ``F.broadcast`` (no shuffle);
token explode is narrow. At 100 TB this stage is embarrassingly
parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import alias_rows, duck_alias_values


def alias_df(spark: SparkSession) -> DataFrame:
    """Static alias dictionary as a DataFrame over a JVM
    ``LocalRelation`` (``session.local_frame``): the broadcast side of
    the mention join is built on the driver without a Python worker
    task. A ``plan_memo`` entry: a rebuild through ``local_frame``
    costs ~15 ms of driver time (Arrow serialization plus py4j
    round trips, measured on 4 cores), and the rows never change."""
    from ..session import local_frame, plan_memo

    return plan_memo(
        spark,
        ("alias_df",),
        lambda: local_frame(
            spark, alias_rows(), "surface string, entity_id string, ner_tag string"
        ),
    )


def detect_mentions(
    spark: SparkSession, sentences: DataFrame, tokenizer: str = "split"
) -> DataFrame:
    """sentences → mentions ``(conv_id, turn_idx, sent_idx, tok_idx,
    surface, entity_id, ner_tag, m_begin, m_end)``.

    ``m_begin``/``m_end`` are char offsets within the sentence text.

    ``tokenizer='treebank'`` gates the punkt/treebank end-to-end mode
    (T2): tokens come from ``segmentation.treebank_tokenize`` (an
    Arrow-batched UDF emitting (token, begin, end) spans via a
    left-to-right locate — transformed tokens that are no longer
    substrings get offset -1), so punctuation splits off words and
    alias lookup still hits on punctuated text. Default stays the
    whitespace split — pure Column algebra, one tokenizer end-to-end.
    """
    if tokenizer == "treebank":
        return _detect_mentions_treebank(spark, sentences)
    # Construction memoized on the sentence table's identity (r6):
    # segment() is itself memoized, so every default-path consumer
    # builds this subtree once per session.
    from ..session import input_plan_memo

    return input_plan_memo(
        ("detect_mentions",),
        (sentences,),
        lambda: _detect_mentions_build(spark, sentences),
    )


def _detect_mentions_build(spark: SparkSession, sentences: DataFrame) -> DataFrame:
    # selectExpr strings: one parser round trip per stage (cold-build
    # driver cost — this subtree underlies every pipeline query)
    toks = (
        sentences.selectExpr(
            "conv_id", "turn_idx", "sent_idx", "split(sent_text, ' ') AS ws"
        )
        .selectExpr(
            "conv_id", "turn_idx", "sent_idx",
            "posexplode(ws) AS (tok_idx, word)", "ws",
        )
        .selectExpr(
            "conv_id",
            "turn_idx",
            "sent_idx",
            "CAST(tok_idx AS INT) AS tok_idx",
            "lower(word) AS surface",
            "CAST(length(array_join(slice(ws, 1, tok_idx), ' ')) "
            "+ IF(tok_idx > 0, 1, 0) AS INT) AS m_begin",
            "length(word) AS wlen",
        )
    )
    al = alias_df(spark)
    return toks.join(F.broadcast(al), "surface").selectExpr(
        "conv_id", "turn_idx", "sent_idx", "tok_idx", "surface",
        "entity_id", "ner_tag", "m_begin",
        "CAST(m_begin + wlen AS INT) AS m_end",
    )


def _detect_mentions_treebank(spark: SparkSession, sentences: DataFrame) -> DataFrame:
    """Treebank-tokenized mention detection (see detect_mentions)."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from .segmentation import treebank_tokenize

    span_t = ArrayType(
        StructType(
            [
                StructField("word", StringType()),
                StructField("b", IntegerType()),
                StructField("e", IntegerType()),
            ]
        )
    )

    def spans(text: str) -> list[dict]:
        toks = treebank_tokenize(text or "")
        out, pos = [], 0
        for w in toks:
            i = (text or "").find(w, pos)
            if i < 0:
                out.append({"word": w, "b": -1, "e": -1})
            else:
                out.append({"word": w, "b": i, "e": i + len(w)})
                pos = i + len(w)
        return out

    spans_udf = F.pandas_udf(lambda s: s.map(spans), span_t)
    toks = sentences.select(
        "conv_id",
        "turn_idx",
        "sent_idx",
        F.posexplode(spans_udf(F.col("sent_text"))).alias("tok_idx", "sp"),
    ).select(
        "conv_id",
        "turn_idx",
        "sent_idx",
        F.col("tok_idx").cast("int").alias("tok_idx"),
        F.lower(F.col("sp.word")).alias("surface"),
        F.col("sp.b").alias("m_begin"),
        F.col("sp.e").alias("m_end"),
    )
    al = alias_df(spark)
    return toks.join(F.broadcast(al), "surface").select(
        "conv_id",
        "turn_idx",
        "sent_idx",
        "tok_idx",
        "surface",
        "entity_id",
        "ner_tag",
        "m_begin",
        "m_end",
    )


def duck_mentions_cte() -> str:
    """DuckDB CTE body (compose after the sentences CTE)."""
    return f"""
        SELECT t.conv_id, t.turn_idx, t.sent_idx, t.tok_idx,
               t.surface, alias_dict.entity_id, alias_dict.ner_tag, t.m_begin,
               CAST(t.m_begin + length(t.surface) AS INT) AS m_end
        FROM (
            SELECT conv_id, turn_idx, sent_idx,
                   CAST(i AS INT) AS tok_idx,
                   lower(ws[i + 1]) AS surface,
                   CAST(length(COALESCE(array_to_string(ws[1:i], ' '), ''))
                        + CASE WHEN i > 0 THEN 1 ELSE 0 END AS INT) AS m_begin
            FROM (
                SELECT conv_id, turn_idx, sent_idx, ws,
                       UNNEST(range(len(ws))) AS i
                FROM (SELECT conv_id, turn_idx, sent_idx,
                             string_split(sent_text, ' ') AS ws
                      FROM sentences)
            )
        ) t
        JOIN {duck_alias_values()} ON t.surface = alias_dict.surface
    """


def synthetic_annotations(mentions: DataFrame, sentences: DataFrame) -> DataFrame:
    """Deterministic external-annotation fixture for J2 (no external
    data): turn-level char offsets derived from the mention table
    (``a_begin = sentence.begin + m_begin``), with every annotation
    where ``(sent_idx + tok_idx) % 5 == 0`` displaced by +100000 so
    the offset pass MUST miss it and the contains fallback has to
    locate it — both reference passes get exercised."""
    s = sentences.select("conv_id", "turn_idx", "sent_idx", "begin")
    drift = F.when((F.col("sent_idx") + F.col("tok_idx")) % 5 == 0, F.lit(100000)).otherwise(
        F.lit(0)
    )
    return (
        mentions.join(s, ["conv_id", "turn_idx", "sent_idx"])
        .select(
            "conv_id",
            "turn_idx",
            F.concat_ws("#", "conv_id", "sent_idx", "tok_idx").alias("ann_id"),
            (F.col("begin") + F.col("m_begin") + drift).cast("int").alias("a_begin"),
            (F.col("begin") + F.col("m_end") + drift).cast("int").alias("a_end"),
            "surface",
        )
        .distinct()
    )


def duck_located_annotations(drift_every: int = 5) -> str:
    """DuckDB oracle for ``locate_annotations(synthetic_annotations(…))``
    — compose after ``transcripts``/``sentences``/``mentions`` CTEs."""
    return f"""
        , ann AS (
            SELECT DISTINCT m.conv_id, m.turn_idx,
                   m.conv_id || '#' || CAST(m.sent_idx AS VARCHAR)
                             || '#' || CAST(m.tok_idx AS VARCHAR) AS ann_id,
                   CAST(s.begin + m.m_begin
                        + CASE WHEN (m.sent_idx + m.tok_idx) % {drift_every} = 0
                               THEN 100000 ELSE 0 END AS INT) AS a_begin,
                   CAST(s.begin + m.m_end
                        + CASE WHEN (m.sent_idx + m.tok_idx) % {drift_every} = 0
                               THEN 100000 ELSE 0 END AS INT) AS a_end,
                   m.surface
            FROM mentions m
            JOIN sentences s
              ON m.conv_id = s.conv_id AND m.turn_idx = s.turn_idx
             AND m.sent_idx = s.sent_idx
        ),
        located_primary AS (
            SELECT a.conv_id, a.turn_idx, a.ann_id, a.a_begin, a.a_end,
                   a.surface, s.sent_idx, 'offset' AS via
            FROM ann a
            JOIN sentences s
              ON a.conv_id = s.conv_id AND a.turn_idx = s.turn_idx
             AND a.a_begin >= s.begin AND a.a_begin < s."end"
        ),
        located_fallback AS (
            SELECT a.conv_id, a.turn_idx, a.ann_id, a.a_begin, a.a_end,
                   a.surface, MIN(s.sent_idx) AS sent_idx, 'contains' AS via
            FROM ann a
            JOIN sentences s
              ON a.conv_id = s.conv_id AND a.turn_idx = s.turn_idx
            WHERE NOT EXISTS (
                SELECT 1 FROM located_primary p
                WHERE p.conv_id = a.conv_id AND p.ann_id = a.ann_id
            )
              AND contains(lower(s.sent_text), lower(a.surface))
            GROUP BY a.conv_id, a.turn_idx, a.ann_id, a.a_begin, a.a_end,
                     a.surface
        )
        SELECT * FROM located_primary
        UNION ALL
        SELECT * FROM located_fallback
    """


def locate_annotations(
    annotations: DataFrame, sentences: DataFrame, salt: int | None = None
) -> DataFrame:
    """J2 — locate EXTERNAL annotations against the sentence table:
    primary pass is the interval join (``generate_bb_training_data_2016
    .py:669-707``: sentence whose ``[begin, end)`` contains the
    annotation's start), and annotations whose offsets drifted fall
    back to the reference's string-match second pass (``:313-477``):
    the lowest-``sent_idx`` sentence of the same turn containing the
    lowercased surface. Output adds ``sent_idx`` and ``via``
    ('offset' | 'contains'); annotations matching neither are dropped
    (the reference counts and skips them).

    Input schema: ``(conv_id, turn_idx, ann_id, a_begin, a_end,
    surface)`` with turn-level char offsets.

    Plan shape: the literal two-pass formulation (join → anti-join →
    second join) recomputes the annotation and sentence subtrees ~5×
    (38 exchanges measured). Because sentence intervals PARTITION the
    turn text (disjoint, ordered — W2), the offset match is unique, so
    both passes fuse into ONE equi-join on ``(conv_id, turn_idx)`` +
    one aggregation: prefer the offset match, else the
    lowest-``sent_idx`` containing sentence. The DuckDB oracle keeps
    the reference's literal two-pass SQL — the two formulations check
    each other.

    Skew (``salt``): the fused plan is optimal when turns are bounded —
    the groupBy keys are a superset of the join keys, so the whole
    reduction piggybacks on the join's (conv_id, turn_idx)
    partitioning with ZERO extra exchange. The flip side: one
    pathological turn (10k annotations × 1k sentences) serializes join
    AND aggregation through a single reducer, and AQE cannot split the
    skewed join because the piggybacked agg depends on its
    partitioning. ``salt=S`` joins on (conv_id, turn_idx,
    hash(ann_id)%S) with the sentence side replicated ×S — the hot
    turn spreads over S reducers and Catalyst inserts one
    fine-ann-grain exchange before the agg (well-distributed by
    construction). Lossless: every annotation still meets every
    sentence of its turn, in exactly one salt bucket.
    """
    s = sentences.select("conv_id", "turn_idx", "sent_idx", "sent_text", "begin", "end")
    a_cols = ["conv_id", "turn_idx", "ann_id", "a_begin", "a_end", "surface"]
    a = annotations.select(*a_cols)
    join_keys = ["conv_id", "turn_idx"]
    if salt is not None:
        a = a.withColumn(
            "_salt", F.pmod(F.xxhash64("ann_id"), F.lit(salt)).cast("int")
        )
        s = s.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        ).withColumn("_salt", F.col("_salt").cast("int"))
        join_keys = join_keys + ["_salt"]
    off_ok = (F.col("a_begin") >= F.col("begin")) & (F.col("a_begin") < F.col("end"))
    cont_ok = F.lower(F.col("sent_text")).contains(F.lower(F.col("surface")))
    off_sent = F.min(F.when(off_ok, F.col("sent_idx"))).alias("off_sent")
    cont_sent = F.min(F.when(cont_ok, F.col("sent_idx"))).alias("cont_sent")
    return (
        a.join(s, join_keys)
        .filter(off_ok | cont_ok)
        .groupBy(*a_cols)
        .agg(off_sent, cont_sent)
        .select(
            *a_cols,
            F.coalesce("off_sent", "cont_sent").alias("sent_idx"),
            F.when(F.col("off_sent").isNotNull(), F.lit("offset"))
            .otherwise(F.lit("contains"))
            .alias("via"),
        )
    )


def mention_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_mentions, n_turns) — mentions-per-turn histogram INCLUDING
    zero-mention turns (the turn universe comes from the transcript,
    not from the mention table — a census that silently drops empty
    turns overstates entity density and mis-sizes every downstream
    candidate budget). The k-window pair generator's cost is
    quadratic in per-window mention count, so this grid is the
    capacity-planning input for the candidate stage at corpus scale.

    Plan: the mention subtree aggregates to turn grain, then ONE
    turn-keyed LEFT join from the transcript universe (key-distinct
    both sides), a zero-fill, and a count onto the density grid."""
    from .segmentation import segment
    from ..sources.transcripts import transcripts

    t = transcripts(spark, sf_dir).select("conv_id", "turn_idx")
    m = (
        detect_mentions(spark, segment(transcripts(spark, sf_dir)))
        .groupBy("conv_id", "turn_idx")
        .agg(F.count("*").alias("n_m"))
    )
    per_turn = t.join(m, ["conv_id", "turn_idx"], "left").select(
        F.coalesce(F.col("n_m"), F.lit(0)).alias("n_mentions")
    )
    return per_turn.groupBy("n_mentions").agg(
        F.count("*").alias("n_turns")
    )


def duck_mention_density() -> str:
    """Oracle (compose after the transcripts+sentences prefix):
    identical turn-universe LEFT join + zero-fill."""
    return f"""
        , mtab AS ({duck_mentions_cte()})
        , per_turn AS (
            SELECT t.conv_id, t.turn_idx,
                   COALESCE(m.n_m, 0) AS n_mentions
            FROM transcripts t
            LEFT JOIN (
                SELECT conv_id, turn_idx, COUNT(*) AS n_m
                FROM mtab GROUP BY 1, 2
            ) m ON m.conv_id = t.conv_id AND m.turn_idx = t.turn_idx
        )
        SELECT n_mentions, COUNT(*) AS n_turns
        FROM per_turn GROUP BY 1
    """


def mention_recurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(turn_span, n_chains) — entity-recurrence census: per
    (conversation, entity) mention chain, the turn distance between
    first and last mention, histogrammed. THE empirical validation of
    the candidate window: chains with ``turn_span`` beyond the k-window
    are entity pairs the generator never considers — if that tail
    carries real mass, MAX_K is leaving recall on the table; if it's
    empty, widening the window only buys quadratic cost. (Reference
    analogue: iDepNN's inter-sentential window k ≤ 3,
    `parse_BB_data.py` k-window loops.)

    Plan: the mention subtree folds to (conv, entity) grain with one
    min/max aggregation (map-side combinable), then a count onto the
    span grid. Nothing after the fold exceeds chain grain."""
    from .segmentation import segment
    from ..sources.transcripts import transcripts

    m = detect_mentions(spark, segment(transcripts(spark, sf_dir)))
    chains = m.groupBy("conv_id", "entity_id").agg(
        (F.max("turn_idx") - F.min("turn_idx")).cast("long").alias("turn_span")
    )
    return chains.groupBy("turn_span").agg(F.count("*").alias("n_chains"))


def duck_mention_recurrence() -> str:
    """Oracle (compose after the transcripts+sentences prefix):
    identical chain fold."""
    return f"""
        , mtab AS ({duck_mentions_cte()})
        , chains AS (
            SELECT conv_id, entity_id,
                   CAST(MAX(turn_idx) - MIN(turn_idx) AS BIGINT)
                       AS turn_span
            FROM mtab GROUP BY 1, 2
        )
        SELECT turn_span, COUNT(*) AS n_chains
        FROM chains GROUP BY 1
    """


def alias_hit_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(role, n_turns, n_tokens, n_mentions, hit_e6) — alias-dictionary
    yield per speaker role: how many whitespace tokens each role emits,
    how many become detected mentions, and the half-up e6 hit rate.
    The dictionary-coverage dashboard: a falling assistant hit rate
    after a corpus refresh means the broadcast alias dict is going
    stale for generated text; a near-zero role can be excluded from
    mention detection entirely and the J7 broadcast shrinks.

    Plan: token counts are a narrow projection; mentions fold to turn
    grain before ONE turn-keyed join back to the role column
    (key-distinct both sides), then a |roles|-grid conditional-sum
    aggregation."""
    from .segmentation import segment
    from ..sources.transcripts import transcripts

    t = transcripts(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        "role",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    m = (
        detect_mentions(spark, segment(transcripts(spark, sf_dir)))
        .groupBy("conv_id", "turn_idx")
        .agg(F.count("*").alias("n_m"))
    )
    per_turn = t.join(m, ["conv_id", "turn_idx"], "left").select(
        "role", "n_tok", F.coalesce(F.col("n_m"), F.lit(0)).alias("n_m")
    )
    return per_turn.groupBy("role").agg(
        F.count("*").alias("n_turns"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum("n_m").alias("n_mentions"),
        F.expr(
            "(sum(n_m) * 1000000 + sum(n_tok) div 2) div sum(n_tok)"
        ).alias("hit_e6"),
    )


def duck_alias_hit_rate() -> str:
    """Oracle (compose after the transcripts+sentences prefix):
    identical turn-grain fold + role grid."""
    return f"""
        , mtab AS ({duck_mentions_cte()})
        , per_turn AS (
            SELECT t.role, len(string_split(t.text, ' ')) AS n_tok,
                   COALESCE(m.n_m, 0) AS n_m
            FROM transcripts t
            LEFT JOIN (
                SELECT conv_id, turn_idx, COUNT(*) AS n_m
                FROM mtab GROUP BY 1, 2
            ) m ON m.conv_id = t.conv_id AND m.turn_idx = t.turn_idx
        )
        SELECT role, COUNT(*) AS n_turns,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(n_m) AS BIGINT) AS n_mentions,
               CAST((SUM(n_m) * 1000000 + SUM(n_tok) // 2)
                    // SUM(n_tok) AS BIGINT) AS hit_e6
        FROM per_turn GROUP BY role
    """
