"""Cross-sentence candidate-pair generation + entity tagging.

SURVEY.md §2.3 J3 (band self-join pair generator), §2.2 F2 (k-window
filter), §2.5 W4 (k = |Δ sent_idx|), W5 (nearest-pair selection), W7
(stable cand_id), §2.8 T3 (``<e1>``/``<e2>`` tag insertion).

Reference semantics:

- pair loop over ``e1_sent_idxs × e2_sent_idxs`` keeping the nearest
  pair within ``max_k`` (``generate_muc6_data.py:84-93``);
- ``k = |idx_e2 - idx_e1|`` (``generate_bb_training_data_2016.py:721``);
- ``k ≤ 3`` gate (``..._negatives.py:727``);
- tag insertion into the sentence window
  (``generate_bb_training_data_2016.py:727-763``). The reference uses
  replace-first-occurrence with an offset-slice fallback; because our
  mentions carry exact token coordinates we splice at the token — the
  same observable result as the reference's fallback path, with no
  string-match ambiguity, and it stays native (no UDF).

Scale notes:

- One pair generator, a band join: a mention's ``bucket`` is
  ``sent_idx DIV (max_k + 1)``. Each OBJ mention is exploded to
  buckets b−1, b and b+1; the join keys on ``(conv_id, bucket)`` and
  then keeps ``k ≤ max_k``. Why no pair is lost: buckets are
  ``max_k + 1`` sentences wide, so two sentences at most ``max_k``
  apart lie in the same or adjacent buckets, and the OBJ copy at the
  OP's bucket meets the OP. Why none is doubled: the three copies of
  an OBJ carry distinct buckets, and an OP has exactly one, so each
  in-band pair meets once — no dedup step.
- The join emits only pairs fewer than ``2 * (max_k + 1)`` sentences
  apart instead of all n_OP·n_OBJ of a conversation, and a long
  conversation spreads over ceil(n_sents / (max_k + 1)) join keys, so
  no one reducer takes the whole of it; AQE skew-join splitting covers
  residual imbalance.
- ``cand_id`` is per-conversation (``conv#e1#e2``, or ``conv#seq`` in
  ``candidate_pairs``), never a global ``row_number`` over one
  partition — a global window would serialize at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import MAX_K
from .mentions import duck_mentions_cte
from .segmentation import duck_with_prefix

CAND_ORDER = ["k", "sent1", "tok1", "sent2", "tok2"]
# candidate_pairs' column order, as the DuckDB oracle emits it
PAIR_COLS = ["conv_id", "e1_id", "e1_surface", "sent1", "tok1",
             "e2_id", "e2_surface", "sent2", "tok2", "k"]


def candidate_pairs(mentions: DataFrame, max_k: int = MAX_K) -> DataFrame:
    """mentions → candidate pairs, nearest pair per (conv, e1, e2), with
    the W7 per-conversation numbering the DuckDB oracle checks.

    Output: ``(conv_id, e1_id, e1_surface, sent1, tok1, e2_id,
    e2_surface, sent2, tok2, k, cand_seq, cand_id)``; the pairs are
    :func:`candidate_pairs_fast`'s, ``cand_id`` is ``conv_id#cand_seq``.
    Construction memoized on the mention table's identity (r6).
    """
    from ..session import input_plan_memo

    def build() -> DataFrame:
        w_seq = Window.partitionBy("conv_id").orderBy(*CAND_ORDER, "e1_id", "e2_id")
        return (
            candidate_pairs_fast(mentions, max_k)
            .select(*PAIR_COLS)
            .withColumn("cand_seq", F.row_number().over(w_seq).cast("int"))
            .withColumn("cand_id", F.concat_ws("#", "conv_id", "cand_seq"))
        )

    return input_plan_memo(("candidate_pairs", max_k), (mentions,), build)


def candidate_pairs_fast(mentions: DataFrame, max_k: int = MAX_K) -> DataFrame:
    """The package's one pair generator (J3/F2/W4/W5), used by the
    pipeline's candidate stage: ``(conv_id, e1_id, e2_id, e1_surface,
    sent1, tok1, e2_surface, sent2, tok2, k, cand_id)``.

    - The OP⋈OBJ join is a band join on ``(conv_id, bucket)`` with
      ``bucket = sent_idx DIV (max_k + 1)`` (see the module notes).
    - W5 nearest-pair selection runs as ``min_by`` aggregation (one
      shuffle with map-side partial aggregation), not a ``row_number``
      window (exchange + full sort).
    - ``cand_id`` is derived from the group key (``conv#e1#e2`` —
      unique after nearest-pair selection, and the key
      ``graph.duck_triples`` pins), so no numbering exchange is needed.

    Construction memoized on the mention table's identity (r6).
    """
    from ..session import input_plan_memo

    return input_plan_memo(
        ("candidate_pairs_fast", max_k),
        (mentions,),
        lambda: _band_pairs(mentions, int(max_k)),
    )


def _bucket(max_k: int) -> str:
    """The band key of a mention: buckets are ``max_k + 1`` sentences
    wide, so an in-band pair is at most one bucket apart."""
    return f"sent_idx DIV {max_k + 1}"


def _band_pairs(mentions: DataFrame, max_k: int) -> DataFrame:
    b = _bucket(max_k)
    m1 = mentions.where("ner_tag = 'OP'").selectExpr(
        "conv_id", f"{b} AS bucket", "entity_id AS e1_id",
        "surface AS e1_surface", "sent_idx AS sent1", "tok_idx AS tok1",
    )
    # each OBJ mention meets the OPs of its own and both adjacent buckets
    m2 = mentions.where("ner_tag = 'OBJ'").selectExpr(
        "conv_id", f"explode(array({b} - 1, {b}, {b} + 1)) AS bucket",
        "entity_id AS e2_id", "surface AS e2_surface",
        "sent_idx AS sent2", "tok_idx AS tok2",
    )
    pairs = (
        m1.join(m2, ["conv_id", "bucket"])
        .selectExpr("*", "CAST(abs(sent2 - sent1) AS INT) AS k")
        .where(f"k <= {max_k}")
    )
    order_cols = ", ".join(CAND_ORDER)
    best = pairs.groupBy("conv_id", "e1_id", "e2_id").agg(
        F.expr(
            "min_by(struct(e1_surface, sent1, tok1, e2_surface, sent2, tok2, k), "
            f"struct({order_cols}))"
        ).alias("best")
    )
    return best.selectExpr(
        "conv_id", "e1_id", "e2_id", "best.*",
        "concat_ws('#', conv_id, e1_id, e2_id) AS cand_id",
    )


def duck_candidates_cte(max_k: int = MAX_K) -> str:
    order = "k, sent1, tok1, sent2, tok2"
    return f"""
        SELECT * EXCLUDE (rn),
               conv_id || '#' || CAST(cand_seq AS VARCHAR) AS cand_id
        FROM (
            SELECT *,
                   CAST(ROW_NUMBER() OVER (PARTITION BY conv_id
                                           ORDER BY {order}, e1_id, e2_id) AS INT) AS cand_seq
            FROM (
                SELECT *,
                       ROW_NUMBER() OVER (PARTITION BY conv_id, e1_id, e2_id
                                          ORDER BY {order}) AS rn
                FROM (
                    SELECT m1.conv_id,
                           m1.entity_id AS e1_id, m1.surface AS e1_surface,
                           m1.sent_idx AS sent1, m1.tok_idx AS tok1,
                           m2.entity_id AS e2_id, m2.surface AS e2_surface,
                           m2.sent_idx AS sent2, m2.tok_idx AS tok2,
                           CAST(ABS(m2.sent_idx - m1.sent_idx) AS INT) AS k
                    FROM mentions m1
                    JOIN mentions m2 ON m1.conv_id = m2.conv_id
                    WHERE m1.ner_tag = 'OP' AND m2.ner_tag = 'OBJ'
                      AND ABS(m2.sent_idx - m1.sent_idx) <= {max_k}
                )
            )
            WHERE rn = 1
        )
    """


def tag_candidates(candidates: DataFrame, sentences: DataFrame) -> DataFrame:
    """T3: build the candidate sentence window with inline
    ``<e1>…</e1>`` / ``<e2>…</e2>`` markers.

    Joins the window's sentences back (range join on
    ``sent_idx BETWEEN least(sent1,sent2) AND greatest(...)``), orders
    them, splices tags at token coordinates, all in Column algebra.
    Adds the F3 ``tags_ok`` completeness flag (quarantine routing) and
    the F4 ``contained`` overlap flag.
    """
    smin = F.least("sent1", "sent2")
    smax = F.greatest("sent1", "sent2")
    c = candidates.withColumn("smin", smin).withColumn("smax", smax)
    joined = c.join(
        sentences.select("conv_id", "sent_idx", "sent_text"),
        on=[
            c.conv_id == sentences.conv_id,
            sentences.sent_idx.between(c.smin, c.smax),
        ],
    ).drop(sentences.conv_id)
    # Tag per joined sentence row (narrow), then re-assemble in order.
    tagged_sent = F.array_join(
        F.transform(
            F.split(F.col("sent_text"), " "),
            lambda w, i: F.when(
                (F.col("sent_idx") == F.col("sent1")) & (i == F.col("tok1")),
                F.concat(F.lit("<e1>"), w, F.lit("</e1>")),
            )
            .when(
                (F.col("sent_idx") == F.col("sent2")) & (i == F.col("tok2")),
                F.concat(F.lit("<e2>"), w, F.lit("</e2>")),
            )
            .otherwise(w),
        ),
        " ",
    )
    joined = joined.withColumn("tagged_sent", tagged_sent)
    gcols = [f.name for f in candidates.schema.fields] + ["smin", "smax"]
    agg = joined.groupBy(*gcols).agg(
        F.array_sort(F.collect_list(F.struct("sent_idx", "tagged_sent"))).alias("wsents")
    )
    out = agg.withColumn(
        "tagged_text",
        F.array_join(
            F.transform(F.col("wsents"), lambda s: s.tagged_sent), " "
        ),
    ).drop("wsents")
    out = out.withColumn(
        "tags_ok",
        F.col("tagged_text").contains("<e1>")
        & F.col("tagged_text").contains("</e1>")
        & F.col("tagged_text").contains("<e2>")
        & F.col("tagged_text").contains("</e2>"),
    ).withColumn(
        "contained",
        (F.col("sent1") == F.col("sent2")) & (F.col("tok1") == F.col("tok2")),
    )
    return out


def duck_tagged_cte(max_k: int = MAX_K) -> str:
    return f"""
        SELECT * EXCLUDE (smin, smax, sent_idx, tagged_sent),
               array_to_string(list(tagged_sent ORDER BY sent_idx), ' ') AS tagged_text
        FROM (
            SELECT c.*, s.sent_idx,
                   array_to_string(
                       list_transform(
                           string_split(s.sent_text, ' '),
                           (w, i) -> CASE
                               WHEN s.sent_idx = c.sent1 AND i - 1 = c.tok1
                                   THEN '<e1>' || w || '</e1>'
                               WHEN s.sent_idx = c.sent2 AND i - 1 = c.tok2
                                   THEN '<e2>' || w || '</e2>'
                               ELSE w END),
                       ' ') AS tagged_sent
            FROM (SELECT *, LEAST(sent1, sent2) AS smin, GREATEST(sent1, sent2) AS smax
                  FROM candidates) c
            JOIN sentences s
              ON s.conv_id = c.conv_id AND s.sent_idx BETWEEN c.smin AND c.smax
        )
        GROUP BY conv_id, e1_id, e1_surface, sent1, tok1,
                 e2_id, e2_surface, sent2, tok2, k, cand_seq, cand_id
    """


def duck_full_prefix(max_k: int = MAX_K) -> str:
    """WITH-prefix: transcripts, sentences, mentions, candidates."""
    return (
        duck_with_prefix()
        + f", mentions AS ({duck_mentions_cte()})"
        + f", candidates AS ({duck_candidates_cte(max_k)})"
    )
