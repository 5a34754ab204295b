"""SDP/ADP featurization as a vectorized Arrow kernel (SURVEY.md §2.12 #3).

``featurize_pair`` is the ``mapInPandas`` stage that turns each
candidate window into inter-sentential dependency-path features:
deterministic parse (G1), global graph with root chaining (G2), exact
entity-index resolution (G3), the tree path between the two entity
tokens = iSDP (G4), the window's ADP parent array (G5; the TreeRNN
derives its evaluation levels from it), position/POS/IOB index arrays
(M11–M13).

The reference re-parses every candidate through a JVM subprocess
(``generate_sdp.py:24-28,70-79``) — the dominant hot spot (SURVEY.md
§4.2.1). Here parsing is in-process, batched, and *narrow*: no shuffle;
Arrow batches cross the JVM↔Python boundary once.

Rows whose entity index falls outside the window or that tokenize empty
are routed to the quarantine side-output (F3/F5 semantics,
``generate_bb_training_data_2016.py:765-769``) via ``ok = false`` —
the pipeline splits on the flag so both sides stay observable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import kernels

CAND_COLS = [
    "conv_id",
    "cand_id",
    "cand_seq",
    "e1_id",
    "e2_id",
    "e1_surface",
    "e2_surface",
    "sent1",
    "tok1",
    "sent2",
    "tok2",
    "k",
]

FEAT_FIELDS = (
    "sdp_gidx array<int>, sdp_words array<string>, sdp_pos array<int>, "
    "sdp_iob array<int>, pi_e1 array<int>, pi_e2 array<int>, "
    "win_words array<string>, parents array<int>, "
    # M12 — explicit entity-presence bit pairs (word-set membership,
    # elman-bidirection.py:186-189); the model consumes the IOB channel,
    # these stay observable columns for reference parity
    "ent_pres_e1 array<int>, ent_pres_e2 array<int>"
)


def candidate_windows(candidates: DataFrame, sentences: DataFrame) -> DataFrame:
    """Attach the ordered window sentence texts to each candidate.

    Sentences are first folded into ONE ordered array per conversation
    (``sent_idx`` is 0-based dense per conv, so array position =
    sent_idx), then the window is a native ``slice`` after an equi-join
    on ``conv_id``. Both inputs are already hash-partitioned by
    ``conv_id`` (segmentation window / candidate aggregation), so the
    fold and the join introduce no new exchange — unlike the previous
    range-join + per-candidate collect_list formulation, which shuffled
    every (candidate × window-sentence) row twice.
    """
    conv_sents = sentences.groupBy("conv_id").agg(
        F.expr("array_sort(collect_list(struct(sent_idx, sent_text)))").alias("_arr")
    )
    c = candidates.selectExpr(
        "*", "least(sent1, sent2) AS smin", "greatest(sent1, sent2) AS smax"
    )
    return (
        c.join(conv_sents, "conv_id")
        .selectExpr(
            "*",
            "transform(slice(_arr, smin + 1, smax - smin + 1), "
            "s -> s.sent_text) AS wtexts",
        )
        .drop("_arr")
    )


def _entity_path_positions():
    """(p1, p2) — 0-based SDP index of each entity, from the IOB
    channel (1 marks e1, 2 marks e2; a contained pair has no 2 and the
    kernel anchors both positions at e1, mirrored here)."""
    p1 = F.array_position("sdp_iob", 1) - 1
    raw_p2 = F.array_position("sdp_iob", 2)
    p2 = F.when(raw_p2 == 0, p1).otherwise(raw_p2 - 1)
    return p1, p2


def position_bounds(featurized: DataFrame) -> DataFrame:
    """A4 — global unnormalised-position bounds scan
    (``elman-bidirection.py:276-314``): min/max of *signed*
    token-to-entity distances over every featurized sequence, plus
    ``pos_vocab_size = int(max + |min|)``. The reference loops the
    whole corpus on the driver; here it is one map-side-combined
    ``agg(min, max)`` — the 2-pass structure survives (bounds then
    shift) but each pass is distributed. Signed distances per row span
    ``[-p, L-1-p]`` for each entity position p, so the scan needs no
    re-featurization — pure Column algebra over ``sdp_iob``."""
    p1, p2 = _entity_path_positions()
    last = F.size("sdp_iob") - 1
    row_min = F.least(-p1, -p2)
    row_max = F.greatest(last - p1, last - p2)
    return featurized.filter("ok").agg(
        F.min(row_min).cast("int").alias("min_pos"),
        F.max(row_max).cast("int").alias("max_pos"),
        (F.max(row_max) + F.abs(F.min(row_min))).cast("int").alias("pos_vocab_size"),
    )


def shift_positions(featurized: DataFrame) -> DataFrame:
    """A4 application — per-token signed distances shifted
    non-negative by ``|min_pos|`` (the reference adds
    ``[abs(min), abs(min)]`` to every pair). The 1-row bounds side is
    broadcast; the shift itself is a native array ``transform`` (no
    Python). Adds ``pos_e1``/``pos_e2`` arrays."""
    b = position_bounds(featurized)
    p1, p2 = _entity_path_positions()
    shift = F.abs(F.col("min_pos"))

    def pos(p):
        return F.transform(
            F.sequence(F.lit(0), F.size("sdp_iob") - 1),
            lambda i: (i - p + shift).cast("int"),
        )

    return (
        featurized.filter("ok")
        .crossJoin(F.broadcast(b))
        .withColumn("pos_e1", pos(p1))
        .withColumn("pos_e2", pos(p2))
    )


def featurize_rows(pdf: pd.DataFrame, tokenizer: str) -> list[dict | None]:
    """``kernels.featurize_window`` over each window row of an Arrow
    batch (``wtexts``, ``sent1``, ``tok1``, ``sent2``, ``tok2``,
    ``smin``); None marks a row to quarantine. ``tokenizer`` is the T2
    gate: ``'split'`` or ``'treebank'``."""
    tokenize = None
    if tokenizer == "treebank":
        from .segmentation import treebank_tokenize as tokenize
    return [
        kernels.featurize_window(
            list(r.wtexts),
            int(r.sent1),
            int(r.tok1),
            int(r.sent2),
            int(r.tok2),
            int(r.smin),
            tokenize=tokenize,
        )
        for r in pdf.itertuples(index=False)
    ]


def featurize_pair(windows: DataFrame, tokenizer: str = "split") -> DataFrame:
    """candidate windows → feature arrays (+ ``ok`` quarantine flag).
    ``tokenizer`` mirrors the fused kernel's T2 gate (``'split'`` |
    ``'treebank'``) so the staged features stay coordinate-compatible
    with treebank-mode mention detection."""
    out_schema = (
        ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in windows.schema.fields
        )
        + ", ok boolean, "
        + FEAT_FIELDS
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        empty = {
            "sdp_gidx": None,
            "sdp_words": None,
            "sdp_pos": None,
            "sdp_iob": None,
            "pi_e1": None,
            "pi_e2": None,
            "win_words": None,
            "parents": None,
            "ent_pres_e1": None,
            "ent_pres_e2": None,
        }
        for pdf in batches:
            feats = []
            for f, s1, s2 in zip(
                featurize_rows(pdf, tokenizer), pdf["e1_surface"], pdf["e2_surface"]
            ):
                if f is None:
                    feats.append({"ok": False, **empty})
                else:
                    f1, f2 = kernels.entity_presence_flags(f["sdp_words"], str(s1), str(s2))
                    feats.append(
                        {"ok": True, **f, "ent_pres_e1": f1, "ent_pres_e2": f2}
                    )
            feat_df = pd.DataFrame(feats, columns=["ok", *empty])
            out = pd.concat([pdf.reset_index(drop=True), feat_df], axis=1)
            yield out

    return windows.mapInPandas(run, schema=out_schema)


# --------------------------------------- DuckDB oracles for the SDP family

def duck_sdp_ctes() -> str:
    """CTE chain computing the per-candidate iSDP length in pure SQL —
    the cross-engine oracle for the flagship kernel outputs
    (``featurized_sdp``, ``triples``, ``kg``, ``a2_lines``,
    ``position_bounds``, ``adp_degree``).

    The deterministic grammar (G1, ``kernels.head_of``) makes every
    candidate-window graph a TREE: per-sentence heads always point
    left (token 0 = root) and adjacent sentence roots are chained
    (G2, reference ``generate_sdp.py:106``), so the shortest path
    (G4, ``generate_sdp.py:111-114``) is the unique tree path the
    kernel walks (``kernels.featurize_window``) and its length has a
    closed form:

    - ``depth(i)`` (edges to the sentence root): with ``A(i)`` = count
      of *anchor* tokens (``h15(word) % 3 == 0``) strictly before *i*
      and ``a1`` = first anchor position, ``depth = i`` when
      ``A(i) = 0`` else ``a1 + A(i)`` (each anchor chains to the
      previous anchor; the prefix before the first anchor is the
      consecutive fallback chain ``i → i-1 → …``). Verified against
      the kernel's tree path on randomized sentences (test_kernels).
    - cross-sentence pair: ``depth(t1) + |sent2 - sent1| + depth(t2)``
      (the only inter-sentence edges are root–root).
    - same-sentence pair: min over common ancestors *w* of
      ``d(t1,w) + d(t2,w)`` — ancestor paths come from a recursive CTE
      over the head pointers (heads strictly decrease, so it
      terminates). Requires ``WITH RECURSIVE``.

    Composes after :func:`candidates.duck_full_prefix` (tables
    ``sentences`` and ``candidates`` must be in scope).
    """
    from ..hashing import duck_h15

    anchor = duck_h15("lower(w)") + " % 3 = 0"
    return f"""
        , sdp_toks AS (
            SELECT conv_id, sent_idx, CAST(i AS INT) AS tok,
                   {anchor} AS is_anchor
            FROM (
                SELECT conv_id, sent_idx, ws[CAST(i AS INT) + 1] AS w, i
                FROM (SELECT conv_id, sent_idx,
                             string_split(sent_text, ' ') AS ws,
                             UNNEST(range(len(string_split(sent_text, ' ')))) AS i
                      FROM sentences)
            )
        )
        , sdp_heads AS (
            SELECT conv_id, sent_idx, tok,
                   CASE WHEN tok = 0 THEN -1
                        ELSE CAST(COALESCE(
                            MAX(CASE WHEN is_anchor THEN tok END)
                                OVER (PARTITION BY conv_id, sent_idx ORDER BY tok
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                            tok - 1) AS INT) END AS head,
                   CAST(COUNT(CASE WHEN is_anchor THEN 1 END)
                        OVER (PARTITION BY conv_id, sent_idx ORDER BY tok
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS INT)
                       AS a_before,
                   CAST(MIN(CASE WHEN is_anchor THEN tok END)
                        OVER (PARTITION BY conv_id, sent_idx) AS INT) AS first_anchor
            FROM sdp_toks
        )
        , sdp_depths AS (
            SELECT conv_id, sent_idx, tok,
                   CASE WHEN a_before = 0 THEN tok
                        ELSE first_anchor + a_before END AS depth
            FROM sdp_heads
        )
        , sdp_ss_endpoints AS (
            SELECT DISTINCT conv_id, sent1 AS sent_idx, tok1 AS tok
            FROM candidates WHERE sent1 = sent2
            UNION
            SELECT DISTINCT conv_id, sent2 AS sent_idx, tok2 AS tok
            FROM candidates WHERE sent1 = sent2
        )
        , sdp_anc AS (
            SELECT conv_id, sent_idx, tok AS src, tok AS node, 0 AS d
            FROM sdp_ss_endpoints
            UNION ALL
            SELECT a.conv_id, a.sent_idx, a.src, h.head AS node, a.d + 1 AS d
            FROM sdp_anc a
            JOIN sdp_heads h ON h.conv_id = a.conv_id
                            AND h.sent_idx = a.sent_idx AND h.tok = a.node
            WHERE h.head >= 0
        )
        , sdp_ss_dist AS (
            SELECT u.conv_id, u.sent_idx, u.src AS tok_u, v.src AS tok_v,
                   MIN(u.d + v.d) AS dist
            FROM sdp_anc u
            JOIN sdp_anc v ON u.conv_id = v.conv_id
                          AND u.sent_idx = v.sent_idx AND u.node = v.node
            GROUP BY ALL
        )
        , sdp_win_ok AS (
            -- the kernel quarantines (ok=false) exactly when a window
            -- sentence tokenizes empty (F5); unreachable is impossible
            -- (tree) and coordinates are exact (G3)
            SELECT c.cand_id, c.conv_id,
                   BOOL_AND(trim(s.sent_text) <> '') AS ok
            FROM candidates c
            JOIN sentences s ON s.conv_id = c.conv_id
               AND s.sent_idx BETWEEN LEAST(c.sent1, c.sent2)
                                  AND GREATEST(c.sent1, c.sent2)
            GROUP BY ALL
        )
        , sdp AS (
            SELECT c.*, o.ok,
                   CAST(CASE WHEN c.sent1 = c.sent2 THEN sd.dist
                        ELSE d1.depth + ABS(c.sent2 - c.sent1) + d2.depth
                        END AS INT) AS sdp_dist
            FROM candidates c
            JOIN sdp_win_ok o ON o.conv_id = c.conv_id AND o.cand_id = c.cand_id
            LEFT JOIN sdp_ss_dist sd ON sd.conv_id = c.conv_id
                 AND sd.sent_idx = c.sent1
                 AND sd.tok_u = c.tok1 AND sd.tok_v = c.tok2
            LEFT JOIN sdp_depths d1 ON d1.conv_id = c.conv_id
                 AND d1.sent_idx = c.sent1 AND d1.tok = c.tok1
            LEFT JOIN sdp_depths d2 ON d2.conv_id = c.conv_id
                 AND d2.sent_idx = c.sent2 AND d2.tok = c.tok2
        )
    """


def duck_sdp_prefix() -> str:
    """Full ``WITH RECURSIVE`` prefix: transcripts → … → candidates →
    sdp (per-candidate tree distance)."""
    from .candidates import duck_full_prefix

    return (
        duck_full_prefix().replace("WITH ", "WITH RECURSIVE ", 1) + duck_sdp_ctes()
    )


def duck_featurized_sdp() -> str:
    """Oracle for the ``featurized_sdp`` driver query: sdp_len =
    tree distance + 1 (path node count; contained pair → 1)."""
    return f"""
        {duck_sdp_prefix()}
        SELECT conv_id, cand_id, k, ok,
               CASE WHEN ok THEN sdp_dist + 1 END AS sdp_len
        FROM sdp
    """


def duck_triples(gold_max_hops: int, predicate: str) -> str:
    """Oracle for the flagship ``triples`` set: the trained scorer
    reproduces the corpus gold rule (relation ⟺ SDP ≤ ``gold_max_hops``
    edges — ``training.gold_label``; P=R=1.0 with wide margins at the
    tested scales, ``tests/test_parity.py``), so the emitted triple
    set is SQL-expressible even though the RNN score itself is not.

    ``cand_id`` uses the fast-path natural key ``conv#e1#e2``
    (``candidate_pairs_fast``; unique — pairs are deduped to nearest
    per (conv, e1, e2)), not the slow path's ``conv#seq``."""
    return f"""
        {duck_sdp_prefix()}
        SELECT conv_id,
               e1_id AS subj, '{predicate}' AS pred, e2_id AS obj,
               e1_surface AS subj_surface, e2_surface AS obj_surface,
               k, conv_id || '#' || e1_id || '#' || e2_id AS cand_id
        FROM sdp WHERE ok AND sdp_dist <= {gold_max_hops}
    """


def duck_position_bounds() -> str:
    """Oracle for A4: the SDP path starts at e1 and ends at e2
    (``featurize_window``: the tree path g1 → g2), so p1 = 0 and
    p2 = len-1 and the signed-distance bounds collapse to
    ±max(sdp_dist) with pos_vocab_size = 2·max(sdp_dist)."""
    return f"""
        {duck_sdp_prefix()}
        SELECT CAST(-MAX(sdp_dist) AS INT) AS min_pos,
               CAST(MAX(sdp_dist) AS INT) AS max_pos,
               CAST(2 * MAX(sdp_dist) AS INT) AS pos_vocab_size
        FROM sdp WHERE ok
    """


def duck_adp_degree() -> str:
    """Oracle for A5: per-window max ADP fan-out = max over window
    sentences of per-head child counts, vs the dummy root's fan-out
    (= window sentence count, ``kernels.combined_parents``)."""
    return f"""
        {duck_sdp_prefix()}
        , sdp_fan AS (
            SELECT conv_id, sent_idx, MAX(cnt) AS max_fan
            FROM (SELECT conv_id, sent_idx, head, COUNT(*) AS cnt
                  FROM sdp_heads WHERE head >= 0 GROUP BY ALL)
            GROUP BY ALL
        )
        SELECT CAST(MAX(win_deg) AS INT) AS max_degree FROM (
            SELECT GREATEST(
                       COALESCE(MAX(f.max_fan), 0),
                       GREATEST(c.sent1, c.sent2) - LEAST(c.sent1, c.sent2) + 1
                   ) AS win_deg
            FROM candidates c
            LEFT JOIN sdp_fan f ON f.conv_id = c.conv_id
               AND f.sent_idx BETWEEN LEAST(c.sent1, c.sent2)
                                  AND GREATEST(c.sent1, c.sent2)
            GROUP BY c.conv_id, c.cand_id, c.sent1, c.sent2
        )
    """
