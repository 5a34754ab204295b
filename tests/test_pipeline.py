"""End-to-end pipeline invariants (SURVEY.md §5.2.3–§5.2.6).

- per-turn text equality under stable turn ordering (north rule)
- Spark featurize/score path ≡ pure-numpy oracle on collected windows
- band-join candidate generation ≡ the DuckDB all-pairs reference
- threshold routing, quarantine behavior, dedup grain
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from cross_sentence_relation_extraction_idepnn_spark import kernels as K
from cross_sentence_relation_extraction_idepnn_spark.config import MAX_K
from cross_sentence_relation_extraction_idepnn_spark.operators.candidates import (
    candidate_pairs,
)
from cross_sentence_relation_extraction_idepnn_spark.operators.graph import (
    candidate_windows,
    featurize_pair,
)
from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
    dedup_triples,
)
from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
    detect_mentions,
)
from cross_sentence_relation_extraction_idepnn_spark.operators.scoring import (
    emit_triples,
    score_pairs,
)
from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import (
    segment,
)
from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
    extract_triples,
)
from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
    transcripts,
)
from cross_sentence_relation_extraction_idepnn_spark.training import load_weights
from compare_util import assert_candidates_match_reference


def test_per_turn_text_equality_under_stable_ordering(spark, sf_dir):
    """North-rule per-row invariant: reassembling each turn's sentences
    in stable (turn_idx, begin) order reproduces the turn text exactly."""
    t = transcripts(spark, sf_dir)
    s = segment(t)
    rebuilt = s.groupBy("conv_id", "turn_idx").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("begin", "sent_text"))),
                lambda x: x.sent_text,
            ),
            " ",
        ).alias("re_text")
    )
    bad = (
        t.join(rebuilt, ["conv_id", "turn_idx"], "full")
        .filter(
            F.col("text").isNull()
            | F.col("re_text").isNull()
            | (F.col("text") != F.col("re_text"))
        )
        .count()
    )
    assert bad == 0


def test_sentence_offsets_slice_turn_text(spark, sf_dir):
    """W2 contract: text[begin:end] == sent_text for every sentence."""
    t = transcripts(spark, sf_dir)
    s = segment(t).join(t.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"])
    bad = s.filter(
        F.expr("substring(text, begin + 1, end - begin)") != F.col("sent_text")
    ).count()
    assert bad == 0


def test_candidates_equal_reference(spark, sf_dir):
    """Both pair generators (band join) select exactly the nearest
    pairs of DuckDB's all-pairs reference over the same mention rows."""
    mens = detect_mentions(spark, segment(transcripts(spark, sf_dir)))
    assert len(assert_candidates_match_reference(mens, MAX_K)) > 0


def test_salted_equals_unsalted_candidates(spark, sf_dir):
    """The band join's bucket key is its skew salt: splitting a
    conversation into (conv_id, bucket) join keys must lose no
    cross-boundary pair against the unbucketed all-pairs reference.
    max_k = 1 makes buckets 2 sentences wide, below typical
    conversation length, to force real bucket splits."""
    mens = detect_mentions(spark, segment(transcripts(spark, sf_dir)))
    ref = assert_candidates_match_reference(mens, 1)
    assert (ref.sent1 // 2 != ref.sent2 // 2).any()


def test_fast_candidates_equal_window_variant(spark, sf_dir):
    """candidate_pairs (candidate_pairs_fast plus the W7 cand_seq
    numbering window) must keep exactly the pairs candidate_pairs_fast
    selects: the numbering adds a column, never drops or repeats a row."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.candidates import (
        candidate_pairs_fast,
    )

    mens = detect_mentions(spark, segment(transcripts(spark, sf_dir)))
    cols = ["conv_id", "e1_id", "e2_id", "e1_surface", "e2_surface",
            "sent1", "tok1", "sent2", "tok2", "k"]
    a = candidate_pairs(mens).select(cols).toPandas().sort_values(cols).reset_index(drop=True)
    b = candidate_pairs_fast(mens).select(cols).toPandas().sort_values(cols).reset_index(drop=True)
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def _boundary_mentions(spark):
    """Mention rows around the band edges at max_k = 8 (buckets of 9
    sentences: 0-8, 9-17, 18-26), one scenario per conversation:
    (OP sentences, OBJ sentences) → whether a pair is in band."""
    cases = {
        "c0": ([0], [0]),        # Δ 0 at sent_idx 0
        "c1": ([0], [8]),        # Δ max_k from sent_idx 0, one bucket
        "c2": ([5], [13]),       # Δ max_k across edge 8|9, OP first
        "c3": ([18], [10]),      # Δ max_k across edge 17|18, OBJ first
        "c4": ([8], [17]),       # Δ max_k + 1, adjacent buckets: out
        "c5": ([9], [0]),        # Δ max_k + 1, OBJ at sent_idx 0: out
        "c6": ([0], [26]),       # two buckets apart: out
        "c7": ([8], [0, 16, 17]),  # Δ max_k tie across both edges
    }
    rows = [
        (conv, tag, f"{conv}_{tag}", f"{tag.lower()}{i}", sent, i)
        for conv, (ops, objs) in cases.items()
        for tag, sents in (("OP", ops), ("OBJ", objs))
        for i, sent in enumerate(sents)
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, ner_tag string, entity_id string, surface string, "
        "sent_idx int, tok_idx int",
    )


def test_candidates_equal_reference_at_band_edges(spark):
    """Pairs at Δ = max_k across a bucket edge in both directions, a
    pair at sent_idx 0, and Δ = max_k + 1 pairs that must stay out,
    at the MUC6 setting (max_k = 8) and the default."""
    mens = _boundary_mentions(spark)
    ref = assert_candidates_match_reference(mens, 8)
    assert sorted(ref.conv_id) == ["c0", "c1", "c2", "c3", "c7"]
    assert sorted(ref.k) == [0, 8, 8, 8, 8]
    assert ref.set_index("conv_id").sent2["c7"] == 0  # tie → lower sent2
    assert_candidates_match_reference(mens, MAX_K)


def test_fast_triples_are_deterministic(spark, sf_dir):
    """The fast-path triples are the same under one shuffle partition
    and the session default, and across two runs in one session (the
    band join moves the candidate shuffle key to (conv_id, bucket))."""
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        triples_from_transcripts,
    )

    def triples():
        # a new input object: every plan of the chain is built afresh
        df = triples_from_transcripts(spark, transcripts(spark, sf_dir).select("*"))
        return sorted(map(str, df.collect())), df

    default, df = triples()
    assert len(default) > 0
    assert sorted(map(str, df.collect())) == default
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        one, _ = triples()
    finally:
        spark.conf.set(key, prev)
    assert one == default


def test_fused_kernel_equals_staged_path(spark, sf_dir):
    """featurize_and_score (fused Arrow kernel) must emit the same
    (candidate, score) set as featurize_pair → score_pairs, bit for
    bit, even when the staged side sees other Arrow batches."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.scoring import (
        featurize_and_score,
    )

    sents = segment(transcripts(spark, sf_dir))
    cands = candidate_pairs(detect_mentions(spark, sents))
    wins = candidate_windows(cands, sents)
    W = load_weights()
    fused = (
        featurize_and_score(wins, weights=W)
        .filter("ok")
        .select("cand_id", "p_rel")
        .toPandas()
        .sort_values("cand_id")
        .reset_index(drop=True)
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        staged = (
            score_pairs(featurize_pair(wins).filter("ok"), weights=W, keep_cols=["cand_id"])
            .select("cand_id", "p_rel")
            .toPandas()
            .sort_values("cand_id")
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set(key, prev)
    pd.testing.assert_frame_equal(fused, staged, check_exact=True)


def test_spark_scoring_matches_numpy_oracle(spark, sf_dir):
    """The distributed mapInPandas path must reproduce the single-node
    kernel bit-for-bit (same float64 ops, different batching)."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.scoring import (
        FEATURE_COLS,
    )

    sents = segment(transcripts(spark, sf_dir))
    cands = candidate_pairs(detect_mentions(spark, sents))
    feats = featurize_pair(candidate_windows(cands, sents)).filter("ok")
    W = load_weights()
    scored = (
        score_pairs(feats, weights=W)
        .select("cand_id", "p_rel")
        .toPandas()
        .sort_values("cand_id")
        .reset_index(drop=True)
    )
    assert len(scored) > 0
    fpdf = (
        feats.select("cand_id", *FEATURE_COLS)
        .toPandas()
        .sort_values("cand_id")
        .reset_index(drop=True)
    )
    assert (fpdf["cand_id"] == scored["cand_id"]).all()
    rows = [
        {k: list(r[k]) for k in FEATURE_COLS} for _, r in fpdf.iterrows()
    ]
    probs = K.score_batch(rows, W)
    np.testing.assert_allclose(scored["p_rel"].to_numpy(), probs[:, 1], rtol=1e-9)


def test_threshold_routing_and_triple_shape(spark, sf_dir):
    triples = extract_triples(spark, sf_dir, threshold=0.5)
    pdf = triples.toPandas()
    assert set(pdf.columns) == {
        "conv_id", "subj", "pred", "obj", "subj_surface", "obj_surface",
        "k", "score", "cand_id",
    }
    assert (pdf["score"] >= 0.5).all()
    assert (pdf["k"] <= MAX_K).all()
    assert (pdf["pred"] == "acts_on").all()
    # threshold monotonicity: raising θ can only shrink the set
    n_hi = extract_triples(spark, sf_dir, threshold=0.9).count()
    assert n_hi <= len(pdf)


def test_dedup_grain_and_support(spark, sf_dir):
    triples = extract_triples(spark, sf_dir)
    kg = dedup_triples(triples).toPandas()
    assert kg.duplicated(subset=["subj", "pred", "obj"]).sum() == 0
    assert int(kg["support"].sum()) == triples.count()


def test_quarantine_rows_are_flagged_not_dropped(spark):
    """F3/F5: a window containing a blank sentence routes to ok=false."""
    sents = spark.createDataFrame(
        [
            ("c1", 0, 0, 0, "scan reads", 0, 10, 2),
            ("c1", 0, 1, 1, "", 11, 11, 1),
            ("c1", 1, 2, 0, "a table", 12, 19, 2),
        ],
        "conv_id string, turn_idx int, sent_idx int, sent_in_turn int, "
        "sent_text string, begin int, end int, n_tokens int",
    )
    mens = detect_mentions(spark, sents)
    cands = candidate_pairs(mens)
    feats = featurize_pair(candidate_windows(cands, sents)).toPandas()
    assert len(feats) == 1  # scan × table
    assert not feats["ok"].iloc[0]


def test_scoring_is_deterministic_across_runs(spark, sf_dir):
    a = extract_triples(spark, sf_dir).toPandas().sort_values("cand_id").reset_index(drop=True)
    b = extract_triples(spark, sf_dir).toPandas().sort_values("cand_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_ensemble_or_vote_semantics(spark, sf_dir):
    """OR-vote (U3): the ensemble accept set is the union of per-model
    accept sets; a same-model two-threshold ensemble equals the looser
    threshold alone."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.scoring import (
        ensemble_or_vote, featurize_and_score,
    )

    sents = segment(transcripts(spark, sf_dir))
    cands = candidate_pairs(detect_mentions(spark, sents))
    wins = candidate_windows(cands, sents)
    scored = featurize_and_score(wins, weights=load_weights()).filter("ok")
    ens = ensemble_or_vote([(scored, 0.5), (scored, 0.9)]).toPandas()
    loose = scored.filter(F.col("p_rel") >= 0.5).count()
    assert int(ens["accepted"].sum()) == loose
    strict = scored.filter(F.col("p_rel") >= 0.9).count()
    assert int(ens["accepted"].sum()) >= strict


def test_emit_triples_column_contract(spark):
    scored = spark.createDataFrame(
        [("c1", "SCAN", "TABLE", "scan", "table", 1, "c1#1", 1, 0.73)],
        "conv_id string, e1_id string, e2_id string, e1_surface string, "
        "e2_surface string, k int, cand_id string, y_pred int, p_rel double",
    )
    out = emit_triples(scored, threshold=0.5).collect()
    assert len(out) == 1
    row = out[0]
    assert row.subj == "SCAN" and row.obj == "TABLE" and row.score == 0.73


def test_position_bounds_matches_numpy_scan(spark, sf_dir):
    """A4: the distributed agg(min,max) bounds scan must equal the
    reference's driver loop (elman-bidirection.py:276-314) re-derived
    in numpy over the collected feature rows, and the shifted
    positions must be non-negative with max == pos_vocab_size."""
    import numpy as np

    from cross_sentence_relation_extraction_idepnn_spark.operators.graph import (
        position_bounds,
        shift_positions,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
        detect_mentions,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import (
        segment,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        transcripts,
    )

    sents = segment(transcripts(spark, sf_dir))
    feats = featurize_pair(
        candidate_windows(candidate_pairs(detect_mentions(spark, sents)), sents)
    )
    got = position_bounds(feats).collect()[0]

    # reference-style scan: signed distances i - p over every sequence
    lo, hi = np.inf, -np.inf
    for r in feats.filter("ok").select("sdp_iob").collect():
        iob = r.sdp_iob
        p1 = iob.index(1)
        p2 = iob.index(2) if 2 in iob else p1
        for p in (p1, p2):
            d = np.arange(len(iob)) - p
            lo = min(lo, d.min())
            hi = max(hi, d.max())
    assert got.min_pos == int(lo)
    assert got.max_pos == int(hi)
    assert got.pos_vocab_size == int(hi + abs(lo))  # int(max + |min|)

    shifted = shift_positions(feats).select("pos_e1", "pos_e2").limit(200).collect()
    allv = [v for r in shifted for v in (list(r.pos_e1) + list(r.pos_e2))]
    assert min(allv) >= 0
    full = shift_positions(feats).select(
        F.greatest(F.array_max("pos_e1"), F.array_max("pos_e2")).alias("m")
    ).agg(F.max("m").alias("m")).collect()[0].m
    assert full == got.pos_vocab_size


def test_ent_pres_gated_scoring(spark, sf_dir):
    """M12 consumption (gated): with use_ent_pres=True the input concat
    gains the raw 2-bit pair (xdim+2, reference n_in += 2) and scoring
    runs end-to-end on Spark; numpy kernel parity on the same rows."""
    import numpy as np

    from cross_sentence_relation_extraction_idepnn_spark import kernels
    from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
        detect_mentions,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.scoring import (
        FEATURE_COLS,
        score_pairs,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import (
        segment,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        transcripts,
    )

    W = kernels.init_weights(use_ent_pres=True)
    sents = segment(transcripts(spark, sf_dir))
    feats = featurize_pair(
        candidate_windows(candidate_pairs(detect_mentions(spark, sents)), sents)
    ).filter("ok").limit(40).cache()

    got = (
        score_pairs(feats, weights=W, use_ent_pres=True, keep_cols=["cand_id"])
        .orderBy("cand_id")
        .collect()
    )
    cols = FEATURE_COLS + ["ent_pres_e1", "ent_pres_e2"]
    raw = feats.select("cand_id", *cols).orderBy("cand_id").collect()
    rows = [{k: list(r[k]) for k in cols} for r in raw]
    probs = kernels.score_batch(rows, W, use_ent_pres=True)
    assert [r.cand_id for r in got] == [r.cand_id for r in raw]
    assert np.allclose([r.p_rel for r in got], probs[:, 1])
    # the channel is live: zeroing the bits changes at least one score
    rows0 = [
        {**r, "ent_pres_e1": [0] * len(r["ent_pres_e1"]),
         "ent_pres_e2": [0] * len(r["ent_pres_e2"])}
        for r in rows
    ]
    any_flag = any(any(r["ent_pres_e1"]) or any(r["ent_pres_e2"]) for r in rows)
    assert any_flag
    probs0 = kernels.score_batch(rows0, W, use_ent_pres=True)
    assert not np.allclose(probs[:, 1], probs0[:, 1])


def test_merge_kg_tables_equals_full_rebuild_three_way(spark, sf_dir):
    """Incremental KG maintenance: splitting the corpus into THREE
    conv-hash deltas, materializing each delta's KG against the global
    canonical map, and merging must equal the one-shot full rebuild —
    support sums, min_k mins, max_score maxes are all decomposable."""
    import pyspark.sql.functions as F

    from cross_sentence_relation_extraction_idepnn_spark.hashing import spark_h15
    from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
        canonicalize,
        dedup_triples,
        merge_kg_tables,
        rekey_canonical,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
        detect_mentions,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import (
        segment,
    )
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        materialize_kg,
        triples_from_transcripts,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        transcripts,
    )

    tdf = transcripts(spark, sf_dir)
    canon = canonicalize(detect_mentions(spark, segment(tdf)))
    h = spark_h15(F.col("conv_id"))
    deltas = [
        dedup_triples(
            rekey_canonical(
                triples_from_transcripts(spark, tdf.filter(h % 3 == i)), canon
            )
        )
        for i in range(3)
    ]
    merged = merge_kg_tables(*deltas).toPandas()
    full = materialize_kg(spark, sf_dir).toPandas()
    cols = sorted(full.columns)
    import pandas as pd

    pd.testing.assert_frame_equal(
        merged[cols].sort_values(cols).reset_index(drop=True),
        full[cols].sort_values(cols).reset_index(drop=True),
        check_dtype=False,
    )


# --------------------------------------------- external-backend seam tests


def test_external_segmenter_seam_tolerates_divergent_backend(spark, sf_dir):
    """SURVEY §7.3.5 seam proof (VERDICT r3 missing #2): production
    swaps the deterministic twin segmenter for spaCy/stanza/punkt at
    the ``segmenter`` seam. A mock external backend with WHOLLY
    different behavior — different boundary policy (3-word sentences)
    AND text the alias dictionary has never seen (every 7th turn
    uppercased) — must flow through the full fast-path pipeline with
    no crash, the same output schema, and the per-turn text-equality
    invariant intact for unmangled turns."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import segment
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        triples_from_transcripts,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import transcripts

    def mock_segmenter(tdf):
        mangled = tdf.withColumn(
            "text",
            F.when(F.col("turn_idx") % 7 == 0, F.upper("text")).otherwise(
                F.col("text")
            ),
        )
        return segment(mangled, sent_words=3)

    tdf = transcripts(spark, sf_dir)
    baseline = triples_from_transcripts(spark, tdf)
    out = triples_from_transcripts(spark, tdf, segmenter=mock_segmenter)
    assert out.columns == baseline.columns
    assert out.count() >= 0  # completes — no crash on unseen tokens

    # invariant: the mock backend's sentences still tile each turn
    sents = mock_segmenter(tdf)
    recon = sents.groupBy("conv_id", "turn_idx").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("begin", "sent_text"))),
                lambda s: s.sent_text,
            ),
            " ",
        ).alias("recon")
    )
    joined = recon.join(tdf, ["conv_id", "turn_idx"]).filter(
        F.col("turn_idx") % 7 != 0
    )
    assert joined.filter(F.col("recon") != F.col("text")).count() == 0


def test_tokenizer_seam_routes_divergence_to_quarantine(spark, sf_dir, tmp_path):
    """A production backend pair can disagree (e.g. spaCy mention
    coordinates vs NLTK featurizer tokenization). The staged path must
    route coordinate breakage to the quarantine stage — never crash,
    never drop rows silently: ok + quarantined == all candidates, and
    a candidate whose coordinates are provably out of range lands in
    quarantine."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.candidates import (
        candidate_pairs,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.graph import (
        candidate_windows,
        featurize_pair,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
        detect_mentions,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import (
        punctuated_transcripts,
        segment_punkt,
    )

    # backend A segments + locates mentions on the split tokenizer;
    # backend B featurizes with treebank — a genuinely divergent pair
    sents = segment_punkt(punctuated_transcripts(spark, sf_dir))
    mens = detect_mentions(spark, sents, tokenizer="split")
    cands = candidate_pairs(mens)
    windows = candidate_windows(cands, sents)

    # plant one candidate whose coordinates CANNOT resolve (tok 9999)
    broken = windows.limit(1).withColumn("tok1", F.lit(9999)).withColumn(
        "cand_id", F.lit("planted#broken")
    )
    feats = featurize_pair(windows.unionByName(broken), tokenizer="treebank")

    total = windows.count() + 1
    n_ok = feats.filter("ok").count()
    n_bad = feats.filter("NOT ok").count()
    assert n_ok + n_bad == total  # nothing crashed, nothing vanished
    assert total > 1 and n_ok > 0
    # the planted out-of-range candidate was routed, not raised
    assert (
        feats.filter("NOT ok").filter(F.col("cand_id") == "planted#broken").count()
        == 1
    )


def test_mention_density_conserves_turns_and_mentions(spark, sf_dir):
    """Histogram turn mass equals the transcript turn count; weighted
    mention mass equals the mention-table row count; the zero bucket
    equals the independently-counted unmentioned turns."""
    from pyspark.sql import functions as F

    from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
        detect_mentions,
        mention_density,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import (
        segment,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        transcripts,
    )

    hist = mention_density(spark, sf_dir).collect()
    t = transcripts(spark, sf_dir)
    m = detect_mentions(spark, segment(t))
    n_turns = t.count()
    n_mentions = m.count()
    n_mentioned_turns = m.select("conv_id", "turn_idx").distinct().count()
    got0 = {r.n_mentions: r.n_turns for r in hist}.get(0, 0)
    assert sum(r.n_turns for r in hist) == n_turns
    assert sum(r.n_mentions * r.n_turns for r in hist) == n_mentions
    assert got0 == n_turns - n_mentioned_turns


def test_mention_recurrence_conserves_chains(spark, sf_dir):
    """Histogram chain mass equals the distinct (conv, entity) count
    and spans are bounded by per-conversation turn extents."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
        detect_mentions,
        mention_recurrence,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import (
        segment,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        transcripts,
    )

    hist = mention_recurrence(spark, sf_dir).collect()
    m = detect_mentions(spark, segment(transcripts(spark, sf_dir)))
    n_chains = m.select("conv_id", "entity_id").distinct().count()
    assert sum(r.n_chains for r in hist) == n_chains
    assert all(r.turn_span >= 0 for r in hist)


def test_alias_hit_rate_conserves(spark, sf_dir):
    """Role rows partition the turn universe; token and mention masses
    match independent counts; the e6 rate recomputes exactly."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
        alias_hit_rate,
        detect_mentions,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import (
        segment,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        transcripts,
    )

    rows = alias_hit_rate(spark, sf_dir).collect()
    t = transcripts(spark, sf_dir)
    m = detect_mentions(spark, segment(t))
    assert sum(r.n_turns for r in rows) == t.count()
    assert sum(r.n_mentions for r in rows) == m.count()
    for r in rows:
        assert r.hit_e6 == (r.n_mentions * 1_000_000 + r.n_tokens // 2) // r.n_tokens


def test_extraction_funnel_matches_stage_operators(spark, sf_dir):
    """Each funnel row equals its stage operator's independent count,
    and attrition is monotone across the scoring tail (featurized_ok ≥
    triples ≥ kg)."""
    import __spark_entry__ as entry

    got = {
        r.stage: r.n_rows
        for r in entry.queries()["extraction_funnel"](spark, sf_dir).collect()
    }
    qs = entry.queries()
    assert got["1_turns"] == qs["transcripts"](spark, sf_dir).count()
    assert got["2_sentences"] == qs["sentences"](spark, sf_dir).count()
    assert got["3_mentions"] == qs["mentions"](spark, sf_dir).count()
    assert got["4_candidates"] == qs["candidates"](spark, sf_dir).count()
    assert got["6_triples"] == qs["triples"](spark, sf_dir).count()
    assert got["7_kg"] == qs["kg"](spark, sf_dir).count()
    assert got["5_featurized_ok"] >= got["6_triples"] >= got["7_kg"]


def test_fused_kernel_quarantines_unfeaturizable_window(spark, sf_dir):
    """The fused kernel keeps a window it cannot featurize (token 9999)
    as ``ok = false`` with NULL ``p_rel``: it is neither raised nor
    dropped, and no threshold — not even 0 — turns it into a triple."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.candidates import (
        candidate_pairs_fast,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.scoring import (
        featurize_and_score,
    )

    sents = segment(transcripts(spark, sf_dir))
    windows = candidate_windows(
        candidate_pairs_fast(detect_mentions(spark, sents)), sents
    )
    broken = windows.limit(1).withColumn("tok1", F.lit(9999)).withColumn(
        "cand_id", F.lit("planted#broken")
    )
    scored = featurize_and_score(
        windows.unionByName(broken), weights=load_weights()
    )

    row = scored.filter(F.col("cand_id") == "planted#broken").collect()
    assert len(row) == 1
    assert row[0].ok is False and row[0].p_rel is None
    assert scored.count() == windows.count() + 1
    assert emit_triples(scored).filter(F.col("cand_id") == "planted#broken").count() == 0
    assert emit_triples(scored.filter(~F.col("ok")), threshold=0.0).count() == 0


def test_scores_keep_a_margin_from_the_threshold(spark, sf_dir):
    """Threshold-margin guard: no scored candidate sits within 1e-6 of
    ``SCORE_THRESHOLD``, so float drift between engines or kernel
    revisions cannot flip which triples are emitted."""
    from cross_sentence_relation_extraction_idepnn_spark.config import (
        SCORE_THRESHOLD,
    )
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        scored_from_transcripts,
    )

    scored = scored_from_transcripts(spark, transcripts(spark, sf_dir))
    row = scored.filter("ok").agg(
        F.count("*").alias("n"),
        F.min(F.abs(F.col("p_rel") - F.lit(SCORE_THRESHOLD))).alias("margin"),
    ).collect()[0]
    assert row.n > 0
    assert row.margin >= 1e-6
