"""Physical-plan regression tests: the plan shapes we designed for
must survive code changes (SURVEY.md §4, task rule: broadcast what's
broadcast-able, push down what's pushable, keep codegen wide)."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from cross_sentence_relation_extraction_idepnn_spark.operators import (
    dedup,
    similarity,
    textstats,
)
from cross_sentence_relation_extraction_idepnn_spark.operators.candidates import (
    candidate_pairs_fast,
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


import pytest


@pytest.fixture(autouse=True)
def _fresh_plan_memo():
    """Plan-shape tests assert on UN-EXECUTED plans. Plan-memoized
    operators hand every caller the same DataFrame object, and once an
    action ran on it, explain() shows the AQE-finalized plan (join
    strategies rewritten, Initial Plan appended) — operator counts
    would then depend on test execution order. Clearing the memo gives
    every test freshly-built plans."""
    from cross_sentence_relation_extraction_idepnn_spark import session

    session._PLAN_CACHE.clear()
    # bench.py hygiene: operator-internal persists from a previous
    # test would otherwise substitute InMemoryTableScan for whole
    # subtrees of this test's plan (hiding its joins/exchanges)
    session.release_caches()
    try:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.catalog.clearCache()
    except Exception:
        pass
    yield


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    # belt-and-braces: if an executed df still reaches a test, count
    # only the final-plan section (the Initial Plan would double every
    # operator count)
    return plan.split("== Initial Plan ==")[0]


def count_op(plan: str, op: str) -> int:
    """Count physical operators by their '(n) OpName' detail headers."""
    import re

    return len(re.findall(rf"^\(\d+\) {op}\b", plan, flags=re.MULTILINE))


def test_alias_dictionary_join_is_broadcast(spark, sf_dir):
    plan = plan_of(detect_mentions(spark, segment(transcripts(spark, sf_dir))))
    assert "BroadcastHashJoin" in plan  # tiny dim → no shuffle
    assert "BroadcastExchange" in plan


def test_kg_path_driver_tables_are_local_relations(spark, sf_dir):
    """The alias dictionary and the canonical entity map are built on
    the driver; as ``LocalRelation``s they scan without a PythonRDD
    stage. ``Scan ExistingRDD`` in these un-executed plans means a
    driver-built table went back to the Python-row path."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
        canonicalize,
    )
    from cross_sentence_relation_extraction_idepnn_spark.config import SCORE_THRESHOLD
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        materialize_kg,
    )

    # one at a time: the KG build persists the memoized mention table,
    # after which its plan shows only the cache scan
    mens = detect_mentions(spark, segment(transcripts(spark, sf_dir)))
    assert "Scan ExistingRDD" not in plan_of(mens)
    assert "Scan ExistingRDD" not in plan_of(canonicalize(mens))
    # an explicit argument skips the session memo: an un-memoized build
    kg = materialize_kg(spark, sf_dir, threshold=SCORE_THRESHOLD)
    assert "Scan ExistingRDD" not in plan_of(kg)


def test_create_dataframe_only_inside_local_frame():
    import ast
    import pathlib

    from cross_sentence_relation_extraction_idepnn_spark import session

    src = pathlib.Path(session.__file__)
    hits = [
        (p.name, i)
        for p in sorted(src.parent.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    fn = next(
        n
        for n in ast.parse(src.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    assert [(name, fn.lineno <= i <= fn.end_lineno) for name, i in hits] == [
        ("session.py", True)
    ]


def test_similarity_query_side_is_broadcast(spark, sf_dir):
    plan = plan_of(similarity.cosine_topk(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_column_pruning_reaches_parquet_scan(spark, sf_dir):
    """lang_id needs only (doc_id, text): the scan must not read the
    other document columns (Catalyst column pruning → ReadSchema)."""
    plan = plan_of(textstats.lang_id(spark, sf_dir))
    scan = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in scan and "text" in scan
    assert "n_chars" not in scan and "source" not in scan


def test_predicate_pushdown_reaches_parquet_scan(spark, sf_dir):
    """A doc_id filter must reach the parquet reader as PushedFilters."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 10
    ).select("doc_id", "text")
    plan = plan_of(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "LessThan(doc_id,10)" in pushed


def test_dedup_exact_is_single_exchange(spark, sf_dir):
    """Hash-groupBy dedup: one shuffle, partial aggregation before it
    (map-side combine)."""
    plan = plan_of(dedup.dedup_exact(spark, sf_dir))
    assert count_op(plan, "Exchange") == 1
    assert count_op(plan, "HashAggregate") == 2  # partial + final


def test_candidate_fast_path_single_agg_exchange(spark, sf_dir):
    """candidate_pairs_fast: the nearest-pair min_by agg adds exactly
    one non-broadcast exchange beyond the segmentation window's, and
    no Sort-based window operator appears."""
    mens = detect_mentions(spark, segment(transcripts(spark, sf_dir)))
    plan = plan_of(candidate_pairs_fast(mens))
    # exchanges: sentence window per self-join side (no reuse without
    # persist) + the min_by agg + the single-file fixture fan-out
    # repartition (r4: transcripts repartitions an under-parallel scan;
    # never triggers on a production multi-file corpus) = ≤ 4;
    # crucially only ObjectHashAggregate/SortAggregate — the two
    # ROW_NUMBER windows of the oracle variant are gone (exactly the
    # sentence-index windows remain)
    assert count_op(plan, "Exchange") <= 4, plan
    assert count_op(plan, "Window") <= 2, plan  # only W1 sent_idx windows


def test_whole_stage_codegen_covers_textstats(spark, sf_dir):
    """Text-analysis queries must stay in codegen (no Python in the
    row path)."""
    for fn in (textstats.lang_id, textstats.quality_score, textstats.token_counts):
        plan = plan_of(fn(spark, sf_dir))
        assert "codegen id" in plan  # whole-stage codegen spans exist
        assert "PythonUDF" not in plan and "MapInPandas" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_cell_assignment_is_narrow(spark, sf_dir):
    """VERDICT r2 weak-for-scale #1: cell assignment must be a single
    codegen'd projection — zero exchanges, zero windows, zero joins.
    The corpus × cells expansion through a window sort is gone."""
    cent_rows = [
        (int(r["cell_id"]), [float(x) for x in r["cv"]])
        for r in similarity._ivf_centroids(spark, sf_dir).collect()
    ]
    emb = similarity._emb(spark, sf_dir).select("vec_id", "embedding")
    plan = plan_of(similarity.assign_cells(emb, cent_rows))
    assert count_op(plan, "Exchange") == 0, plan
    assert "Window" not in plan and "Join" not in plan, plan
    # higher-order array exprs (transform/aggregate) stay JVM-side but
    # don't codegen; the load-bearing property is the narrow plan shape
    assert count_op(plan, "Project") == 1, plan


def test_lloyd_iteration_plan_has_no_explode_or_window(spark, sf_dir):
    """The per-dim means must aggregate array subscripts directly —
    no posexplode (corpus × dim through a shuffle) and no window."""
    emb = similarity._emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    cent_rows = [
        (i, [float(x) for x in r["v"]])
        for i, r in enumerate(emb.filter(F.col("vec_id") < 8).collect())
    ]
    assigned = similarity.assign_cells(emb, cent_rows, vec_col="v", metric="l2")
    means = assigned.groupBy("cell_id").agg(
        *[F.avg(F.col("v")[d]).alias(f"m{d}") for d in range(len(cent_rows[0][1]))]
    )
    plan = plan_of(means)
    assert "Generate" not in plan and "Window" not in plan, plan
    assert count_op(plan, "Exchange") == 1, plan  # the one cell_id agg exchange


def test_minhash_signature_build_is_map_only(spark, sf_dir):
    """Round-4 re-plan: MinHash signatures are per-row array folds
    over the shingle array (array_min per perm + one explode) — ZERO
    exchanges up to the output; the old shingle-explode × perms
    cross-join with a (doc, perm)-grain groupBy must not come back."""
    plan = plan_of(dedup.minhash_signatures(spark, sf_dir))
    assert count_op(plan, "Exchange") == 0
    assert count_op(plan, "HashAggregate") == 0


def test_minhash_pairs_has_no_aggregation(spark, sf_dir):
    """Verification runs as array_intersect over the candidates joined
    back to the shingle arrays — no shingle-level self-join, no
    per-pair groupBy. Only the band join + dedup + two doc-id joins
    shuffle."""
    plan = plan_of(dedup.minhash_pairs(spark, sf_dir))
    # one HashAggregate pair for the candidate distinct, nothing else
    assert count_op(plan, "HashAggregate") <= 2
    assert count_op(plan, "Exchange") <= 4


def test_chunk_documents_is_shuffle_free(spark, sf_dir):
    """Context-window chunking must be one narrow projection + explode:
    zero exchanges, exactly one Generate, no Python in the row path."""
    from cross_sentence_relation_extraction_idepnn_spark.operators import curation

    plan = plan_of(curation.chunk_documents(spark, sf_dir))
    assert count_op(plan, "Exchange") == 0, plan
    assert count_op(plan, "Generate") == 1, plan
    assert "Python" not in plan and "Pandas" not in plan


def test_quality_classifier_is_narrow_codegen(spark, sf_dir):
    """Model-based quality filtering is a pure scoring projection —
    zero exchanges, codegen, no Python (the model runs at scan speed)."""
    plan = plan_of(textstats.quality_classifier(spark, sf_dir))
    assert count_op(plan, "Exchange") == 0, plan
    assert "codegen id" in plan
    assert "Python" not in plan and "Pandas" not in plan


def test_hll_registers_is_single_exchange_no_python(spark, sf_dir):
    """The HLL register build is scan → narrow hash/rank projection →
    one partial/final aggregate pair: ONE exchange, no Python stage,
    constant-size output regardless of corpus size."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.sketch import (
        hll_registers,
    )

    plan = plan_of(hll_registers(spark, sf_dir))
    assert count_op(plan, "Exchange") == 1, plan
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_cms_sketch_is_single_exchange_no_python(spark, sf_dir):
    """The CMS grid: scan → explode → 4 unioned hash projections →
    one count aggregate. ONE exchange (the grid groupBy), no Python."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.sketch import (
        cms_sketch,
    )

    plan = plan_of(cms_sketch(spark, sf_dir))
    assert count_op(plan, "Exchange") == 1, plan
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_kg_edge_lift_marginal_joins_broadcast(spark):
    """Both marginal joins in kg_edge_lift must broadcast (the
    marginals are node-dimension-sized) — no sort-merge join sneaks in
    when the KG grows."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
        kg_edge_lift,
    )
    from cross_sentence_relation_extraction_idepnn_spark.session import release_caches

    kg = spark.createDataFrame(
        [("A", "r", "B", 2), ("A", "r", "C", 1), ("D", "r", "B", 1)],
        "subj string, pred string, obj string, support long",
    )
    plan = plan_of(kg_edge_lift(kg, release=False))
    assert count_op(plan, "BroadcastHashJoin") == 2, plan
    assert count_op(plan, "SortMergeJoin") == 0, plan
    release_caches()


def test_bucketed_kg_join_has_no_exchange(spark, tmp_path):
    """Bucketing as durable partitioning (the 100 TB co-location
    story): a subj-keyed join between two tables bucketed on subj with
    equal bucket counts must plan with ZERO Exchange operators, while
    the identical join over plain parquet shuffles both sides.
    Broadcast is disabled so the comparison is SMJ-vs-SMJ."""
    from cross_sentence_relation_extraction_idepnn_spark.plans.bucketing import (
        read_table,
        write_bucketed_table,
    )

    kg = spark.createDataFrame(
        [(f"e{i % 40}", "p", f"e{(i * 7) % 40}", i) for i in range(400)],
        "subj string, pred string, obj string, support bigint",
    )
    deg = kg.groupBy("subj").count()
    write_bucketed_table(kg, "kg_b", str(tmp_path / "kg_b"), ["subj"])
    write_bucketed_table(deg, "deg_b", str(tmp_path / "deg_b"), ["subj"])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = read_table(spark, "kg_b").join(read_table(spark, "deg_b"), "subj")
        plain = kg.join(deg, "subj")
        p_bucketed = plan_of(bucketed)
        p_plain = plan_of(plain)
        assert count_op(p_bucketed, "Exchange") == 0, p_bucketed
        assert count_op(p_plain, "Exchange") >= 2
        # same rows either way — layout, not semantics
        assert bucketed.count() == plain.count() == 400
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS kg_b")
        spark.sql("DROP TABLE IF EXISTS deg_b")


def test_dataset_split_is_narrow_codegen(spark, sf_dir):
    """Split assignment must be a pure projection over the scan: zero
    exchanges, no Python — the split is a function of the row key."""
    from cross_sentence_relation_extraction_idepnn_spark.operators import curation

    plan = plan_of(curation.dataset_split(spark, sf_dir))
    assert count_op(plan, "Exchange") == 0, plan
    assert "Python" not in plan and "Pandas" not in plan


def test_skew_profile_single_corpus_pass(spark, sf_dir):
    """The skew profile reads the corpus once: the conv-grain count and
    the count-of-counts each shuffle their (tiny) grain, the share
    denominator is a global window over the already-tiny profile (a
    separate totals aggregate would re-scan the corpus), and no Python
    touches the row path."""
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        skew_profile,
    )

    plan = plan_of(skew_profile(spark, sf_dir))
    assert count_op(plan, "Scan parquet") == 1, plan
    assert count_op(plan, "Window") == 1, plan
    assert "Python" not in plan and "Pandas" not in plan


def test_kg_resolve_is_single_agg_exchange_no_window(spark):
    """kg_resolve: the per-slot election is ONE groupBy whose argmax
    rides as min(struct(-support, obj)) with partial aggregation
    before the single exchange — no Window/Sort operator (the naive
    ROW_NUMBER formulation would shuffle the same data and then sort
    every partition)."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
        kg_resolve,
    )

    kg = spark.createDataFrame(
        [("a", "r", "x", 2), ("a", "r", "y", 1)],
        "subj string, pred string, obj string, support long",
    )
    plan = plan_of(kg_resolve(kg))
    assert count_op(plan, "Exchange") == 1, plan
    assert count_op(plan, "Window") == 0, plan
    assert (
        count_op(plan, "HashAggregate") + count_op(plan, "ObjectHashAggregate")
        + count_op(plan, "SortAggregate") == 2
    ), plan  # partial + final (struct-min pins the SortAggregate impl,
    # whose per-partition key sort is NOT a per-slot window sort)
    assert "partial_min" in plan, plan  # map-side combine before the exchange


def test_minhash_delta_probe_side_is_filtered(spark, sf_dir):
    """The incremental dedup plan must probe the band table with the
    NEW side only: the bucket join's left input carries the odd-doc_id
    filter, and the plan keeps minhash_pairs' no-aggregation property
    (verification is pure join + projection; the only aggregate is the
    candidate dropDuplicates)."""
    plan = plan_of(dedup.minhash_delta(spark, sf_dir))
    assert "(doc_id#" in plan or "doc_id" in plan
    assert count_op(plan, "Filter") >= 1, plan
    # the odd-endpoint restriction appears as a pushed/applied filter
    assert "% 2) = 1" in plan.replace("\n", " "), plan
    # same shuffle discipline as minhash_pairs: band join + candidate
    # distinct + the two verification joins; no extra aggregation
    n_aggs = count_op(plan, "HashAggregate") + count_op(plan, "ObjectHashAggregate")
    assert n_aggs <= 2, plan  # partial+final of the candidate distinct


# ----------------------------------------- session-6 operator plan pins


def test_phrase_search_broadcasts_phrases_single_agg_exchange(spark, sf_dir):
    """The corpus-side trigram pass must stay narrow (no exchange
    before the join), the phrase set must broadcast, and the only wide
    exchange is the (query, doc) count aggregate."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.search import (
        phrase_search,
    )

    plan = plan_of(phrase_search(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert count_op(plan, "Exchange") == 1, plan


def test_source_diversity_is_two_agg_exchanges(spark, sf_dir):
    """groupBy(scope, lang) then groupBy(scope): dimension-grain after
    the first exchange; no joins anywhere."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        source_diversity,
    )

    plan = plan_of(source_diversity(spark, sf_dir))
    assert count_op(plan, "Exchange") == 2, plan
    assert "Join" not in plan


def test_reservoir_and_weighted_sample_never_global_sort(spark, sf_dir):
    """Both samplers must contain NO global Sort-without-partitioning
    (the hot-stratum guard): every Sort in the plan is a window
    partition sort, and the pre-filter keeps the second window's input
    bounded."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.curation import (
        reservoir_sample,
        weighted_sample,
    )

    for fn in (reservoir_sample, weighted_sample):
        df = fn(spark, sf_dir)
        plan = plan_of(df)
        # rangepartitioning = global sort; both plans must avoid it
        assert "rangepartitioning" not in plan.lower(), plan
        assert count_op(plan, "Exchange") == 2, plan  # salt-grain + stratum-grain


def test_kmv_sketch_window_sorts_only_distinct_hashes(spark, sf_dir):
    """The bottom-k window must sit above the distinct aggregate —
    never above the raw corpus rows."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.sketch import (
        kmv_sketch,
    )

    plan = plan_of(kmv_sketch(spark, sf_dir))
    assert count_op(plan, "Window") == 1
    assert "HashAggregate" in plan  # the distinct below the window


def test_novelty_score_single_doc_grain_aggregate(spark, sf_dir):
    """One shingle-keyed join + one doc-grain aggregate; the reference
    side must aggregate to DISTINCT shingles before the join."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.curation import (
        novelty_score,
    )

    plan = plan_of(novelty_score(spark, sf_dir))
    assert count_op(plan, "SortMergeJoin") + count_op(
        plan, "BroadcastHashJoin"
    ) == 1, plan


def test_dq_audit_and_table_stats_fk_joins_are_dimension_joins(spark, sf_dir):
    """dq_audit's customer FK check must broadcast the dimension;
    neither audit may contain a cartesian product."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.audit import (
        dq_audit,
        table_stats,
    )

    plan = plan_of(dq_audit(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    plan2 = plan_of(table_stats(spark, sf_dir))
    assert "Join" not in plan2  # pure conditional aggregation


def test_winnow_fingerprints_is_narrow_no_join(spark, sf_dir):
    """Winnowing must stay a pure per-doc projection: zero joins, zero
    exchanges — map-side at scan speed at any corpus size (the
    downstream passage-match equi-joins the OUTPUT, never this plan)."""
    plan = plan_of(textstats.winnow_fingerprints(spark, sf_dir))
    assert "Join" not in plan, plan
    assert count_op(plan, "Exchange") == 0, plan


def test_tool_ngrams_and_turn_latency_one_conv_sort_one_grid_agg(spark, sf_dir):
    """Both sequence queries must cost exactly the tool_transition
    shape: ONE conversation-grain exchange (the window sort) + ONE
    map-side-combinable aggregation onto a dimension-sized grid — and
    no self-joins (the oracle's formulation, not the engine's)."""
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        tool_ngrams,
        turn_latency,
    )

    for fn in (tool_ngrams, turn_latency):
        plan = plan_of(fn(spark, sf_dir))
        assert "Join" not in plan, plan
        assert count_op(plan, "Scan parquet") == 1, plan
        assert count_op(plan, "Window") == 1, plan
        # conv-grain window sort + grid agg (+ the documented
        # _fanned_documents under-parallelism repartition)
        assert count_op(plan, "Exchange") <= 3, plan
        assert "Python" not in plan and "Pandas" not in plan


def test_kg_bridges_wedge_restricted_before_aggregation(spark):
    """The common-neighbour count must semi-restrict wedges to the edge
    set BEFORE aggregating (never pair-grain beyond wedge fan-out), and
    the whole plan must be equi-join-only — no cartesian product."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
        kg_bridges,
    )
    from cross_sentence_relation_extraction_idepnn_spark.session import (
        release_caches,
    )

    kg = spark.createDataFrame(
        [("a", "r", "b", 1), ("b", "r", "c", 1), ("a", "r", "c", 1)],
        "subj string, pred string, obj string, support long",
    )
    plan = plan_of(kg_bridges(kg, release=False))
    release_caches()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tool_pii_exposure_is_narrow_grid_agg(spark, sf_dir):
    """The tool×PII audit must be pii_scrub's shape: regexp chain in
    codegen (no Python), no joins, one grid aggregation."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.curation import (
        tool_pii_exposure,
    )

    plan = plan_of(tool_pii_exposure(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "Python" not in plan and "Pandas" not in plan
    assert count_op(plan, "Scan parquet") == 1, plan


def test_session9_wave_plan_shapes(spark, sf_dir):
    """conv_shape: one window sort + conv-grain aggregations, no
    Python; k_anonymity: a single map-side-combinable grid aggregation
    with no join and no window; dup_source_matrix /
    source_bigram_sim: equi-join-only (never a cartesian), no Python."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.curation import (
        k_anonymity,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.dedup import (
        dup_source_matrix,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        source_bigram_sim,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        conv_shape,
    )

    plan = plan_of(conv_shape(spark, sf_dir))
    assert count_op(plan, "Window") == 1, plan
    assert "Python" not in plan and "Pandas" not in plan

    plan = plan_of(k_anonymity(spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan, plan
    assert count_op(plan, "HashAggregate") <= 4, plan
    assert "Python" not in plan and "Pandas" not in plan

    for fn in (dup_source_matrix, source_bigram_sim):
        plan = plan_of(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "Python" not in plan and "Pandas" not in plan


def test_session9_wave2_plan_shapes(spark, sf_dir):
    """calibration_bins / response_drift: pure grid aggregations — no
    join, no window, no Python anywhere; event_markov: exactly one
    corpus-grain window (the user-timeline sort) plus the grid-sized
    normalization window, join-free; activity_gini: one corpus-grain
    aggregation then a single user-dimension window, join-free."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.temporal import (
        activity_gini,
        event_markov,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        calibration_bins,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        response_drift,
    )

    for fn in (calibration_bins, response_drift):
        plan = plan_of(fn(spark, sf_dir))
        assert "Join" not in plan and "Window" not in plan, plan
        assert "Python" not in plan and "Pandas" not in plan, plan

    plan = plan_of(event_markov(spark, sf_dir))
    assert count_op(plan, "Window") == 2, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan and "Pandas" not in plan, plan

    plan = plan_of(activity_gini(spark, sf_dir))
    assert count_op(plan, "Window") == 1, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan and "Pandas" not in plan, plan


def test_session10_wave_plan_shapes(spark, sf_dir):
    """echo_rate / burstiness: exactly one corpus-grain window (the
    conversation / user timeline sort) + grid aggregation, join-free,
    Python-free; conv_survival: at most two windows and both run over
    the depth GRID (the corpus stage is the conv-grain count), no
    join, no Python; kg_functionality: aggregation-only over the
    checkpointed KG — no join, no window, no Python."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
        kg_functionality,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.temporal import (
        burstiness,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        conv_survival,
        echo_rate,
    )

    for fn in (echo_rate, burstiness):
        plan = plan_of(fn(spark, sf_dir))
        assert count_op(plan, "Window") == 1, plan
        assert "Join" not in plan, plan
        assert "Python" not in plan and "Pandas" not in plan, plan

    plan = plan_of(conv_survival(spark, sf_dir))
    assert count_op(plan, "Window") <= 2, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan and "Pandas" not in plan, plan

    kg = spark.createDataFrame(
        [("A", "r", "B", 1)], "subj string, pred string, obj string, support long"
    )
    plan = plan_of(kg_functionality(kg))
    assert "Join" not in plan and "Window" not in plan, plan
    # NB: the local-RDD scan mentions applySchemaToPythonRDD — only
    # actual Python-execution operators are disallowed
    assert "EvalPython" not in plan and "Pandas" not in plan, plan


def test_session11_wave_plan_shapes(spark, sf_dir):
    """readability / dialog_acts / truncation_loss: pure narrow
    projection + grid aggregation — no join, no window, no Python
    (truncation_loss additionally scans the corpus exactly ONCE for
    all audited cutoffs: one parquet scan in the plan);
    kg_degree_hist over a literal KG: aggregation-only above the
    distinct, join- and window-free."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
        kg_degree_hist,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        dialog_acts,
        readability,
        truncation_loss,
    )

    for fn in (readability, dialog_acts, truncation_loss):
        plan = plan_of(fn(spark, sf_dir))
        assert "Join" not in plan and "Window" not in plan, plan
        assert "Python" not in plan and "Pandas" not in plan, plan

    plan = plan_of(truncation_loss(spark, sf_dir))
    assert count_op(plan, "Scan parquet") == 1, plan

    kg = spark.createDataFrame(
        [("A", "r", "B", 1)],
        "subj string, pred string, obj string, support long",
    )
    plan = plan_of(kg_degree_hist(kg))
    assert "Join" not in plan and "Window" not in plan, plan
    assert "EvalPython" not in plan and "Pandas" not in plan, plan


def test_session12_wave_plan_shapes(spark, sf_dir):
    """conv_cohesion: one conversation-grain window, then the mean
    aggregation reuses the SAME conv key (no second corpus-grain
    exchange) — join-free, Python-free; gram_coverage: corpus work is
    one explode + count, the rank window runs once over the bigram
    VOCAB, one parquet scan total; quality_dup_matrix: equi-joins only
    (never a cartesian), no Python."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.dedup import (
        quality_dup_matrix,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        gram_coverage,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        conv_cohesion,
    )

    plan = plan_of(conv_cohesion(spark, sf_dir))
    assert count_op(plan, "Window") == 1, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan and "Pandas" not in plan, plan

    plan = plan_of(gram_coverage(spark, sf_dir))
    assert count_op(plan, "Window") == 1, plan
    assert count_op(plan, "Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan and "Pandas" not in plan, plan

    plan = plan_of(quality_dup_matrix(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan


def test_session13_wave_plan_shapes(spark, sf_dir):
    """event_seasonality: narrow epoch projection + grid aggregation
    (the share window runs over the ≤168-row grid), join-free,
    Python-free; fingerprint_collisions / lsh_bucket_stats: reuse
    their audited narrow subtrees, aggregation-only above them
    (join-free); len_quantiles: exactly one source-grain window,
    join-free, Python-free."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.dedup import (
        lsh_bucket_stats,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.temporal import (
        event_seasonality,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        fingerprint_collisions,
        len_quantiles,
    )

    plan = plan_of(event_seasonality(spark, sf_dir))
    assert count_op(plan, "Window") == 1, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan and "Pandas" not in plan, plan

    plan = plan_of(len_quantiles(spark, sf_dir))
    assert count_op(plan, "Window") <= 2, plan  # rank + per-source count
    assert "Join" not in plan, plan
    assert "Python" not in plan and "Pandas" not in plan, plan

    for fn in (fingerprint_collisions, lsh_bucket_stats):
        plan = plan_of(fn(spark, sf_dir))
        assert "Join" not in plan and "Window" not in plan, plan
        assert "Python" not in plan and "Pandas" not in plan, plan


def test_session14_wave_plan_shapes(spark, sf_dir):
    """session_gap_whatif: one user-grain window, the |T| thresholds
    fold into ONE aggregation (one parquet scan), join-free,
    Python-free; lang_confusion / prefix_dup_census: narrow projection
    + grid aggregations — no join, no window, no Python."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.temporal import (
        session_gap_whatif,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        lang_confusion,
        prefix_dup_census,
    )

    plan = plan_of(session_gap_whatif(spark, sf_dir))
    assert count_op(plan, "Window") == 1, plan
    assert count_op(plan, "Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan and "Pandas" not in plan, plan

    for fn in (lang_confusion, prefix_dup_census):
        plan = plan_of(fn(spark, sf_dir))
        assert "Join" not in plan and "Window" not in plan, plan
        assert "Python" not in plan and "Pandas" not in plan, plan


def test_session15_wave_plan_shapes(spark, sf_dir):
    """error_bursts: one RANGE-frame window over error events only +
    shrinking aggregations, join-free, Python-free; normalized_dedup:
    one global aggregation over a narrow normalize projection — no
    join, no window; tool_funnel: two aggregations + 1-row unpivot,
    one parquet scan, no window; partition_balance: explode + two
    grid aggregations, join/window-free."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.dedup import (
        normalized_dedup,
        partition_balance,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.temporal import (
        error_bursts,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        tool_funnel,
    )

    plan = plan_of(error_bursts(spark, sf_dir))
    assert count_op(plan, "Window") == 1, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan and "Pandas" not in plan, plan

    for fn in (normalized_dedup, partition_balance):
        plan = plan_of(fn(spark, sf_dir))
        assert "Join" not in plan and "Window" not in plan, plan
        assert "Python" not in plan and "Pandas" not in plan, plan

    plan = plan_of(tool_funnel(spark, sf_dir))
    assert "Window" not in plan and "Join" not in plan, plan
    assert count_op(plan, "Scan parquet") == 1, plan
    assert "Python" not in plan and "Pandas" not in plan, plan


def test_session16_wave_plan_shapes(spark, sf_dir):
    """kg_reciprocity: ONE key-distinct self-join (no fanout possible),
    window-free, Python-free; segmenter_divergence: exactly one
    conv-grain join of two pre-aggregated branches and exactly one
    Arrow UDF (the sanctioned punkt splitter) — Catalyst must have
    pruned the segmenters' unused row_number windows; role_balance:
    join/window/Python-free single corpus pass; simhash_bit_bias:
    join/window/Python-free, global stage carries one 33-column row."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.dedup import (
        simhash_bit_bias,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
        kg_reciprocity,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import (
        segmenter_divergence,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        role_balance,
    )

    kg = spark.createDataFrame(
        [("A", "r", "B", 1), ("B", "r", "A", 1)],
        "subj string, pred string, obj string, support long",
    )
    plan = plan_of(kg_reciprocity(kg))
    assert count_op(plan, "SortMergeJoin") + count_op(
        plan, "BroadcastHashJoin"
    ) == 1, plan
    assert "Window" not in plan, plan
    assert "EvalPython" not in plan, plan

    plan = plan_of(segmenter_divergence(spark, sf_dir))
    assert count_op(plan, "SortMergeJoin") + count_op(
        plan, "BroadcastHashJoin"
    ) == 1, plan
    assert count_op(plan, "ArrowEvalPython") == 1, plan
    assert "Window" not in plan, plan

    for fn in (role_balance, simhash_bit_bias):
        plan = plan_of(fn(spark, sf_dir))
        assert "Join" not in plan and "Window" not in plan, plan
        assert "Python" not in plan and "Pandas" not in plan, plan


def test_session17_wave_plan_shapes(spark, sf_dir):
    """turn_reassembly: ONE key-distinct turn-grain join, no Python;
    predicate_cooccurrence / event_cooccurrence: one incidence
    self-join over a pre-deduped set; entity_lifespan: join-free
    union + shrinking aggregations; embedding_dim_profile: a single
    scan into ONE exchange (the 1-row global aggregate) — the corpus
    is never exploded by the dimensionality."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
        entity_lifespan,
        predicate_cooccurrence,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import (
        turn_reassembly,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.similarity import (
        embedding_dim_profile,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.temporal import (
        event_cooccurrence,
    )

    plan = plan_of(turn_reassembly(spark, sf_dir))
    assert count_op(plan, "SortMergeJoin") + count_op(
        plan, "BroadcastHashJoin"
    ) == 1, plan
    assert "EvalPython" not in plan and "Window" not in plan, plan

    kg = spark.createDataFrame(
        [("A", "r", "B", 1)],
        "subj string, pred string, obj string, support long",
    )
    plan = plan_of(predicate_cooccurrence(kg))
    assert count_op(plan, "SortMergeJoin") + count_op(
        plan, "BroadcastHashJoin"
    ) == 1, plan
    assert "Window" not in plan and "EvalPython" not in plan, plan

    plan = plan_of(event_cooccurrence(spark, sf_dir))
    assert count_op(plan, "SortMergeJoin") + count_op(
        plan, "BroadcastHashJoin"
    ) == 1, plan
    assert "Window" not in plan and "EvalPython" not in plan, plan

    kgt = spark.createDataFrame(
        [("A", "r", "B", 0, 1, 1)],
        "subj string, pred string, obj string, first_seen long,"
        " last_seen long, n_convs long",
    )
    plan = plan_of(entity_lifespan(kgt))
    assert "Join" not in plan and "Window" not in plan, plan
    assert count_op(plan, "Union") == 1, plan

    plan = plan_of(embedding_dim_profile(spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert count_op(plan, "Exchange") == 1, plan
    assert "posexplode" not in plan and "Explode" not in plan, plan


def test_session18_wave_plan_shapes(spark, sf_dir):
    """jaccard_histogram: exactly the minhash_pairs join budget (band
    self-join + two verification joins = 3, all equi); pii_cooccurrence:
    join/window-free single scan into ONE exchange; mention_density:
    two joins (broadcast alias dict + turn-universe equi-join),
    Python-free, windows pruned."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.curation import (
        pii_cooccurrence,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.dedup import (
        jaccard_histogram,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
        mention_density,
    )

    plan = plan_of(jaccard_histogram(spark, sf_dir))
    assert count_op(plan, "SortMergeJoin") + count_op(
        plan, "BroadcastHashJoin"
    ) == 3, plan
    assert "Window" not in plan and "EvalPython" not in plan, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan

    plan = plan_of(pii_cooccurrence(spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert count_op(plan, "Exchange") == 1, plan

    plan = plan_of(mention_density(spark, sf_dir))
    assert count_op(plan, "SortMergeJoin") + count_op(
        plan, "BroadcastHashJoin"
    ) == 2, plan
    assert "Window" not in plan and "EvalPython" not in plan, plan


def test_session19_wave_plan_shapes(spark, sf_dir):
    """turn_dedup: join/window/Python-free two-level count;
    zipf_profile: one explode + vocab-dimension rank window (exactly
    1 Window), join-free; mention_recurrence: chain fold then grid —
    the only joins are the mention subtree's own (alias broadcast),
    Python-free."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
        mention_recurrence,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        zipf_profile,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        turn_dedup,
    )

    plan = plan_of(turn_dedup(spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan, plan
    assert "EvalPython" not in plan, plan

    plan = plan_of(zipf_profile(spark, sf_dir))
    assert count_op(plan, "Window") == 1, plan
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan

    plan = plan_of(mention_recurrence(spark, sf_dir))
    assert count_op(plan, "SortMergeJoin") + count_op(
        plan, "BroadcastHashJoin"
    ) == 1, plan
    assert "EvalPython" not in plan, plan


def test_session20_wave_plan_shapes(spark, sf_dir):
    """alias_hit_rate: mention subtree folds to turn grain before the
    single universe join (2 joins total incl. the alias broadcast),
    Python-free; simhash_hamming_histogram: exactly the simhash_pairs
    join budget (the one block self-join), window/Python-free."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.dedup import (
        simhash_hamming_histogram,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
        alias_hit_rate,
    )

    plan = plan_of(alias_hit_rate(spark, sf_dir))
    assert count_op(plan, "SortMergeJoin") + count_op(
        plan, "BroadcastHashJoin"
    ) == 2, plan
    assert "Window" not in plan and "EvalPython" not in plan, plan

    plan = plan_of(simhash_hamming_histogram(spark, sf_dir))
    assert count_op(plan, "SortMergeJoin") + count_op(
        plan, "BroadcastHashJoin"
    ) == 1, plan
    assert "Window" not in plan and "EvalPython" not in plan, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_session21_wave_plan_shapes(spark, sf_dir):
    """mask_census: join/window-free single scan into ONE exchange;
    conv_context_budget: exactly one window (the reverse running sum),
    join-free, Python-free."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        mask_census,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        conv_context_budget,
    )

    plan = plan_of(mask_census(spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert count_op(plan, "Exchange") == 1, plan

    plan = plan_of(conv_context_budget(spark, sf_dir))
    assert count_op(plan, "Window") == 1, plan
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_session22_wave_plan_shapes(spark, sf_dir):
    """dedup_family_agreement (r5 shape): the SimHash pair set is never
    materialized — |SH| is signature-grain arithmetic and the
    intersection rides two MH-pair-grain enrichment joins, so the plan
    is bounded by the SMALLER family (the r4 checkpoint+full-outer form
    paid the full SH pair volume: 1.46-1.71 GB peak at sf1). Pins: no
    Union of pair sets, no pair-expansion Generate from the simhash
    member lists (the within-pair explode marker), joins = MinHash
    subtree + 2 enrichments + the signature-grain block join."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.dedup import (
        dedup_family_agreement,
        minhash_pairs,
    )

    plan = plan_of(dedup_family_agreement(spark, sf_dir))
    n_mh_joins = count_op(plan_of(minhash_pairs(spark, sf_dir)), "SortMergeJoin") + count_op(
        plan_of(minhash_pairs(spark, sf_dir)), "BroadcastHashJoin"
    )
    n_joins = count_op(plan, "SortMergeJoin") + count_op(
        plan, "BroadcastHashJoin"
    )
    # MH subtree + 2 simhash enrichments + 1 signature block join
    assert n_joins == n_mh_joins + 3, plan
    assert count_op(plan, "Union") == 0, plan
    assert "Window" not in plan and "EvalPython" not in plan, plan
    # the only nested-loop joins are the two 1-row scalar-aggregate
    # crossJoins assembling the 3-row grid (the documented scalar-
    # broadcast pattern) — never a data-grain cartesian
    assert count_op(plan, "BroadcastNestedLoopJoin") == 2, plan
    assert "CartesianProduct" not in plan, plan


def test_session23_wave_plan_shapes(spark, sf_dir):
    """tool_effect / tool_latency: ONE lead window each (the shared
    per-conversation sorted pass), join-free, Python-free."""
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        tool_effect,
        tool_latency,
    )

    for fn in (tool_effect, tool_latency):
        plan = plan_of(fn(spark, sf_dir))
        assert count_op(plan, "Window") == 1, plan
        assert "Join" not in plan, plan
        assert "EvalPython" not in plan, plan
