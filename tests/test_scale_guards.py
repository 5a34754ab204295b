"""Skew/scale guards (VERDICT r1 #4, #9): ngram block frequency cap,
prefix-filtered similarity_edges, and distributed large-star/small-star
connected components above the driver threshold."""

from __future__ import annotations

import itertools
import os
import random

import pytest
from pyspark.sql import functions as F

from cross_sentence_relation_extraction_idepnn_spark.operators import dedup
from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
    JACCARD_TAU,
    _prefix_keys,
    _py_similarity_edges,
    canonicalize,
    connected_components,
    similarity_edges,
)


# --------------------------------------------------- ngram block cap


def _write_docs(spark, tmp_path, rows):
    path = str(tmp_path / "docs")
    os.makedirs(path, exist_ok=True)
    spark.createDataFrame(rows, "doc_id string, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(path, "documents.parquet"))
    return path


def test_ngram_block_cap_bounds_hot_block(spark, tmp_path):
    """One boilerplate shingle shared by 30%+ of docs (a single-shingle
    hot block of 90 > cap): the frequency cap must drop it — zero pairs
    among hot docs, bounded candidate generation — while small identical
    groups below the cap still pair, and the DuckDB oracle (same cap)
    agrees exactly."""
    import sys

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from compare_util import assert_frames_match

    rows = [(f"hot{i:03d}", "b1 b2 b3") for i in range(90)]  # one shingle, 90 docs
    rows += [(f"small{i}", "s1 s2 s3") for i in range(5)]  # one shingle, 5 docs
    rows += [
        (f"filler{i}", f"f{i}a f{i}b f{i}c f{i}d f{i}e") for i in range(30)
    ]  # unique shingles, no pairs
    sf = _write_docs(spark, tmp_path, rows)

    out = dedup.ngram_jaccard_pairs(spark, sf, max_block=50)
    pdf = out.toPandas()
    hot = {f"hot{i:03d}" for i in range(90)}
    n_hot_pairs = sum(1 for _, r in pdf.iterrows() if r.doc_a in hot and r.doc_b in hot)
    assert n_hot_pairs == 0, "over-cap block must be dropped, not exploded"
    small_pairs = pdf[pdf.doc_a.str.startswith("small")]
    assert len(small_pairs) == 10  # C(5,2), all jaccard 1.0
    assert (small_pairs.jaccard == 1.0).all()

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    sql = (
        f"WITH shingles AS ({dedup.duck_shingles_cte()}) "
        f"{dedup.duck_ngram_pairs(max_block=50)}"
    )
    assert_frames_match(out, con, sql)


def test_ngram_reblock_recovers_subgroups(spark, tmp_path):
    """Docs whose h1-block exceeds the cap re-block on their second-min
    shingle hash: 60 docs share a boilerplate shingle (block of 60 > cap
    50) but split 30/30 on their second shingle — the re-block must
    recover the within-subgroup pairs instead of dropping all 60."""
    rows = [(f"ga{i:02d}", "b1 b2 b3 xa1 xa2") for i in range(30)]
    rows += [(f"gb{i:02d}", "b1 b2 b3 yb1 yb2") for i in range(30)]
    sf = _write_docs(spark, tmp_path, rows)
    pdf = dedup.ngram_jaccard_pairs(spark, sf, max_block=50).toPandas()
    # Whatever the hash order: if a subgroup's min-shingle is its own
    # unique shingle its level-1 block is 30 ≤ cap; if it's the shared
    # boilerplate, the 60-block re-blocks on the subgroup-specific
    # second-min into 30s. Either way each identical-30 subgroup pairs
    # completely (C(30,2) = 435 at jaccard 1.0) and never cross-pairs
    # (cross jaccard = 1/5 < tau anyway).
    ga = pdf[pdf.doc_a.str.startswith("ga") & pdf.doc_b.str.startswith("ga")]
    gb = pdf[pdf.doc_a.str.startswith("gb") & pdf.doc_b.str.startswith("gb")]
    assert len(ga) == 435 and (ga.jaccard == 1.0).all()
    assert len(gb) == 435 and (gb.jaccard == 1.0).all()
    assert len(pdf) == 870


# ----------------------------------------------------- duplicated spans


def test_dup_spans_and_coverage_semantics(spark, tmp_path):
    """Planted 8-token span shared by two docs (one with an internal
    repeat): dup_spans must find exactly that hash with n_docs=2,
    n_occ=3, and span_coverage must union overlapping intervals —
    8/12 covered in A, 16/19 in B (two disjoint copies), 0 for the
    short doc and the unique doc. dup_spans' plan must contain NO
    join: duplicated-span detection is pure aggregation."""
    S = "s1 s2 s3 s4 s5 s6 s7 s8"
    rows = [
        ("A", "a1 a2 " + S + " a3 a4"),
        ("B", "b1 " + S + " b2 b3 " + S),
        ("C", "c1 c2 c3 c4 c5"),
        ("D", " ".join(f"d{i}" for i in range(12))),
    ]
    path = _write_docs(spark, tmp_path, rows)
    got = dedup.dup_spans(spark, path).collect()
    assert len(got) == 1
    assert (got[0].n_docs, got[0].n_occ, got[0].min_doc_id) == (2, 3, "A")
    assert "Join" not in dedup.dup_spans(spark, path)._jdf.queryExecution().executedPlan().toString()
    cov = {
        r.doc_id: (r.n_tokens, r.covered, r.frac_dup)
        for r in dedup.span_coverage(spark, path).collect()
    }
    assert cov["A"] == (12, 8, round(8 / 12, 6))
    assert cov["B"] == (19, 16, round(16 / 19, 6))
    assert cov["C"] == (5, 0, 0.0)
    assert cov["D"] == (12, 0, 0.0)


# ------------------------------------------- similarity_edges prefix filter


def _brute_edges(surfaces: list[str], tau: float) -> set[tuple[str, str, float]]:
    def bigrams(w: str) -> set[str]:
        w = w.lower()
        return {w[i : i + 2] for i in range(len(w) - 1)} if len(w) >= 2 else {w}

    out = set()
    for a, b in itertools.combinations(sorted(set(surfaces)), 2):
        ba, bb = bigrams(a), bigrams(b)
        j = round(len(ba & bb) / len(ba | bb), 6)
        if j >= tau:
            out.add((a, b, j))
    return out


def test_similarity_edges_prefix_filter_is_lossless(spark):
    """The ppjoin prefix filter must produce EXACTLY the brute-force
    O(V²) edge set on a vocabulary with planted near-dups, typos, and
    shared boilerplate tokens."""
    rng = random.Random(7)
    base = ["scan", "table", "filter", "query", "join", "spark", "shuffle"]
    surfaces = []
    for w in base:
        surfaces += [w, w + "s", w + "ing", "re" + w]
    surfaces += ["the " + w for w in base]  # hot 'th'/'he'/'e ' bigrams
    surfaces += ["".join(rng.choice("abcdefgh") for _ in range(6)) for _ in range(60)]
    df = spark.createDataFrame([(s,) for s in set(surfaces)], "surface string")
    # nlj_threshold=0 forces the ppjoin path (default would take the
    # small-vocabulary broadcast NLJ shortcut)
    got = {
        (r.src, r.dst, r.jaccard)
        for r in similarity_edges(df, tau=JACCARD_TAU, nlj_threshold=0).collect()
    }
    assert got == _brute_edges(surfaces, JACCARD_TAU)
    assert len(got) > 10  # the fixture genuinely has near-dups
    # and the NLJ shortcut emits the identical edge set
    nlj = {
        (r.src, r.dst, r.jaccard)
        for r in similarity_edges(df, tau=JACCARD_TAU).collect()
    }
    assert nlj == got


def test_py_edge_twin_matches_spark_paths(spark):
    """The driver-side edge twin (``canonicalize``'s single-job fast
    path) must emit EXACTLY the Spark NLJ and ppjoin edge sets —
    including rounding behavior at the Jaccard boundary — and the fast
    canonicalize must agree with union-find over the Spark edges."""
    rng = random.Random(11)
    base = ["alpha", "beta", "gamma", "delta", "epsilon"]
    surfaces = set()
    for w in base:
        surfaces |= {w, w + "s", w + "x", "re" + w, "the " + w}
    # pairs engineered near tau: short strings give coarse ratios like
    # 1/2, 2/4, 2/3 that sit exactly on / around the 0.5 boundary
    surfaces |= {"ab", "abc", "abcd", "bc", "cd", "abab", "baba"}
    surfaces |= {
        "".join(rng.choice("abcdef") for _ in range(rng.randint(2, 7)))
        for _ in range(80)
    }
    surfaces = sorted(surfaces)
    df = spark.createDataFrame([(s,) for s in surfaces], "surface string")
    py = set(_py_similarity_edges(surfaces, JACCARD_TAU))
    nlj = {
        (r.src, r.dst) for r in similarity_edges(df, tau=JACCARD_TAU).collect()
    }
    ppj = {
        (r.src, r.dst)
        for r in similarity_edges(df, tau=JACCARD_TAU, nlj_threshold=0).collect()
    }
    assert py == nlj == ppj
    assert len(py) > 10
    # canonicalize (py fast path: vocabulary ≤ PY_EDGE_MAX_NODES) vs
    # the general driver union-find over the Spark-computed edges
    edf = spark.createDataFrame(sorted(nlj), "src string, dst string")
    want = {
        (r.surface, r.component)
        for r in connected_components(df, edf, n_nodes=len(surfaces)).collect()
    }
    got = {(r.surface, r.component) for r in canonicalize(df).collect()}
    assert got == want


def test_prefix_keys_exclude_hot_bigram(spark):
    """Frequency-ordered prefixes: a boilerplate bigram present in EVERY
    surface must not appear as a join key for surfaces with enough rarer
    bigrams — the hot bucket stays tiny instead of O(V)."""
    n = 2000
    # every surface contains 'zz'; tails are diverse 8-char strings
    rng = random.Random(13)
    rows = [
        ("zz" + "".join(rng.choice("abcdefghijklmnop") for _ in range(8)),)
        for _ in range(n)
    ]
    nodes = spark.createDataFrame(rows, "surface string").distinct()
    keys = _prefix_keys(nodes, JACCARD_TAU)
    bucket = keys.groupBy("k").agg(F.count("*").alias("c"))
    hot = {r.k: r.c for r in bucket.orderBy(F.desc("c")).limit(5).collect()}
    assert hot, "no keys produced"
    # 'zz' is in all ~n surfaces; with df-ordering it must be (nearly)
    # absent from prefixes — max bucket ≪ n
    assert max(hot.values()) < n * 0.1, f"hot bucket leaked into prefixes: {hot}"


def _alnum_vocab(spark, n: int):
    """n distinct surfaces: boilerplate 'zz' head + md5-derived base-36
    alphanumeric tail (uniform usage of the ~1300-value bigram space)."""
    return spark.range(n).select(
        F.concat(
            F.lit("zz"),
            F.lpad(
                F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 10), 16, 36),
                8,
                "0",
            ),
        ).alias("surface")
    )


@pytest.mark.slow
def test_similarity_edges_100k_vocabulary_bounded(spark):
    """100k-surface vocabulary where every surface shares a boilerplate
    bigram ('zz'): the naive shared-bigram join hits ~5e9 pairs through
    that one bucket; the df-ordered prefix join keeps candidate volume
    orders of magnitude lower even on a worst-case uniform-random
    bigram distribution (real vocabularies are far more skew-friendly:
    rare bigrams dominate prefixes)."""
    n = 100_000
    keys = _prefix_keys(_alnum_vocab(spark, n), JACCARD_TAU)
    stats = (
        keys.groupBy("k")
        .agg(F.count("*").alias("c"))
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("volume"),
            F.max("c").alias("max_bucket"),
        )
        .first()
    )
    naive = n * (n - 1) / 2
    assert stats["max_bucket"] < n * 0.1, "a hot bucket leaked into prefixes"
    assert stats["volume"] < naive / 20, (
        f"candidate volume {stats['volume']:.2e} vs naive {naive:.2e}"
    )


def test_similarity_edges_runs_at_10k(spark):
    """End-to-end prefix-join edges over a 10k vocabulary (the naive
    O(V²) path at this size is 5e7 compares): must complete quickly and
    emit no false edges among md5-random surfaces."""
    edges = similarity_edges(_alnum_vocab(spark, 10_000))
    assert edges.filter(F.col("jaccard") < JACCARD_TAU).count() == 0
    assert edges.count() < 1000  # random tails: essentially no near-dups


# ------------------------------------------------ distributed CC path


def _uf_components(nodes: list[str], edges: list[tuple[str, str]]) -> dict[str, str]:
    parent = {s: s for s in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {s: find(s) for s in nodes}


def test_star_cc_equals_union_find_on_random_graphs(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 120
        names = [f"v{trial}{i:03d}" for i in range(n)]
        edges = [
            (rng.choice(names), rng.choice(names)) for _ in range(n // 2)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        ndf = spark.createDataFrame([(s,) for s in names], "surface string")
        edf = spark.createDataFrame(edges, "src string, dst string")
        got = {
            r.surface: r.component
            for r in connected_components(ndf, edf, driver_threshold=0).collect()
        }
        assert got == _uf_components(names, edges)


def test_star_cc_high_diameter_chain(spark):
    """A 2,000-node path graph (diameter 1,999): min-label propagation
    would need ~2,000 rounds; large-star/small-star must converge within
    the 20-round default."""
    n = 2000
    names = [f"c{i:05d}" for i in range(n)]
    ndf = spark.createDataFrame([(s,) for s in names], "surface string")
    edf = spark.createDataFrame(
        [(names[i], names[i + 1]) for i in range(n - 1)], "src string, dst string"
    )
    labels = connected_components(ndf, edf, driver_threshold=0)
    comps = labels.select("component").distinct().collect()
    assert [r.component for r in comps] == ["c00000"]


def test_cc_edge_collect_overflow_takes_distributed_path(spark):
    """The driver union-find collects at most ``driver_threshold`` edges:
    a node set under the cap with more edges than it falls through to
    large-star/small-star and still gives the union-find mapping."""
    rng = random.Random(7)
    names = [f"e{i:03d}" for i in range(30)]
    edges = sorted({tuple(rng.sample(names, 2)) for _ in range(60)})
    ndf = spark.createDataFrame([(s,) for s in names], "surface string")
    edf = spark.createDataFrame(edges, "src string, dst string")
    labels = connected_components(ndf, edf, driver_threshold=40)
    assert len(names) <= 40 < len(edges)
    # the driver path returns a local table; the distributed one joins
    assert "Join" in labels._jdf.queryExecution().analyzed().toString()
    got = {r.surface: r.component for r in labels.collect()}
    assert got == _uf_components(names, edges)


@pytest.mark.slow
def test_star_cc_150k_vocabulary_distributed_path(spark):
    """>100k nodes (above DRIVER_CC_MAX_NODES): exercises the REAL
    distributed branch on 150k nodes in 1,500 chains of 100."""
    n, chain = 150_000, 100
    nodes = spark.range(n).select(
        F.format_string("s%06d", F.col("id")).alias("surface")
    )
    edges = (
        spark.range(n)
        .filter((F.col("id") % chain) != chain - 1)
        .select(
            F.format_string("s%06d", F.col("id")).alias("src"),
            F.format_string("s%06d", F.col("id") + 1).alias("dst"),
        )
    )
    labels = connected_components(nodes, edges)  # default threshold: distributed
    n_comp = labels.select("component").distinct().count()
    assert n_comp == n // chain
    # every component labeled by its lexicographic min (chain head)
    heads = labels.filter(
        F.col("surface") == F.col("component")
    ).count()
    assert heads == n // chain


# --------------------------------------------- IVF Lloyd refinement


def test_lloyd_iterations_reduce_quantization_error(spark, sf_dir):
    """The distributed Lloyd step must strictly improve (or equal) the
    k-means objective vs the deterministic seed centroids, and be
    reproducible run-to-run (centroids rounded each iteration pin the
    float summation order)."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.similarity import (
        lloyd_centroids,
        quantization_error,
    )

    seed = lloyd_centroids(spark, sf_dir, iters=0)
    refined = lloyd_centroids(spark, sf_dir, iters=2)
    e_seed = quantization_error(spark, sf_dir, seed)
    e_ref = quantization_error(spark, sf_dir, refined)
    assert e_ref < e_seed * 0.999  # strictly better on this fixture
    again = lloyd_centroids(spark, sf_dir, iters=2)
    assert again == refined  # deterministic


# --------------------------------------- multi-probe LSH boundary recall


def test_multiprobe_recovers_bucket_straddling_neardups(spark, tmp_path):
    """A near-dup pair whose only differing LSH sign bit is a
    low-confidence dimension (|v[dim]| < eps) lands in adjacent buckets:
    single-probe LSH misses it, multi-probe must find it — and both
    variants must match their DuckDB oracles exactly."""
    import os
    import sys

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from compare_util import assert_frames_match

    from cross_sentence_relation_extraction_idepnn_spark.operators.similarity import (
        EMB_DIM,
        duck_embedding_neardup,
        embedding_neardup_pairs,
        proj_dims,
    )

    d0 = proj_dims()[0]
    base = [0.5 if i % 2 == 0 else -0.5 for i in range(EMB_DIM)]
    v = list(base)
    v[d0] = 0.001          # low-confidence positive sign
    w = list(base)
    w[d0] = -0.001         # twin: only this sign differs → adjacent bucket
    u1 = list(base)
    u1[d0] = 0.4           # same-bucket control pair (identical vectors)
    u2 = list(u1)
    far = [-b for b in base]  # exact opposite: cosine -1, complement bucket

    rows = [(0, v), (1, w), (2, u1), (3, u2), (4, far)]
    path = str(tmp_path / "emb")
    os.makedirs(path, exist_ok=True)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "embeddings.parquet")
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{path}/embeddings.parquet/*.parquet')"
    )

    single = embedding_neardup_pairs(spark, path)
    sp = {(r.vec_a, r.vec_b) for r in single.collect()}
    assert (2, 3) in sp           # same-bucket pair found
    assert (0, 1) not in sp       # straddling pair MISSED by single probe
    assert_frames_match(single, con, duck_embedding_neardup())

    multi = embedding_neardup_pairs(spark, path, multiprobe=True)
    mp = {(r.vec_a, r.vec_b) for r in multi.collect()}
    assert (0, 1) in mp           # recovered by the low-confidence flip
    assert (2, 3) in mp           # and nothing already-found is lost
    assert_frames_match(multi, con, duck_embedding_neardup(multiprobe=True))


def test_mixture_prefilter_widens_on_shortfall(spark, sf_dir):
    """ADVICE r2: the prefilter must VERIFY survivors per stratum and
    widen until every stratum retains >= min(quota, count). Starting
    from a deliberately hopeless multiplier (mult=1e-6 keeps ~0
    survivors), the widening loop must still converge to a lossless
    superset — the exact ranks over the filtered set equal the
    unfiltered exact ranks."""
    from pyspark.sql import functions as F

    from cross_sentence_relation_extraction_idepnn_spark.hashing import spark_h15
    from cross_sentence_relation_extraction_idepnn_spark.operators import curation

    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            (F.col("doc_id") % curation.STRATUM_MOD).cast("int").alias("stratum"),
            spark_h15(F.col("doc_id").cast("string")).alias("h"),
        )
    )
    counts = {
        r["stratum"]: r["cnt"]
        for r in base.groupBy("stratum").agg(F.count("*").alias("cnt")).collect()
    }
    filtered = curation._hash_threshold_prefilter(
        base, counts, curation.MIXTURE_QUOTAS, mult=1e-6
    )
    surv = {
        r["stratum"]: r["cnt"]
        for r in filtered.groupBy("stratum").agg(F.count("*").alias("cnt")).collect()
    }
    for s, c in counts.items():
        assert surv.get(s, 0) >= min(curation.MIXTURE_QUOTAS[s], c)
    # losslessness: filtered top-quota == unfiltered top-quota
    from pyspark.sql import Window

    w = Window.partitionBy("stratum").orderBy("h", "doc_id")

    def top(df):
        return sorted(
            map(
                tuple,
                df.withColumn("rk", F.row_number().over(w))
                .filter(
                    F.col("rk")
                    <= F.element_at(
                        F.create_map(
                            *[
                                F.lit(x)
                                for kv in curation.MIXTURE_QUOTAS.items()
                                for x in kv
                            ]
                        ),
                        F.col("stratum"),
                    )
                )
                .select("doc_id", "stratum", "rk")
                .collect(),
            )
        )

    assert top(filtered) == top(base)


def test_pii_count_matches_masked_spans(spark):
    """ADVICE r2: a span matched by two patterns (an SSN-like string
    that is also an email local part) must count ONCE — as masked —
    not once per pattern."""
    from pyspark.sql import functions as F

    from cross_sentence_relation_extraction_idepnn_spark.operators.curation import pii_exprs

    df = spark.createDataFrame(
        [
            (1, "reach me at 123-45-6789@mail.com please"),  # email ⊃ SSN-like
            (2, "ssn 123-45-6789 and mail a@b.co"),          # two distinct spans
            (3, "nothing sensitive here"),
        ],
        "doc_id int, text string",
    )
    clean, n_pii = pii_exprs(F.col("text"))
    got = {
        r["doc_id"]: (r["clean"], r["n"])
        for r in df.select(
            "doc_id", clean.alias("clean"), n_pii.cast("int").alias("n")
        ).collect()
    }
    assert got[1] == ("reach me at <EMAIL> please", 1)
    assert got[2] == ("ssn <SSN> and mail <EMAIL>", 2)
    assert got[3] == ("nothing sensitive here", 0)


def test_pack_sequences_invariants(spark, sf_dir):
    """Greedy packing semantics, independent of the oracle: every doc
    appears exactly once; within each (bin, pack) the token sum stays
    ≤ max_tokens unless the pack is a single oversize doc; pack_pos
    numbers consecutively; packs are contiguous doc_id runs per bin."""
    from collections import defaultdict

    from cross_sentence_relation_extraction_idepnn_spark.operators.curation import (
        PACK_MAX_TOKENS,
        pack_sequences,
    )

    rows = pack_sequences(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs
    packs = defaultdict(list)
    for r in rows:
        packs[(r["bin"], r["pack_id"])].append(r)
    assert len(packs) > 1
    for (_b, _p), members in packs.items():
        members.sort(key=lambda r: r["pack_pos"])
        assert [m["pack_pos"] for m in members] == list(range(len(members)))
        total = sum(m["n_tok"] for m in members)
        assert total <= PACK_MAX_TOKENS or len(members) == 1
        # greedy: docs in a pack are consecutive in bin order
        ids = [m["doc_id"] for m in members]
        assert ids == sorted(ids)


def test_line_dedup_removes_planted_boilerplate_only_when_hot(spark, sf_dir):
    """The planted boilerplate line (1 in 4 docs → far over the hot
    threshold) must vanish from every planted doc, and unplanted docs
    must keep their text unless they organically share a hot line."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.curation import (
        LINE_PLANT_EVERY,
        _BOILER,
        line_dedup,
    )

    out = {r["doc_id"]: r for r in line_dedup(spark, sf_dir, plant=True).collect()}
    assert all(_BOILER not in r["clean_text"] for r in out.values())
    planted = [r for d, r in out.items() if d % LINE_PLANT_EVERY == 0]
    assert planted and all(r["n_dropped"] >= 1 for r in planted)


# ------------------------------------------------- long-lived-session caches


def test_repeated_operator_calls_leave_no_cached_blocks(spark, sf_dir):
    """Unpersist discipline (long-lived sessions): N repeated calls of
    the self-releasing operators (kg_pagerank, muc6_triples_query with
    release=True) must (a) free their internal caches before returning
    — only the node-sized result checkpoints remain while the caller
    holds the data — and (b) leave the persistent-RDD map back at
    baseline after ``release_caches()``. Deterministic: the operators
    unpersist explicitly (checkpoint RDDs are NOT auto-cleaned on GC —
    measured), no collector polling involved."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.linking import kg_pagerank
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import materialize_kg
    from cross_sentence_relation_extraction_idepnn_spark.session import release_caches
    from cross_sentence_relation_extraction_idepnn_spark.sources.muc6 import (
        muc6_triples_query,
    )

    def n_persistent_rdds() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    release_caches()
    spark.catalog.clearCache()
    base_rdds = n_persistent_rdds()

    kg = materialize_kg(spark, sf_dir)
    assert kg.count() > 0
    release_caches()  # drop the pipeline's sentence/mention persists
    mid = n_persistent_rdds()

    results = []
    n_calls = 3
    for _ in range(n_calls):
        results.append(kg_pagerank(kg, iters=2).count())
        results.append(muc6_triples_query(spark, sf_dir).count())
    assert len(set(results[0::2])) == 1 and len(set(results[1::2])) == 1

    # while results are live: exactly ONE result checkpoint per call
    # remains (iteration intermediates and edge/node/bindings caches
    # were freed inside the operators)
    assert n_persistent_rdds() - mid <= 2 * n_calls, (
        f"internal caches leaked: {n_persistent_rdds()} vs baseline {mid}"
    )

    # caller done → release_caches drains the result checkpoints too
    release_caches()
    spark.catalog.clearCache()
    assert n_persistent_rdds() <= base_rdds, (
        f"persistent RDDs accumulated: {n_persistent_rdds()} > {base_rdds}"
    )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_canonicalize_incremental_stability_and_paths(spark):
    """Label-stable incremental entity resolution
    (``canonicalize_incremental``): (a) existing components NEVER
    change, even when a new surface bridges two existing clusters —
    the bridge adopts the min component while a full rebuild would
    merge the clusters and re-key the triple log; (b) adoption
    propagates through chains of new surfaces; (c) new-only clusters
    found under their min surface; (d) already-known surfaces pass
    through without an is_new row; (e) the in-core fast path and the
    distributed NLJ / ppjoin paths emit identical maps."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
        canonicalize_incremental,
    )

    existing = spark.createDataFrame(
        [
            ("alpha", "alpha"), ("alphas", "alpha"),   # cluster A
            ("abcd", "abcd"), ("cdef", "cdef"),        # bridgeable pair
            ("mnop", "mnop"),                          # chain target
        ],
        "surface string, component string",
    )
    news = spark.createDataFrame(
        [
            ("alphaz",),  # joins cluster A (J("alphas","alphaz")=4/6)
            ("bcde",),    # bridges abcd & cdef (J=2/4 to both) -> min
            ("nopq",),    # J("mnop","nopq")=2/4 -> mnop
            ("opqr",),    # reaches mnop ONLY through nopq (J to mnop=1/5)
            ("xyxy",), ("yxyx",),  # new-only twin cluster
            ("qq",),      # isolated singleton
            ("alpha",),   # already known: pass-through, no is_new row
        ],
        "surface string",
    )
    want = {
        ("alpha", "alpha", 0), ("alphas", "alpha", 0),
        ("abcd", "abcd", 0), ("cdef", "cdef", 0), ("mnop", "mnop", 0),
        ("alphaz", "alpha", 1), ("bcde", "abcd", 1),
        ("nopq", "mnop", 1), ("opqr", "mnop", 1),
        ("xyxy", "xyxy", 1), ("yxyx", "xyxy", 1), ("qq", "qq", 1),
    }
    incore = {
        tuple(r) for r in canonicalize_incremental(existing, news).collect()
    }
    assert incore == want
    nlj = {
        tuple(r)
        for r in canonicalize_incremental(
            existing, news, driver_threshold=0
        ).collect()
    }
    ppj = {
        tuple(r)
        for r in canonicalize_incremental(
            existing, news, driver_threshold=0, nlj_threshold=0
        ).collect()
    }
    assert incore == nlj == ppj
    # contrast: a full REBUILD over the union merges the bridged
    # clusters — cdef loses its label (the re-keying incremental
    # maintenance must avoid)
    rebuilt = dict(
        (r.surface, r.component)
        for r in canonicalize(
            existing.select("surface").union(news.select("surface"))
        ).collect()
    )
    assert rebuilt["cdef"] == "abcd"


def test_containment_pairs_directed_semantics_and_hot_cap(spark, tmp_path):
    """Directed near-containment: an excerpt quoted verbatim inside a
    much longer doc must surface as (excerpt → superset, 1.0) even
    though its Jaccard is far below every symmetric-family threshold;
    the reverse direction must NOT surface; docs that share only an
    over-cap boilerplate shingle must pair nothing; and the DuckDB
    oracle (same df cap + bottom-k probe) agrees frame-exactly."""
    import duckdb

    from compare_util import assert_frames_match

    a_words = " ".join(f"a{i}" for i in range(1, 13))  # 12 words, 10 shingles
    rows = [
        ("exA", a_words),
        # superset: A's words contiguous inside 40 words of padding
        (
            "supB",
            " ".join(f"x{i}" for i in range(20))
            + f" {a_words} "
            + " ".join(f"z{i}" for i in range(20)),
        ),
        # near-contained: 8 of 9 shingles shared with A (and with B)
        ("nearC", " ".join(f"a{i}" for i in range(1, 11)) + " c1"),
        # boilerplate: 70 single-shingle copies, df=70 > max_post=64
        *[(f"hot{i:03d}", "h1 h2 h3") for i in range(70)],
    ]
    sf = _write_docs(spark, tmp_path, rows)

    out = dedup.containment_pairs(spark, sf)
    pdf = out.toPandas()
    got = {(r.doc_a, r.doc_b): r.containment for _, r in pdf.iterrows()}

    # the excerpt is found inside the superset at full containment ...
    assert got[("exA", "supB")] == 1.0
    # ... but its Jaccard (10 / (10+48-10) ≈ 0.21) is below even the
    # loosest symmetric threshold — the directed operator is the only
    # family member that can see this pair
    assert ("supB", "exA") not in got, "superset is not contained in the excerpt"
    # near-containment: C has 9 shingles, 8 shared with A and with B
    assert got[("nearC", "exA")] == round(8 / 9, 6)
    assert got[("nearC", "supB")] == round(8 / 9, 6)
    # boilerplate guard: the hot shingle's df (70) exceeds the cap, so
    # the 70 identical docs generate ZERO candidates instead of 70²
    assert not any(k[0].startswith("hot") or k[1].startswith("hot") for k in got)

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    sql = (
        f"WITH shingles AS ({dedup.duck_shingles_cte()}) "
        f"{dedup.duck_containment_pairs()}"
    )
    assert_frames_match(out, con, sql)


def test_split_leakage_agrees_with_dataset_split_and_excludes_same_split(
    spark, tmp_path
):
    """The leakage audit's split columns must be the SAME pure hash
    function dataset_split applies (no drift possible — shared
    expression), same-split near-dup pairs must be excluded, and with
    enough identical-doc pairs the straddle set is non-empty (the
    audit actually fires). Oracle agrees frame-exactly."""
    import duckdb

    from compare_util import assert_frames_match
    from cross_sentence_relation_extraction_idepnn_spark.hashing import py_h15
    from cross_sentence_relation_extraction_idepnn_spark.operators import curation

    # 40 identical docs -> C(40,2) jaccard-1.0 pairs; ~18.5% of pairs
    # straddle splits under the 90/5/5 hash assignment
    rows = [(f"d{i:02d}", "w1 w2 w3 w4 w5") for i in range(40)]
    sf = _write_docs(spark, tmp_path, rows)

    def split_of(doc_id):
        h = py_h15(f"{doc_id}:split") % 100
        return "train" if h < 90 else ("val" if h < 95 else "test")

    out = curation.split_leakage(spark, sf).toPandas()
    assert len(out) > 0, "identical docs across splits must fire the audit"
    for _, r in out.iterrows():
        assert r.split_a == split_of(r.doc_a)
        assert r.split_b == split_of(r.doc_b)
        assert r.split_a != r.split_b
    # completeness: every straddling identical pair is reported
    n_expected = sum(
        1
        for i in range(40)
        for j in range(i + 1, 40)
        if split_of(f"d{i:02d}") != split_of(f"d{j:02d}")
    )
    assert len(out) == n_expected

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators import dedup

    sql = (
        f"WITH shingles AS ({dedup.duck_shingles_cte()}) "
        f"{curation.duck_split_leakage()}"
    )
    assert_frames_match(curation.split_leakage(spark, sf), con, sql)


def test_minhash_error_estimates_identical_docs_exactly(spark, tmp_path):
    """Sketch-QA semantics: identical documents share every permutation
    minimum, so est_jaccard = 1.0 = jaccard with abs_err exactly 0;
    and on any pair the estimate is a multiple of 1/NUM_PERMS inside
    [0, 1]. Oracle agrees frame-exactly."""
    import duckdb

    from compare_util import assert_frames_match

    rows = [(f"t{i}", "u1 u2 u3 u4 u5 u6") for i in range(3)]
    rows += [("x1", "v1 v2 v3 v4 v5 v6"), ("x2", "v1 v2 v3 v4 v9 v8")]
    sf = _write_docs(spark, tmp_path, rows)
    out = dedup.minhash_error(spark, sf).toPandas()
    assert len(out) >= 3  # the identical triple alone gives C(3,2)
    ident = out[(out.doc_a.str.startswith("t")) & (out.doc_b.str.startswith("t"))]
    assert len(ident) == 3
    assert (ident.est_jaccard == 1.0).all() and (ident.abs_err == 0.0).all()
    steps = (out.est_jaccard * dedup.NUM_PERMS).round(4) % 1
    assert (steps == 0).all(), "estimate must be a multiple of 1/NUM_PERMS"
    assert out.est_jaccard.between(0, 1).all()

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    sql = (
        f"WITH shingles AS ({dedup.duck_shingles_cte()}) "
        f"{dedup.duck_minhash_error()}"
    )
    assert_frames_match(dedup.minhash_error(spark, sf), con, sql)


def test_ivf_recall_bounds_and_panel_size(spark, sf_dir):
    """ivf_recall rows are one per query-panel member with k_exact ==
    TOP_K, hits ≤ k_exact, and recall the exact ratio — and at least
    one query must achieve recall 1.0 (a query inside a well-populated
    cell finds its whole exact top-k there)."""
    from cross_sentence_relation_extraction_idepnn_spark.operators import similarity

    out = similarity.ivf_recall(spark, sf_dir).toPandas()
    assert len(out) == similarity.N_QUERIES
    assert (out.k_exact == similarity.TOP_K).all()
    assert (out.hits <= out.k_exact).all()
    assert (out.recall == (out.hits / out.k_exact).round(6)).all()
    assert (out.recall == 1.0).any()


def test_snm_identical_hot_group_candidates_stay_linear(spark, tmp_path):
    """90 docs with IDENTICAL text — the hot case that explodes every
    hash blocker into C(90,2)=4005 candidates before its cap fires —
    must yield exactly Σ_{d=1..W}(90-d) SNM pairs (window-banded, all
    jaccard 1.0), the disjoint prefix-twin group must still pair, and
    the DuckDB oracle agrees bit-for-bit."""
    import sys

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from compare_util import assert_frames_match

    from cross_sentence_relation_extraction_idepnn_spark.session import release_caches

    rows = [(f"hot{i:03d}", "w1 w2 w3 w4 w5 w6 w7") for i in range(90)]
    # prefix twins: same normalized 24-char prefix key, one token edit
    rows += [
        ("twina", "zz aa bb cc dd ee ff gg hh ii jj kk"),
        ("twinb", "zz aa bb cc dd ee ff gg hh ii jj XX"),
    ]
    rows += [(f"lone{i}", f"q{i}a q{i}b q{i}c q{i}d q{i}e") for i in range(20)]
    sf = _write_docs(spark, tmp_path, rows)

    w = dedup.SNM_WINDOW
    out = dedup.snm_pairs(spark, sf, window=w, tau=0.5)
    pdf = out.toPandas()
    hot = pdf[pdf.doc_a.str.startswith("hot") & pdf.doc_b.str.startswith("hot")]
    assert len(hot) == sum(90 - d for d in range(1, w + 1))
    assert (hot.jaccard == 1.0).all()
    twins = pdf[pdf.doc_a.str.startswith("twin")]
    assert len(twins) == 1 and twins.iloc[0].jaccard < 1.0

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    assert_frames_match(out, con, dedup.duck_snm_pairs(window=w, tau=0.5))
    release_caches()


def test_blocking_quality_invariants_and_snm_exact_cost(spark, sf_dir):
    """The QA table's own algebra: the uncapped shingle join is the
    truth generator so ngram recall is EXACTLY 1e6; every blocker's
    verified hits are bounded by its candidates and by the truth; SNM's
    candidate count is exactly Σ_{d=1..W}(n−d) — the no-hot-bucket
    cost guarantee measured, not asserted in prose."""
    from cross_sentence_relation_extraction_idepnn_spark.hashing import spark_h15
    from cross_sentence_relation_extraction_idepnn_spark.session import (
        read_parquet_cached,
        release_caches,
    )

    rows = {r.method: r for r in dedup.blocking_quality(spark, sf_dir).collect()}
    assert set(rows) == {"ngram", "minhash", "snm"}
    n = (
        read_parquet_cached(spark, f"{sf_dir}/documents.parquet")
        .filter(spark_h15(F.col("doc_id").cast("string")) % dedup.BQ_MOD == 0)
        .count()
    )
    for r in rows.values():
        assert r.n_found <= r.n_cand and r.n_found <= r.n_truth
        assert 0 <= r.reduction_e6 <= 1_000_000
    assert rows["ngram"].recall_e6 == 1_000_000
    assert rows["ngram"].n_found == rows["ngram"].n_truth
    w = dedup.SNM_WINDOW
    assert rows["snm"].n_cand == sum(n - d for d in range(1, w + 1))
    # the measurement must be non-vacuous: truth exists on the fixture
    assert rows["ngram"].n_truth > 0
    release_caches()


# ------------------------------ simhash pair-expansion memory bound (r6)


def test_within_pairs_expansion_equality_and_memory_bound(spark):
    """VERDICT r5 next-#1: the within-signature pair expansion must be
    memory-bounded. (a) exact multiset equality vs closed forms on a
    10^4-member signature — n(n-1)/2 ordered pairs, doc_a < doc_b,
    Σ(b−a) = n(n²−1)/6 — a size where the round-5 single-expression
    form (``flatten(transform(...))``) would have buffered all 5×10⁷
    pair structs (GBs) in ONE row before its explode, while this form's
    peak per-row state is the member array itself; (b) the plan-shape
    pin that enforces the bound by construction: TWO Generate stages
    (left elements, then per-left suffixes) and no ``flatten`` — the
    O(n²) product never exists as a single array value at any member
    count, 10⁵ or 10⁶ included (emitting the pairs still costs O(n²)
    TIME wherever they are consumed; the cliff being removed is the
    single-row O(n²) MEMORY)."""
    n = 10_000
    df = spark.createDataFrame(
        [(list(range(n)),)], "members: array<long>"
    )
    pairs = dedup._expand_within_pairs(df, "members")
    assert pairs.count() == n * (n - 1) // 2
    agg = pairs.agg(
        F.min("doc_a"),
        F.max("doc_b"),
        F.sum(F.expr("doc_b - doc_a")),
        F.sum(F.expr("CAST(doc_a >= doc_b AS INT)")),
    ).collect()[0]
    assert agg[0] == 0 and agg[1] == n - 1
    # sum over ordered pairs of (b - a): exact identity n*(n^2-1)/6
    assert agg[2] == n * (n * n - 1) // 6
    assert agg[3] == 0  # doc_a < doc_b everywhere
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") == 2
    assert "flatten" not in plan
