"""Entity linking, canonicalization, and triple dedup.

SURVEY.md §2.3 J7 (broadcast alias-dictionary link + similarity score),
§2.9 G6 (canonicalization via connected components over
mention-similarity edges), §2.4 A10 (dedup-shuffle materialization).

The reference's nearest analogues: lowercased string-match fallback in
the mention/sentence join (``generate_bb_training_data_2016.py:313-477``),
MUC6 ``PER_ALIAS`` expansion (``generate_muc6_data.py:51-53``), and the
MUC6 ``list(set(...))`` dedup (``generate_muc6_data.py:125``).

Connected components: below a vocabulary-size threshold, one collect to
a driver union-find; above it, the alternating LARGE-STAR / SMALL-STAR
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", 2014) over the edge DataFrame — O(log n) rounds rather than
O(diameter), so a 100 TB corpus's high-diameter mention chains don't
serialize into diameter-many shuffles. Each round ``localCheckpoint``s
to truncate lineage. The DuckDB oracle expresses the same fixpoint as a
recursive CTE (min reachable label), so CC is *oracle-checked
SQL-expressible* despite being iterative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from . import graph_incore

JACCARD_TAU = 0.5


def _track_result(df: DataFrame) -> DataFrame:
    """``track_checkpoint`` for distributed (eager localCheckpoint)
    results; in-core fast-path results analyze to a LocalRelation —
    nothing to unpersist, and the checkpoint handle can't wrap them."""
    from ..session import track_checkpoint

    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LocalRelation":
        return df
    return track_checkpoint(df)


def _bigrams(col):
    w = F.lower(col)
    return F.array_distinct(
        F.when(
            F.length(w) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.length(w) - 1),
                lambda i: w.substr(i, F.lit(2)),
            ),
        ).otherwise(F.array(w))
    )


def _py_bigrams(s: str) -> set[str]:
    """Driver-side twin of ``_bigrams`` (set semantics: only the
    distinct bigram SET feeds Jaccard, order is irrelevant)."""
    w = s.lower()
    return {w[i : i + 2] for i in range(len(w) - 1)} if len(w) >= 2 else {w}


def _py_similarity_edges(surfaces: list[str], tau: float) -> list[tuple[str, str]]:
    """Driver-side twin of the ``similarity_edges`` NLJ path for tiny
    vocabularies: same bigram sets, same HALF_UP round-to-6 of the
    double ratio (``Decimal(repr(x))`` reproduces Spark's
    ``BigDecimal.valueOf(double)`` shortest-decimal rounding), same
    ``>= tau`` filter. O(n²) driver compute — callers gate it at
    ``PY_EDGE_MAX_NODES``."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal("0.000001")
    ss = sorted(surfaces)
    bg = {s: _py_bigrams(s) for s in ss}
    out = []
    for i, a in enumerate(ss):
        for b in ss[i + 1 :]:
            inter = len(bg[a] & bg[b])
            if not inter:
                continue
            union = len(bg[a] | bg[b])
            jac = float(
                Decimal(repr(inter / union)).quantize(q, rounding=ROUND_HALF_UP)
            )
            if jac >= tau:
                out.append((a, b))
    return out


def _uf_components(
    surfaces: list[str], edge_pairs: list[tuple[str, str]]
) -> list[tuple[str, str]]:
    """Path-halving union-find with union-by-lexicographic-min (labels
    are deterministic and order-independent); returns sorted
    (surface, component) rows."""
    parent = {s: s for s in surfaces}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a0, b0 in edge_pairs:
        a, b = find(a0), find(b0)
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    return [(s, find(s)) for s in sorted(surfaces)]


def _prefix_keys(nodes: DataFrame, tau: float) -> DataFrame:
    """(surface, bg, k): each surface's full bigram set ``bg`` ordered
    by ascending global document frequency (ties by value), exploded on
    its first ``n - ceil(tau·n) + 1`` bigrams as join keys ``k``."""
    ex = nodes.select("surface", F.explode(_bigrams(F.col("surface"))).alias("b"))
    dfreq = ex.groupBy("b").agg(F.count("*").alias("df"))
    ordered = (
        ex.join(dfreq, "b")
        .groupBy("surface")
        .agg(F.array_sort(F.collect_list(F.struct("df", "b"))).alias("obs"))
        .select("surface", F.transform("obs", lambda s: s["b"]).alias("bg"))
    )
    plen = (F.size("bg") - F.ceil(F.size("bg") * F.lit(tau)) + 1).cast("int")
    return ordered.select(
        "surface", "bg", F.explode(F.slice("bg", F.lit(1), plen)).alias("k")
    )


NLJ_MAX_NODES = 4096


def similarity_edges(
    surfaces: DataFrame,
    tau: float = JACCARD_TAU,
    n_nodes: int | None = None,
    nlj_threshold: int = NLJ_MAX_NODES,
) -> DataFrame:
    """Distinct surfaces → undirected similarity edges (src < dst) with
    character-bigram Jaccard ≥ tau.

    Hybrid plan. A small vocabulary (≤ ``nlj_threshold``) uses the
    broadcast nested-loop compare — fewer stages beat candidate
    generation on a dimension table (measured at sf0.1). Above it,
    candidate generation is a *prefix-filtered* shared-bigram equi-join
    (the ppjoin prefix lemma): with every bigram set sorted by one
    global total order, any pair with Jaccard ≥ tau must share a bigram
    within each side's first ``n - ceil(tau·n) + 1`` bigrams — so
    joining on exploded prefix bigrams is LOSSLESS for tau > 0 and
    never O(V²). The global order is *ascending document frequency*
    (ties by value), the ppjoin trick that makes the guard skew-proof:
    a boilerplate bigram shared by the whole vocabulary sorts LAST and
    never enters a prefix, so prefixes hold only rare bigrams and join
    buckets stay small. Exact Jaccard is verified on the candidates.
    Both paths emit the identical edge set.
    """
    nodes = surfaces.select(F.col("surface")).distinct()
    if n_nodes is None:
        n_nodes = nodes.count()
    if n_nodes <= nlj_threshold:
        a = nodes.select(
            F.col("surface").alias("src"), _bigrams(F.col("surface")).alias("bg1")
        )
        b = nodes.select(
            F.col("surface").alias("dst"), _bigrams(F.col("surface")).alias("bg2")
        )
        pairs = a.join(F.broadcast(b), F.col("src") < F.col("dst"))
        inter = F.size(F.array_intersect("bg1", "bg2"))
        union = F.size(F.array_union("bg1", "bg2"))
        return (
            pairs.withColumn(
                "jaccard", F.round(inter.cast("double") / union.cast("double"), 6)
            )
            .filter(F.col("jaccard") >= tau)
            .select("src", "dst", "jaccard")
        )
    keys = _prefix_keys(nodes, tau)
    pairs = (
        keys.select(F.col("surface").alias("src"), F.col("bg").alias("bg1"), "k")
        .join(
            keys.select(F.col("surface").alias("dst"), F.col("bg").alias("bg2"), "k"),
            "k",
        )
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", "bg1", "bg2")
        .dropDuplicates(["src", "dst"])
    )
    inter = F.size(F.array_intersect("bg1", "bg2"))
    union = F.size(F.array_union("bg1", "bg2"))
    return (
        pairs.withColumn(
            "jaccard", F.round(inter.cast("double") / union.cast("double"), 6)
        )
        .filter(F.col("jaccard") >= tau)
        .select("src", "dst", "jaccard")
    )


DRIVER_CC_MAX_NODES = 100_000


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 20,
    driver_threshold: int = DRIVER_CC_MAX_NODES,
    n_nodes: int | None = None,
) -> DataFrame:
    """nodes(surface) + edges(src,dst) → (surface, component) where
    component = lexicographic min surface reachable.

    The node set here is the *distinct entity-surface vocabulary* — a
    dimension table orders of magnitude smaller than the corpus. Below
    ``driver_threshold`` nodes the fixpoint runs as driver-side
    union-find (one collect, zero iterative jobs — the same shortcut
    GraphFrames-style systems take for small graphs); above it, or when
    the edges outnumber ``driver_threshold``, the alternating
    large-star/small-star rounds scale out. Both produce the identical
    (surface, min-reachable-label) mapping.
    """
    if n_nodes is None or n_nodes <= driver_threshold:
        # ONE capped collect both sizes the node set and, when it fits
        # the driver union-find, delivers the surfaces — replacing the
        # count + collect pair (r6, guide §1.2: the node subtree of a
        # pair-bounded CC embeds the whole pair-generation prefix, so
        # every extra action over it re-evaluates that prefix).
        head = nodes.select("surface").limit(driver_threshold + 1).collect()
        if len(head) <= driver_threshold:
            # the edge collect is capped the same way: past the cap the
            # edges take the distributed path below
            pairs = edges.select("src", "dst").limit(driver_threshold + 1).collect()
            if len(pairs) <= driver_threshold:
                return local_frame(
                    nodes.sparkSession,
                    _uf_components([r[0] for r in head], [(r[0], r[1]) for r in pairs]),
                    schema="surface string, component string",
                )
    # ------- alternating large-star / small-star (Kiveris et al. 2014)
    # O(log n) rounds, each a pair of groupBy-min shuffles — no
    # O(diameter) label walks, so long mention chains converge fast.
    cur = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    prev_sig: tuple[int, int] | None = None
    for _ in range(max_iter):
        cur = _small_star(_large_star(cur)).localCheckpoint()
        sig_row = cur.agg(
            F.count("*").alias("n"),
            # mod keeps the ANSI-mode sum far from long overflow
            F.coalesce(
                F.sum(F.xxhash64("src", "dst") % F.lit(1_000_000_007)), F.lit(0)
            ).alias("chk"),
        ).first()
        sig = (sig_row["n"], sig_row["chk"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged: cur is a star forest (child → component-min root)
    return nodes.join(
        cur.select(F.col("src").alias("surface"), F.col("dst").alias("root")),
        "surface",
        "left",
    ).select(
        "surface", F.coalesce(F.col("root"), F.col("surface")).alias("component")
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: for every node u, connect each strictly-larger
    neighbor v to m(u) = min(Γ(u) ∪ {u})."""
    und = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    m = (
        und.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("src", "mn").alias("m"))
    )
    return (
        und.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient edges downward (src > dst); for every node u,
    connect u and all its smaller neighbors to m(u) = min of them."""
    d = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()
    m = d.groupBy("src").agg(F.min("dst").alias("m"))
    return (
        d.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(m.select(F.col("src"), F.col("m").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def duck_components_cte() -> str:
    """Recursive-CTE oracle over CTEs ``cc_nodes(surface)`` and
    ``cc_edges(src, dst)``: min reachable label per node."""
    return """
        WITH RECURSIVE reach(surface, lbl) AS (
            SELECT surface, surface FROM cc_nodes
            UNION
            SELECT e.dst, r.lbl
            FROM reach r
            JOIN (SELECT src, dst FROM cc_edges
                  UNION ALL
                  SELECT dst, src FROM cc_edges) e ON e.src = r.surface
        )
        SELECT surface, MIN(lbl) AS component FROM reach GROUP BY surface
    """


PY_EDGE_MAX_NODES = 512


def canonicalize(mentions: DataFrame) -> DataFrame:
    """mention surfaces → (surface, component) canonical-cluster map.

    Job-count discipline (the vocabulary is a DIMENSION table — tiny
    relative to the corpus, so per-job driver overhead dominates the
    actual compute): ONE capped collect (``limit(threshold+1)``) both
    sizes the vocabulary and, when it fits the driver union-find,
    delivers the surfaces — replacing the count + collect pair. Below
    ``PY_EDGE_MAX_NODES`` surfaces the bigram-Jaccard edges are
    computed driver-side too (exact twin of the NLJ path, pinned by
    ``test_py_edge_twin_matches_spark_paths``), so the whole
    canonical map costs a single Spark job. The in-core map comes back
    as a JVM ``LocalRelation`` (``session.local_frame``), so the
    broadcast that re-keys triples against it runs no Python worker
    task. Larger vocabularies keep the Spark NLJ / ppjoin edge
    builders and, above ``DRIVER_CC_MAX_NODES``, the distributed
    large/small-star CC — the 100 TB path is unchanged."""
    nodes = mentions.select("surface").distinct()
    head = nodes.limit(DRIVER_CC_MAX_NODES + 1).collect()
    if len(head) > DRIVER_CC_MAX_NODES:
        n = nodes.count()
        edges = similarity_edges(nodes, n_nodes=n)
        return connected_components(nodes, edges, n_nodes=n)
    surfaces = [r[0] for r in head]
    n = len(surfaces)
    if n <= PY_EDGE_MAX_NODES:
        pairs = _py_similarity_edges(surfaces, JACCARD_TAU)
    else:
        edges = similarity_edges(nodes, n_nodes=n)
        pairs = [(r[0], r[1]) for r in edges.select("src", "dst").collect()]
    return local_frame(
        mentions.sparkSession,
        _uf_components(surfaces, pairs),
        "surface string, component string",
    )


def _py_incremental(
    ex_map: dict[str, str], news: list[str], tau: float
) -> list[tuple[str, str, int]]:
    """Driver-side twin of :func:`canonicalize_incremental` for tiny
    vocabularies (same HALF_UP round-to-6 Jaccard as
    ``_py_similarity_edges``): one Spark job for the whole merge."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal("0.000001")
    bg = {s: _py_bigrams(s) for s in set(ex_map) | set(news)}

    def _match(a: str, b: str) -> bool:
        inter = len(bg[a] & bg[b])
        if not inter:
            return False
        union = len(bg[a] | bg[b])
        jac = float(Decimal(repr(inter / union)).quantize(q, rounding=ROUND_HALF_UP))
        return jac >= tau

    ns = sorted(set(news))
    enc_nodes = ["1:" + x for x in ns]
    enc_edges: list[tuple[str, str]] = []
    for i, x in enumerate(ns):
        for y in ns[i + 1 :]:
            if _match(x, y):
                enc_edges.append(("1:" + x, "1:" + y))
        for y, comp in ex_map.items():
            if _match(x, y):
                enc_edges.append(("1:" + x, "0:" + comp))
    comps = sorted({c for _, c in enc_edges if c.startswith("0:")})
    resolved = dict(_uf_components(enc_nodes + comps, enc_edges))
    out = [(s, c, 0) for s, c in sorted(ex_map.items())]
    out += [(x, resolved["1:" + x][2:], 1) for x in ns]
    return out


def _incremental_edges(
    all_nodes: DataFrame,
    news: DataFrame,
    tau: float = JACCARD_TAU,
    n_all: int | None = None,
    nlj_threshold: int = NLJ_MAX_NODES,
) -> DataFrame:
    """Similarity edges over ``all_nodes`` with AT LEAST ONE endpoint in
    ``news`` — candidate generation never pairs two existing surfaces.
    At 10^12-turn scale the accumulated vocabulary dominates the union
    and existing↔existing pairs are exactly the O(V²) work incremental
    maintenance exists to skip; this builder's candidate set is
    O(|news| · bucket) instead. Same hybrid as
    :func:`similarity_edges`: broadcast NLJ below ``nlj_threshold``
    total nodes, lossless ppjoin prefix equi-join above it (the global
    document-frequency order is computed over the UNION so the prefix
    lemma holds for mixed pairs). Edges come back normalized
    (src < dst), exact-Jaccard verified."""
    if n_all is None:
        n_all = all_nodes.count()
    if n_all <= nlj_threshold:
        a = news.select(
            F.col("surface").alias("s"), _bigrams(F.col("surface")).alias("bg1")
        )
        b = all_nodes.select(
            F.col("surface").alias("t"), _bigrams(F.col("surface")).alias("bg2")
        )
        pairs = a.join(F.broadcast(b), F.col("s") != F.col("t"))
    else:
        keys = _prefix_keys(all_nodes, tau)
        kn = keys.join(news, "surface").select(
            F.col("surface").alias("s"), F.col("bg").alias("bg1"), "k"
        )
        pairs = (
            kn.join(
                keys.select(
                    F.col("surface").alias("t"), F.col("bg").alias("bg2"), "k"
                ),
                "k",
            )
            .filter(F.col("s") != F.col("t"))
            .select("s", "t", "bg1", "bg2")
            .dropDuplicates(["s", "t"])
        )
    inter = F.size(F.array_intersect("bg1", "bg2"))
    union = F.size(F.array_union("bg1", "bg2"))
    return (
        pairs.withColumn(
            "jaccard", F.round(inter.cast("double") / union.cast("double"), 6)
        )
        .filter(F.col("jaccard") >= tau)
        .select(
            F.least("s", "t").alias("src"), F.greatest("s", "t").alias("dst")
        )
        .dropDuplicates(["src", "dst"])
    )


def canonicalize_incremental(
    existing: DataFrame,
    new_surfaces: DataFrame,
    tau: float = JACCARD_TAU,
    driver_threshold: int = PY_EDGE_MAX_NODES,
    nlj_threshold: int = NLJ_MAX_NODES,
) -> DataFrame:
    """existing(surface, component) canonical map + a batch of new
    mention surfaces → (surface, component, is_new) extended map with
    LABEL STABILITY: every existing surface keeps its component
    verbatim, each genuinely-new surface adopts the MINIMUM existing
    component reachable within bigram-Jaccard ``tau`` (reachability
    through other new surfaces included), and new-only clusters are
    founded under their min surface.

    Stability is the semantic difference vs a full rebuild — and the
    contract a materialized triple log requires: when a new surface
    BRIDGES two existing clusters, a rebuild would merge them and
    re-key every triple under the losing label (at 10^12 triples, a
    rewrite of the whole table); the incremental policy keeps both
    clusters and assigns the bridge to the min. This closes the
    streaming KG's fixed-canonical-map limitation
    (``streaming/triples.py:run_stream_kg``): each micro-batch can now
    extend the map instead of freezing it.

    Mechanics: existing clusters are CONTRACTED to their label before
    clustering — endpoints encode as ``'0:'+component`` (existing,
    fixed) vs ``'1:'+surface`` (new), so the min-label union-find
    resolves priority for free ('0:' sorts before '1:'). In-core
    single-job fast path below ``driver_threshold`` total surfaces
    (same discipline as :func:`canonicalize`); above it, the
    new-endpoint-only edge builder plus the driver/star
    :func:`connected_components` — existing↔existing pairs are never
    generated at any scale."""
    spark = existing.sparkSession
    ex = existing.select("surface", "component")
    news = (
        new_surfaces.select("surface")
        .distinct()
        .join(ex.select("surface"), "surface", "left_anti")
    )
    head = ex.limit(driver_threshold + 1).collect()
    if len(head) <= driver_threshold:
        nhead = news.limit(driver_threshold + 1 - len(head)).collect()
        if len(head) + len(nhead) <= driver_threshold:
            return local_frame(
                spark,
                _py_incremental(
                    {r[0]: r[1] for r in head}, [r[0] for r in nhead], tau
                ),
                schema="surface string, component string, is_new int",
            )
    # ------------------------------------------------- distributed path
    all_nodes = ex.select("surface").unionByName(news)
    edges = _incremental_edges(all_nodes, news, tau, nlj_threshold=nlj_threshold)
    exs = ex.select(F.col("surface").alias("_s"), F.col("component").alias("_c"))

    def _enc(side: str) -> F.Column:
        return F.when(
            F.col(f"{side}_c").isNotNull(),
            F.concat(F.lit("0:"), F.col(f"{side}_c")),
        ).otherwise(F.concat(F.lit("1:"), F.col(side)))

    e = (
        edges.join(
            exs.select(F.col("_s").alias("src"), F.col("_c").alias("src_c")),
            "src",
            "left",
        )
        .join(
            exs.select(F.col("_s").alias("dst"), F.col("_c").alias("dst_c")),
            "dst",
            "left",
        )
        .select(_enc("src").alias("src"), _enc("dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    news_enc = news.select(F.concat(F.lit("1:"), F.col("surface")).alias("surface"))
    nodes_enc = (
        news_enc.unionByName(e.select(F.col("src").alias("surface")))
        .unionByName(e.select(F.col("dst").alias("surface")))
        .distinct()
    )
    comp = connected_components(nodes_enc, e)
    resolved = comp.filter(F.col("surface").startswith("1:")).select(
        F.expr("substr(surface, 3)").alias("surface"),
        F.expr("substr(component, 3)").alias("component"),
    )
    return ex.select("surface", "component", F.lit(0).alias("is_new")).unionByName(
        resolved.select("surface", "component", F.lit(1).alias("is_new"))
    )


def duck_canonicalize_incremental_ctes(odd_pred: str, tau: float = JACCARD_TAU) -> str:
    """Oracle CTE chain for :func:`canonicalize_incremental` (compose
    after ``mentions_all`` and the even-half ``canonicalize`` chain —
    i.e. after :func:`duck_canonicalize_ctes` run against a ``mentions``
    CTE holding the even half). ``odd_pred`` selects the delta half of
    ``mentions_all``. Ends in ``inc_map(surface, component, is_new)``:
    min-label propagation restricted to new-new edges plus contracted
    ``'0:'+component`` seeds from new-existing edges — the independent
    recursive-CTE formulation of the encoded union-find."""
    return f"""
        , news AS (
            SELECT DISTINCT surface FROM mentions_all
            WHERE ({odd_pred})
              AND surface NOT IN (SELECT surface FROM cc_nodes)
        ),
        bgn AS (
            SELECT surface,
                   list_distinct(
                       CASE WHEN length(surface) >= 2
                            THEN list_transform(range(1, length(surface)),
                                                i -> substr(surface, CAST(i AS INT), 2))
                            ELSE [surface] END) AS bgs
            FROM news
        ),
        nn_edges AS (
            SELECT a.surface AS src, b.surface AS dst
            FROM bgn a JOIN bgn b ON a.surface < b.surface
            WHERE ROUND(len(list_intersect(a.bgs, b.bgs)) * 1.0
                        / len(list_distinct(list_concat(a.bgs, b.bgs))), 6)
                  >= {tau}
        ),
        ne_lbls AS (
            SELECT a.surface AS y, '0:' || c.component AS lbl
            FROM bgn a
            JOIN bg b
              ON ROUND(len(list_intersect(a.bgs, b.bgs)) * 1.0
                       / len(list_distinct(list_concat(a.bgs, b.bgs))), 6)
                 >= {tau}
            JOIN canon c ON c.surface = b.surface
        ),
        reach_new(src, dst) AS (
            SELECT surface, surface FROM news
            UNION
            SELECT r.src, e.dst
            FROM reach_new r
            JOIN (SELECT src, dst FROM nn_edges
                  UNION ALL
                  SELECT dst, src FROM nn_edges) e ON e.src = r.dst
        ),
        inc_cand AS (
            SELECT src AS surface, '1:' || dst AS lbl FROM reach_new
            UNION ALL
            SELECT r.src AS surface, nl.lbl
            FROM reach_new r JOIN ne_lbls nl ON nl.y = r.dst
        ),
        inc_map AS (
            SELECT surface, component, 0 AS is_new FROM canon
            UNION ALL
            SELECT surface, substr(MIN(lbl), 3) AS component, 1 AS is_new
            FROM inc_cand GROUP BY surface
        )
    """


def dedup_triples(triples: DataFrame) -> DataFrame:
    """A10: distinct-triple materialization at (subj, pred, obj) grain
    with support count and max score — the dedup shuffle. Partial
    aggregation (map-side combine) keeps the exchange small at scale."""
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(
            F.count("*").alias("support"),
            F.round(F.max("score"), 6).alias("max_score"),
            F.min("k").alias("min_k"),
        )
    )


def duck_canonicalize_ctes() -> str:
    """G6 oracle CTE chain (requires ``WITH RECURSIVE`` and a
    ``mentions`` CTE in scope): bigram-Jaccard edges over distinct
    mention surfaces, min-reachable-label connected components, ending
    in ``canon(surface, component)``. Shared by the standalone
    ``canonicalize`` oracle and the ``kg`` oracle's re-keying join."""
    return f"""
        , cc_nodes AS (SELECT DISTINCT surface FROM mentions),
        bg AS (
            SELECT surface,
                   list_distinct(
                       CASE WHEN length(surface) >= 2
                            THEN list_transform(range(1, length(surface)),
                                                i -> substr(surface, CAST(i AS INT), 2))
                            ELSE [surface] END) AS bgs
            FROM cc_nodes
        ),
        cc_edges AS (
            SELECT a.surface AS src, b.surface AS dst
            FROM bg a JOIN bg b ON a.surface < b.surface
            WHERE ROUND(len(list_intersect(a.bgs, b.bgs)) * 1.0
                        / len(list_distinct(list_concat(a.bgs, b.bgs))), 6)
                  >= {JACCARD_TAU}
        ),
        reach(surface, lbl) AS (
            SELECT surface, surface FROM cc_nodes
            UNION
            SELECT e.dst, r.lbl
            FROM reach r
            JOIN (SELECT src, dst FROM cc_edges
                  UNION ALL
                  SELECT dst, src FROM cc_edges) e ON e.src = r.surface
        ),
        canon AS (SELECT surface, MIN(lbl) AS component FROM reach GROUP BY surface)
    """


def rekey_canonical(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Re-key subj/obj through the canonical component map (G6 output
    ``(surface, component)``) — the map is vocabulary-sized, so both
    joins broadcast. Shared by the one-shot ``materialize_kg`` and the
    incremental merge path."""
    c = canon.withColumnRenamed("component", "canon")
    return (
        triples.join(
            F.broadcast(c.withColumnRenamed("surface", "subj_surface")),
            "subj_surface",
            "left",
        )
        .withColumn("subj", F.upper(F.coalesce(F.col("canon"), F.col("subj"))))
        .drop("canon")
        .join(
            F.broadcast(c.withColumnRenamed("surface", "obj_surface")),
            "obj_surface",
            "left",
        )
        .withColumn("obj", F.upper(F.coalesce(F.col("canon"), F.col("obj"))))
        .drop("canon")
    )


def merge_kg_tables(*kgs: DataFrame) -> DataFrame:
    """Incremental KG maintenance: merge per-batch KG tables at
    (subj, pred, obj) grain. Every aggregate is decomposable —
    ``support`` sums, ``max_score`` maxes, ``min_k`` mins — so merging
    nightly delta tables is provably equal to a full rebuild as long
    as the deltas partition the corpus (conv-grain extraction) and the
    canonical map is built globally. One exchange on the triple key;
    at 10^12 turns this replaces re-reading the historical corpus with
    an aggregate over the (tiny) existing KG + the day's delta."""
    import functools

    merged = functools.reduce(lambda a, b: a.unionByName(b), kgs)
    return merged.groupBy("subj", "pred", "obj").agg(
        F.sum("support").alias("support"),
        F.round(F.max("max_score"), 6).alias("max_score"),
        F.min("min_k").alias("min_k"),
    )


PAGERANK_SCALE = 1_000_000  # fixed-point micro-units
PAGERANK_ITERS = 10


def kg_pagerank(
    kg: DataFrame,
    iters: int = PAGERANK_ITERS,
    release: bool = True,
    incore_max_edges: int | None = None,
) -> DataFrame:
    """(node, pr) — deterministic fixed-point PageRank over the KG's
    distinct (subj → obj) edges: the canonical ITERATIVE join-agg
    shape (per iteration: one broadcast-able join on src, one
    aggregation on dst — at billion-node scale each iteration is one
    shuffle keyed on dst, and lineage is truncated per iteration in
    iterative deployments like the star-CC loop above).

    All arithmetic is INTEGER (damping 0.85 as 17/20, values in
    1e-6 micro-units, floor division), so there is no float summation
    order to drift between engines — the DuckDB oracle unrolls the
    same recurrence and matches bit-for-bit. Dangling-node mass is
    dropped (documented deviation from the stochastic-matrix PR;
    rankings are unaffected for connected KGs).

    ``release=True`` (default): iterations checkpoint EAGERLY with the
    previous iteration's checkpoint freed as soon as the next one
    materializes (in-flight storage bounded at 2 node-sized RDDs no
    matter how many iterations), the operator's edge/node caches are
    unpersisted before returning, and the final result's backing
    checkpoint is registered so ``release_caches()`` frees it when the
    caller is done — N calls in a long-lived session accumulate
    nothing. ``release=False`` keeps the fully lazy plan; the caches
    then stay on the global registry for ``release_caches()``."""
    from pyspark.storagelevel import StorageLevel

    from ..session import (
        cache_scope,
        track_cache,
        track_checkpoint,
        unpersist_checkpoint,
    )

    def loop() -> DataFrame:
        # the edge/node/degree tables feed every iteration — persist
        # once, and truncate pr's lineage per iteration
        # (localCheckpoint, the same discipline as the star-CC loop)
        # or the kg subtree re-expands ~3× per iteration
        edges = track_cache(
            kg.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # hybrid fast path (the connected_components pattern): the KG's
        # edge set is dimension-sized — below the threshold, N Spark
        # jobs of fixed launch overhead lose to ONE collect + the
        # identical integer recurrence in-core (graph_incore.pagerank;
        # bit-equal by construction, pinned in test_graph_incore.py)
        thr = (
            graph_incore.INCORE_MAX_EDGES
            if incore_max_edges is None
            else incore_max_edges
        )
        if edges.count() <= thr:
            rows = graph_incore.pagerank(
                [(r.src, r.dst) for r in edges.collect()],
                iters,
                PAGERANK_SCALE,
            )
            return local_frame(kg.sparkSession, rows, "node string, pr bigint")
        nodes = track_cache(
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n = nodes.count()
        base = (PAGERANK_SCALE * 15) // (100 * n)
        outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        pr = nodes.withColumn("pr", F.lit(PAGERANK_SCALE // n).cast("long"))
        prev = None
        for _i in range(iters):
            contrib = (
                edges.join(pr.withColumnRenamed("node", "src"), "src")
                .join(outdeg, "src")
                .select("dst", F.floor(F.col("pr") / F.col("deg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
            pr = (
                nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
                .select(
                    "node",
                    (
                        F.lit(base)
                        + F.floor(
                            F.lit(17) * F.coalesce(F.col("s"), F.lit(0)) / F.lit(20)
                        )
                    ).cast("long").alias("pr"),
                )
                .localCheckpoint(eager=release)
            )
            if release:
                if prev is not None:
                    # iteration i is materialized — i-1's checkpoint is
                    # no longer referenced by any live plan
                    unpersist_checkpoint(prev)
                prev = pr
        return pr

    if not release:
        return loop()
    with cache_scope():
        out = loop()
    return _track_result(out)


def duck_pagerank_over(kg_cte: str, iters: int = PAGERANK_ITERS) -> str:
    """Oracle: the same integer recurrence unrolled as chained CTEs
    (recursive CTEs cannot aggregate over the recursive reference;
    unrolling ``iters`` chained aggregations is the portable form).
    ``kg_cte`` must be a standalone query producing (subj, …, obj)."""
    s = PAGERANK_SCALE
    # MATERIALIZED: pe/pn/pd are referenced once per unrolled
    # iteration — without the hint DuckDB may re-execute the (heavy)
    # kg subtree per reference
    ctes = [
        f"kg AS MATERIALIZED ({kg_cte})",
        "pe AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst FROM kg)",
        "pn AS MATERIALIZED (SELECT DISTINCT node FROM (SELECT src AS node FROM pe UNION ALL SELECT dst AS node FROM pe))",  # bare UNION inside a WITH RECURSIVE chain parses as a recursive body
        "pc AS MATERIALIZED (SELECT COUNT(*) AS n FROM pn)",
        "pd AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM pe GROUP BY src)",
        f"pr0 AS (SELECT node, {s} // (SELECT n FROM pc) AS pr FROM pn)",
    ]
    for i in range(iters):
        ctes.append(f"""
        pr{i + 1} AS (
            SELECT pn.node,
                   ({s} * 15) // (100 * (SELECT n FROM pc))
                   + (17 * COALESCE(c.s, 0)) // 20 AS pr
            FROM pn
            LEFT JOIN (
                SELECT e.dst, SUM(p.pr // d.deg) AS s
                FROM pe e
                JOIN pr{i} p ON p.node = e.src
                JOIN pd d ON d.src = e.src
                GROUP BY e.dst
            ) c ON c.dst = pn.node
        )""")
    return (
        "WITH RECURSIVE "
        + ", ".join(ctes)
        + f" SELECT node, CAST(pr AS BIGINT) AS pr FROM pr{iters}"
    )


def kg_neighbors(kg: DataFrame, release: bool = True) -> DataFrame:
    """(node, n_out, n_in, n_two_hop) — 1- and 2-hop neighborhood
    statistics over the KG's distinct (subj → obj) edges: out-degree,
    in-degree, and the count of DISTINCT nodes reachable in exactly
    two directed hops (self excluded). The join-based complement of
    ``kg_pagerank``'s iterative analytics — the shape of entity-
    importance / hub-detection queries a downstream KG consumer runs.

    Plan: the edge table (KG-sized — orders of magnitude below the
    corpus) is persisted ONCE and feeds all four subtrees (node list,
    both degree aggs, and the 2-hop self-join on ``a.dst = b.src``).
    All counts are exact integers — bit-parity with the DuckDB
    re-derivation. At 10^12-turn scale the 2-hop self-join is one
    shuffle keyed on the join column over an edge table that already
    fits the cluster (AQE handles celebrity-node skew by splitting
    the build side); the per-node distinct is map-side combinable."""
    from pyspark.storagelevel import StorageLevel

    from ..session import cache_scope, track_cache, track_checkpoint

    def build() -> DataFrame:
        edges = track_cache(
            kg.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
        # edges is already (src, dst)-distinct, so a plain count IS the
        # distinct-neighbor count — no second dedup-aggregation phase
        out_deg = edges.groupBy(F.col("src").alias("node")).agg(
            F.count("*").alias("n_out")
        )
        in_deg = edges.groupBy(F.col("dst").alias("node")).agg(
            F.count("*").alias("n_in")
        )
        two_hop = (
            edges.alias("a")
            .join(edges.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("node"), F.col("b.dst").alias("z"))
            .filter(F.col("z") != F.col("node"))
            .distinct()
            .groupBy("node")
            .agg(F.count("*").alias("n_two_hop"))
        )
        return (
            nodes.join(out_deg, "node", "left")
            .join(in_deg, "node", "left")
            .join(two_hop, "node", "left")
            .select(
                "node",
                F.coalesce("n_out", F.lit(0)).cast("long").alias("n_out"),
                F.coalesce("n_in", F.lit(0)).cast("long").alias("n_in"),
                F.coalesce("n_two_hop", F.lit(0)).cast("long").alias("n_two_hop"),
            )
        )

    if not release:
        return build()
    # same discipline as kg_pagerank: materialize eagerly, free the
    # operator-local caches, register the backing checkpoint so
    # release_caches() frees it when the caller is done
    with cache_scope():
        out = build().localCheckpoint(eager=True)
    return track_checkpoint(out)


def duck_neighbors_over(kg_cte: str) -> str:
    """Oracle: the same degree/2-hop derivation in SQL. ``kg_cte`` must
    be a standalone query producing (subj, …, obj). MATERIALIZED: the
    edge table feeds four references."""
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte}),
        e AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst FROM kg),
        nn AS (SELECT DISTINCT node FROM
                 (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
        od AS (SELECT src AS node, COUNT(*) AS n_out FROM e GROUP BY 1),
        idg AS (SELECT dst AS node, COUNT(*) AS n_in FROM e GROUP BY 1),
        th AS (SELECT node, COUNT(*) AS n_two_hop FROM (
                   SELECT DISTINCT a.src AS node, b.dst AS z
                   FROM e a JOIN e b ON a.dst = b.src
                   WHERE b.dst <> a.src
               ) GROUP BY 1)
        SELECT nn.node,
               CAST(COALESCE(od.n_out, 0) AS BIGINT) AS n_out,
               CAST(COALESCE(idg.n_in, 0) AS BIGINT) AS n_in,
               CAST(COALESCE(th.n_two_hop, 0) AS BIGINT) AS n_two_hop
        FROM nn
        LEFT JOIN od USING (node)
        LEFT JOIN idg USING (node)
        LEFT JOIN th USING (node)
    """


NEG_SAMPLES = 2


def kg_negatives(
    kg: DataFrame, k: int = NEG_SAMPLES, n_ranges: int = 8, release: bool = True
) -> DataFrame:
    """(subj, pred, obj, neg_idx, neg_obj) — deterministic corrupted-
    tail negative sampling for KG-embedding training (the TransE /
    DistMult data-prep stage): each triple gets ``k`` negatives whose
    tail is a hash-picked node, skipping the true tail by +1 wraparound
    on collision.

    The node dimension is numbered 0..n-1 in lexicographic order with
    the SAME range-partitioned numbering as ``vocabulary`` (A9) — no
    single-task global sort at billion-node scale — and joins back
    broadcast (dimension-sized). Sampling is pure Column algebra over
    the portable ``H`` hash, so the DuckDB oracle reproduces every
    picked negative bit-for-bit. With n == 1 the wraparound degenerates
    (the only candidate IS the true tail) — a one-node KG has no valid
    negatives by definition."""
    from pyspark.storagelevel import StorageLevel

    from ..hashing import spark_h15
    from ..session import cache_scope, track_cache, track_checkpoint

    def build() -> DataFrame:
        # the (expensive) kg subtree feeds BOTH the node numbering and
        # the candidate fan-out — persist the triple-grain projection
        # once (same hazard kg_pagerank guards: without it the whole
        # extraction pipeline re-executes per consumer)
        edges = track_cache(
            kg.select("subj", "pred", "obj")
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        nodes = (
            edges.select(F.col("subj").alias("node"))
            .unionByName(edges.select(F.col("obj").alias("node")))
            .distinct()
        )
        from ..plans.rangenum import prefix_offset_col, ranged_by

        ranged = ranged_by(nodes, n_ranges, "node")
        off, n = prefix_offset_col(ranged)
        w = Window.partitionBy("pid").orderBy("node")
        numbered = ranged.withColumn(
            "node_id", (F.row_number().over(w) - 1 + off).cast("long")
        ).select("node", "node_id")
        cand = edges.select(
            "*",
            F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("neg_idx"),
        )
        raw = (
            spark_h15(
                F.concat_ws(
                    "#", "subj", "pred", "obj", F.col("neg_idx").cast("string")
                )
            )
            % F.lit(n)
        )
        withids = cand.withColumn("raw", raw).join(
            F.broadcast(numbered.withColumnRenamed("node", "obj")), "obj"
        ).withColumnRenamed("node_id", "obj_id")
        neg_id = F.when(
            F.col("raw") == F.col("obj_id"), (F.col("raw") + 1) % F.lit(n)
        ).otherwise(F.col("raw"))
        return (
            withids.withColumn("neg_id", neg_id)
            .join(
                F.broadcast(
                    numbered.select(
                        F.col("node_id").alias("neg_id"),
                        F.col("node").alias("neg_obj"),
                    )
                ),
                "neg_id",
            )
            .select("subj", "pred", "obj", "neg_idx", "neg_obj")
        )

    if not release:
        return build()
    with cache_scope():
        out = build().localCheckpoint(eager=True)
    return track_checkpoint(out)


def duck_negatives_over(kg_cte: str, k: int = NEG_SAMPLES) -> str:
    """Oracle: identical numbering (ROW_NUMBER ordered by node — both
    engines compare ASCII canonical ids bytewise) and identical hash
    pick + wraparound."""
    from ..hashing import duck_h15

    h = duck_h15("subj || '#' || pred || '#' || obj || '#' || CAST(neg_idx AS VARCHAR)")
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte}),
        e AS MATERIALIZED (SELECT DISTINCT subj, pred, obj FROM kg),
        nn AS MATERIALIZED (
            SELECT node, CAST(ROW_NUMBER() OVER (ORDER BY node) - 1 AS BIGINT) AS node_id
            FROM (SELECT DISTINCT node FROM
                    (SELECT subj AS node FROM e UNION ALL SELECT obj AS node FROM e))
        ),
        nc AS (SELECT COUNT(*) AS n FROM nn),
        c AS (SELECT e.*, UNNEST(range({k})) AS neg_idx FROM e),
        h AS (
            SELECT c.subj, c.pred, c.obj, c.neg_idx,
                   {h} % (SELECT n FROM nc) AS raw,
                   o.node_id AS obj_id
            FROM c JOIN nn o ON o.node = c.obj
        )
        SELECT x.subj, x.pred, x.obj, CAST(x.neg_idx AS INT) AS neg_idx,
               g.node AS neg_obj
        FROM (
            SELECT *, CASE WHEN raw = obj_id
                           THEN (raw + 1) % (SELECT n FROM nc)
                           ELSE raw END AS neg_id
            FROM h
        ) x
        JOIN nn g ON g.node_id = x.neg_id
    """


LIFT_SCALE = 1_000_000


def kg_edge_lift(kg: DataFrame, release: bool = True) -> DataFrame:
    """(subj, pred, obj, support, lift_e6) — association strength of
    every KG edge as the exact-integer LIFT of the pair against its
    marginals: ``lift = p(s,o) / (p(s) * p(o))`` with
    ``p(s,o) = support / N``, ``p(s) = c_s / N`` (subj's total support
    as a subject), ``p(o) = c_o / N`` (obj's as an object). Lift is a
    monotone transform of PMI (``pmi = log lift``), so rankings and
    thresholds carry over while the arithmetic stays integral.

    The fixed-point contract is the two-step floor division
    ``((support * 1e6) // c_s) * N // c_o`` — every intermediate is
    bounded by ``1e6 * N`` (no int64 overflow below N ~ 9e12 triples)
    and both engines execute the identical integer steps, so the oracle
    matches bit-for-bit (a float log would be summation-order hostile).

    Plan: the (tiny, KG-grain) triple table is persisted once and feeds
    the total, both marginal aggregates, and the final join; the
    marginals are node-dimension-sized, so both joins broadcast. One
    exchange each for the two marginal aggregations — nothing touches
    the corpus. The reference has no KG-analytics analogue; this is the
    LLM-pipeline/KG-consumer brief (edge-confidence weighting before a
    downstream triple-store load)."""
    from pyspark.storagelevel import StorageLevel

    from ..session import cache_scope, track_cache, track_checkpoint

    def build() -> DataFrame:
        t = track_cache(
            kg.select("subj", "pred", "obj", "support").persist(
                StorageLevel.MEMORY_AND_DISK
            )
        )
        n = t.agg(F.sum("support")).collect()[0][0]
        c_s = t.groupBy("subj").agg(F.sum("support").alias("c_s"))
        c_o = t.groupBy("obj").agg(F.sum("support").alias("c_o"))
        # `div` is INTEGER division (stays in long — a float `/` would
        # lose exactness above 2^53); operands are positive, so Spark's
        # truncate-toward-zero and DuckDB's floor `//` agree
        lift = F.expr(
            f"((support * {LIFT_SCALE}) div c_s) * {int(n)} div c_o"
        ).cast("long")
        return (
            t.join(F.broadcast(c_s), "subj")
            .join(F.broadcast(c_o), "obj")
            .select("subj", "pred", "obj", "support", lift.alias("lift_e6"))
        )

    if not release:
        return build()
    with cache_scope():
        out = build().localCheckpoint(eager=True)
    return track_checkpoint(out)


def duck_edge_lift_over(kg_cte: str) -> str:
    """Oracle: identical two-step integer floor division over the same
    marginals. ``kg_cte`` must produce (subj, pred, obj, support)."""
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte}),
        tot AS (SELECT SUM(support) AS n FROM kg),
        ms AS (SELECT subj, SUM(support) AS c_s FROM kg GROUP BY subj),
        mo AS (SELECT obj, SUM(support) AS c_o FROM kg GROUP BY obj)
        SELECT t.subj, t.pred, t.obj, t.support,
               CAST(((t.support * {LIFT_SCALE}) // ms.c_s)
                    * (SELECT n FROM tot) // mo.c_o AS BIGINT) AS lift_e6
        FROM kg t
        JOIN ms ON ms.subj = t.subj
        JOIN mo ON mo.obj = t.obj
    """


COMM_ITERS = 4


def kg_communities(
    kg: DataFrame,
    iters: int = COMM_ITERS,
    release: bool = True,
    incore_max_edges: int | None = None,
) -> DataFrame:
    """(node, community) — deterministic SYNCHRONOUS label propagation
    (Raghavan et al. 2007) over the KG's undirected distinct edge set:
    every node starts as its own label; each round it adopts the most
    frequent label among its neighbours, ties broken by the
    lexicographically smallest label; nodes with no neighbours keep
    their label. A fixed ``iters`` rounds (not convergence-detection)
    keeps the recurrence bit-reproducible in SQL — synchronous LPA can
    oscillate, and "the state after exactly N rounds" is the portable
    contract.

    Plan: the same iterative join-agg shape as ``kg_pagerank`` — the
    undirected edge table (KG-sized) persists once; per round, one join
    of edges against the label table (broadcast-able: labels are
    node-dimension-sized), one (node, label) count aggregation, one
    argmax via ``min(struct(-cnt, label))`` (map-side combinable), and
    an eager ``localCheckpoint`` truncating lineage with the previous
    round's checkpoint freed as soon as the next lands — in-flight
    storage stays at 2 node-sized RDDs regardless of ``iters``."""
    from pyspark.storagelevel import StorageLevel

    from ..session import (
        cache_scope,
        track_cache,
        track_checkpoint,
        unpersist_checkpoint,
    )

    def loop() -> DataFrame:
        # the (expensive) kg subtree feeds BOTH the edge and node
        # derivations — persist the KG-grain projection ONCE so the
        # upstream extraction pipeline executes once, not per consumer
        # (measured at sf1: the un-persisted nodes derivation doubled
        # the operator's end-to-end wall time)
        base = track_cache(
            kg.select("subj", "obj").persist(StorageLevel.MEMORY_AND_DISK)
        )
        # hybrid fast path (connected_components pattern): below the
        # threshold the dimension-sized graph runs the identical
        # synchronous LPA in-core (graph_incore.lpa) — one collect vs
        # per-round Spark jobs; bit-equal, pinned in
        # test_graph_incore.py
        thr = (
            graph_incore.INCORE_MAX_EDGES
            if incore_max_edges is None
            else incore_max_edges
        )
        if base.count() <= thr:
            rows = graph_incore.lpa(
                [(r.subj, r.obj) for r in base.collect()], iters
            )
            return local_frame(kg.sparkSession, rows, "node string, label string")
        directed = base.select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        ).filter(F.col("src") != F.col("dst"))
        edges = track_cache(
            directed.unionByName(
                directed.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        nodes = track_cache(
            base.select(F.col("subj").alias("node"))
            .unionByName(base.select(F.col("obj").alias("node")))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        lab = nodes.withColumn("label", F.col("node"))
        prev = None
        for _i in range(iters):
            votes = (
                edges.join(
                    lab.select(F.col("node").alias("dst"), "label"), "dst"
                )
                .groupBy(F.col("src").alias("node"), "label")
                .agg(F.count("*").alias("cnt"))
            )
            pick = votes.groupBy("node").agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
                )["label"].alias("new_label")
            )
            lab = (
                lab.join(pick, "node", "left")
                .select(
                    "node",
                    F.coalesce("new_label", "label").alias("label"),
                )
                .localCheckpoint(eager=release)
            )
            if release:
                if prev is not None:
                    unpersist_checkpoint(prev)
                prev = lab
        if release and prev is None:
            # iters=0: nothing checkpointed in-loop, but the release
            # path registers the result's backing RDD — materialize it
            lab = lab.localCheckpoint(eager=True)
        return lab

    # the rename is applied AFTER checkpoint registration: the tracked
    # handle must see the bare LogicalRDD plan, not a projection of it
    rename = lambda df: df.select(  # noqa: E731
        "node", F.col("label").alias("community")
    )
    if not release:
        return rename(loop())
    with cache_scope():
        out = loop()
    return rename(_track_result(out))


def duck_communities_over(kg_cte: str, iters: int = COMM_ITERS) -> str:
    """Oracle: the same synchronous rounds unrolled as chained CTEs
    (argmax via ROW_NUMBER ordered by cnt DESC, label ASC — the same
    (-cnt, label) struct-min total order as the Spark side)."""
    ctes = [
        f"kg AS MATERIALIZED ({kg_cte})",
        """ce AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT subj AS src, obj AS dst FROM kg WHERE subj <> obj
                UNION ALL
                SELECT obj AS src, subj AS dst FROM kg WHERE subj <> obj
            )
        )""",
        """cn AS MATERIALIZED (SELECT DISTINCT node FROM (
            SELECT subj AS node FROM kg UNION ALL SELECT obj AS node FROM kg
        ))""",
        "lab0 AS (SELECT node, node AS label FROM cn)",
    ]
    for i in range(iters):
        ctes.append(f"""
        pick{i} AS (
            SELECT node, label AS new_label FROM (
                SELECT e.src AS node, l.label, COUNT(*) AS cnt,
                       ROW_NUMBER() OVER (PARTITION BY e.src
                                          ORDER BY COUNT(*) DESC, l.label) AS rn
                FROM ce e JOIN lab{i} l ON l.node = e.dst
                GROUP BY e.src, l.label
            ) WHERE rn = 1
        )""")
        ctes.append(f"""
        lab{i + 1} AS (
            SELECT l.node, COALESCE(p.new_label, l.label) AS label
            FROM lab{i} l LEFT JOIN pick{i} p USING (node)
        )""")
    return (
        "WITH RECURSIVE "
        + ", ".join(ctes)
        + f" SELECT node, label AS community FROM lab{iters}"
    )


def kg_triangles(kg: DataFrame, release: bool = True) -> DataFrame:
    """(node, n_tri) — per-node triangle participation count over the
    KG's undirected edge set: the classic cohesion/clustering signal a
    KG consumer uses to find tightly-bound entity groups (and, with
    degrees, local clustering coefficients).

    Each triangle a<b<c is enumerated exactly once on id-oriented
    edges: (a,b)⋈(b,c) on the shared middle vertex, then a semi-check
    that (a,c) is an edge. Two KG-sized equi-join exchanges + one
    count — nothing corpus-sized. At billion-edge scale the orientation
    would order by DEGREE instead of id (cuts the wedge fan-out of hub
    vertices from d² to the out-oriented d_out² ≤ d·d_max_out); AQE
    skew-split covers the residual hot vertex. Id-orientation is the
    deterministic stand-in with identical output."""
    from pyspark.storagelevel import StorageLevel

    from ..session import cache_scope, track_cache, track_checkpoint

    def build() -> DataFrame:
        # one kg-subtree execution feeds the edge AND node derivations
        base = track_cache(
            kg.select("subj", "obj").persist(StorageLevel.MEMORY_AND_DISK)
        )
        und = track_cache(
            base.select(
                F.least("subj", "obj").alias("u"),
                F.greatest("subj", "obj").alias("v"),
            )
            .filter(F.col("u") < F.col("v"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        wedges = (
            und.alias("e1")
            .join(und.alias("e2"), F.col("e1.v") == F.col("e2.u"))
            .select(
                F.col("e1.u").alias("a"),
                F.col("e1.v").alias("b"),
                F.col("e2.v").alias("c"),
            )
        )
        tris = wedges.join(
            und.select(F.col("u").alias("a"), F.col("v").alias("c")),
            ["a", "c"],
        )
        per_node = (
            tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("n_tri"))
        )
        nodes = (
            base.select(F.col("subj").alias("node"))
            .unionByName(base.select(F.col("obj").alias("node")))
            .distinct()
        )
        return nodes.join(per_node, "node", "left").select(
            "node", F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri")
        )

    if not release:
        return build()
    with cache_scope():
        out = build().localCheckpoint(eager=True)
    return track_checkpoint(out)


def duck_triangles_over(kg_cte: str) -> str:
    """Oracle: the same once-per-triangle enumeration in SQL."""
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte}),
        und AS MATERIALIZED (
            SELECT DISTINCT LEAST(subj, obj) AS u, GREATEST(subj, obj) AS v
            FROM kg WHERE LEAST(subj, obj) < GREATEST(subj, obj)
        ),
        tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM und e1
            JOIN und e2 ON e2.u = e1.v
            JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        pn AS (
            SELECT node, COUNT(*) AS n_tri FROM (
                SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            ) GROUP BY node
        ),
        alln AS (SELECT DISTINCT node FROM (
            SELECT subj AS node FROM kg UNION ALL SELECT obj FROM kg
        ))
        SELECT alln.node, CAST(COALESCE(pn.n_tri, 0) AS BIGINT) AS n_tri
        FROM alln LEFT JOIN pn USING (node)
    """


def kg_components(kg: DataFrame) -> DataFrame:
    """(node, component) — EXACT connected components over the KG's
    undirected entity graph (component = lexicographic-min reachable
    node). The complement of ``kg_communities``: LPA finds dense
    sub-groups inside a component; this finds the components
    themselves (disconnected knowledge islands — the "how many
    disjoint sub-graphs did extraction produce" health metric).

    Reuses the G6 machinery end-to-end: driver union-find below the
    vocabulary threshold, alternating large-star/small-star above it
    (O(log n) rounds, per-round lineage truncation) — the identical
    mapping either way, so the oracle (min-reachable-label recursive
    CTE) covers both paths."""
    nodes = (
        kg.select(F.col("subj").alias("surface"))
        .unionByName(kg.select(F.col("obj").alias("surface")))
        .distinct()
    )
    edges = kg.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return connected_components(nodes, edges).select(
        F.col("surface").alias("node"), "component"
    )


def duck_kg_components_over(kg_cte: str) -> str:
    """Oracle: the shared min-reachable-label recursive CTE over the
    KG's node/edge projections."""
    inner = duck_components_cte()
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte}),
        cc_nodes AS (SELECT DISTINCT surface FROM (
            SELECT subj AS surface FROM kg UNION ALL SELECT obj FROM kg
        )),
        cc_edges AS (SELECT DISTINCT subj AS src, obj AS dst FROM kg
                     WHERE subj <> obj),
        comp AS ({inner})
        SELECT surface AS node, component FROM comp
    """


def kg_node_sim(kg: DataFrame, release: bool = True) -> DataFrame:
    """(src, dst, n_common, jac_e6) — neighbour-set Jaccard similarity
    for every entity pair sharing at least one common neighbour in the
    KG's undirected graph: the classic link-prediction / missing-edge
    signal a KG consumer runs after construction (pairs that are
    connected but share no neighbour are out of scope by definition of
    common-neighbour candidate generation — documented contract).

    jac_e6 is the exact integer ``(inter * 1e6) div (deg_a + deg_b -
    inter)``. Plan: the id-oriented wedge join (same shape and skew
    notes as ``kg_triangles``) generates candidates — never all pairs;
    degrees ride back as a broadcast (node-dimension-sized); one
    count aggregation at pair grain."""
    from pyspark.storagelevel import StorageLevel

    from ..session import cache_scope, track_cache, track_checkpoint

    def build() -> DataFrame:
        # persist the KG-grain projection first: the undirected union
        # references it twice within one job (plus any later consumer)
        base = track_cache(
            kg.select("subj", "obj").persist(StorageLevel.MEMORY_AND_DISK)
        )
        directed = base.select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        ).filter(F.col("src") != F.col("dst"))
        und = track_cache(
            directed.unionByName(
                directed.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        deg = und.groupBy(F.col("src").alias("node")).agg(
            F.count("*").alias("deg")
        )
        wedges = (
            und.alias("x")
            .join(und.alias("y"), F.col("x.src") == F.col("y.src"))
            .filter(F.col("x.dst") < F.col("y.dst"))
            .select(F.col("x.dst").alias("a"), F.col("y.dst").alias("b"))
        )
        common = wedges.groupBy("a", "b").agg(F.count("*").alias("n_common"))
        return (
            common.join(
                F.broadcast(deg.select(F.col("node").alias("a"),
                                       F.col("deg").alias("da"))), "a")
            .join(
                F.broadcast(deg.select(F.col("node").alias("b"),
                                       F.col("deg").alias("db"))), "b")
            .select(
                F.col("a").alias("src"),
                F.col("b").alias("dst"),
                "n_common",
                F.expr("(n_common * 1000000) div (da + db - n_common)")
                .cast("long")
                .alias("jac_e6"),
            )
        )

    if not release:
        return build()
    with cache_scope():
        out = build().localCheckpoint(eager=True)
    return track_checkpoint(out)


def duck_node_sim_over(kg_cte: str) -> str:
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte}),
        und AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT subj AS src, obj AS dst FROM kg WHERE subj <> obj
                UNION ALL
                SELECT obj AS src, subj AS dst FROM kg WHERE subj <> obj
            )
        ),
        dg AS (SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY src),
        com AS (
            SELECT x.dst AS a, y.dst AS b, CAST(COUNT(*) AS BIGINT) AS n_common
            FROM und x JOIN und y ON x.src = y.src AND x.dst < y.dst
            GROUP BY x.dst, y.dst
        )
        SELECT com.a AS src, com.b AS dst, com.n_common,
               CAST((com.n_common * 1000000)
                    // (da.deg + db.deg - com.n_common) AS BIGINT) AS jac_e6
        FROM com
        JOIN dg da ON da.node = com.a
        JOIN dg db ON db.node = com.b
    """


# ------------------------------------------------------- BFS distances

BFS_MAX_HOPS = 4


def kg_paths(
    kg: DataFrame,
    max_hops: int = BFS_MAX_HOPS,
    release: bool = True,
    incore_max_edges: int | None = None,
) -> DataFrame:
    """(node, dist) — BFS shortest-path layers over the KG's directed
    (subj → obj) edges from the hub entity (highest out-degree, ties to
    the lexicographically smallest subject — a deterministic pick both
    engines can reproduce), bounded at ``max_hops``.

    Frontier-only expansion: each layer joins ONLY the newly discovered
    nodes against the edge table and anti-joins the known set, so per-
    iteration work is O(frontier × avg-degree), not O(visited) — the
    scalable BFS shape (one equi-join + one anti-join per layer, edge
    table persisted once, lineage truncated per layer exactly like the
    PageRank loop above). Early-exits when a layer is empty.
    """
    from pyspark.storagelevel import StorageLevel

    from ..session import (
        cache_scope,
        track_cache,
        track_checkpoint,
        unpersist_checkpoint,
    )

    spark = kg.sparkSession

    def loop() -> DataFrame:
        edges = track_cache(
            kg.select("subj", "obj").distinct().persist(StorageLevel.MEMORY_AND_DISK)
        )
        # hybrid fast path (connected_components pattern): below the
        # threshold the BFS runs in-core (graph_incore.bfs_layers) —
        # one collect vs 2 jobs/layer; bit-equal, pinned in
        # test_graph_incore.py
        thr = (
            graph_incore.INCORE_MAX_EDGES
            if incore_max_edges is None
            else incore_max_edges
        )
        if edges.count() <= thr:
            rows = graph_incore.bfs_layers(
                [(r.subj, r.obj) for r in edges.collect()], max_hops
            )
            return local_frame(spark, rows, "node string, dist int")
        hub = (
            edges.groupBy("subj")
            .agg(F.count("*").alias("deg"))
            .orderBy(F.desc("deg"), F.asc("subj"))
            .limit(1)
            .collect()
        )
        if not hub:
            return local_frame(spark, [], "node string, dist int")
        dist = local_frame(
            spark, [(hub[0]["subj"], 0)], "node string, dist int"
        ).localCheckpoint(eager=release)
        frontier = dist
        prev = dist
        for h in range(1, max_hops + 1):
            reached = (
                frontier.join(edges, frontier["node"] == edges["subj"])
                .select(F.col("obj").alias("node"))
                .distinct()
            )
            new = reached.join(dist, "node", "left_anti").select(
                "node", F.lit(h).cast("int").alias("dist")
            )
            if new.isEmpty():
                break
            dist = dist.unionByName(new).localCheckpoint(eager=release)
            frontier = dist.filter(F.col("dist") == h)
            if release:
                unpersist_checkpoint(prev)
                prev = dist
        return dist

    if not release:
        return loop()
    with cache_scope():
        out = loop()
    return _track_result(out)


def duck_kg_paths_over(kg_cte: str, max_hops: int = BFS_MAX_HOPS) -> str:
    """Oracle: recursive-CTE walk bounded at ``max_hops``, min-dist per
    node — equals BFS layers by definition."""
    return f"""
        WITH RECURSIVE kgt AS (SELECT * FROM ({kg_cte})),
        edges AS (SELECT DISTINCT subj, obj FROM kgt),
        hub AS (
            SELECT subj AS node FROM edges
            GROUP BY subj ORDER BY COUNT(*) DESC, subj LIMIT 1
        ),
        walk(node, dist) AS (
            SELECT node, 0 FROM hub
            UNION ALL
            SELECT e.obj, w.dist + 1
            FROM walk w JOIN edges e ON e.subj = w.node
            WHERE w.dist < {max_hops}
        )
        SELECT node, CAST(MIN(dist) AS INT) AS dist FROM walk GROUP BY node
    """


# --------------------------------------------------------------- k-core

KCORE_K = 2
KCORE_ROUNDS = 6


def kg_kcore(
    kg: DataFrame,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
    release: bool = True,
    incore_max_edges: int | None = None,
) -> DataFrame:
    """(node, deg) — the nodes surviving ``rounds`` synchronous peel
    rounds of the k-core (Seidman 1983) over the KG's undirected
    distinct edge set, with their degree inside the surviving subgraph:
    the standard dense-nucleus census a KG consumer runs to separate
    load-bearing entity clusters from pendant trivia.

    Each round simultaneously removes every node whose degree within
    the current subgraph is < k. Fixed ``rounds`` (not
    convergence-detection) keeps the state portable to SQL — the same
    "state after exactly N rounds" contract as ``kg_communities``; the
    pytest pin proves N rounds reach the true fixpoint on crafted
    worst-case chains and that the driver-scale graph is at fixpoint.

    Plan: edge table (KG-sized, persisted once) survives unchanged; per
    round the ALIVE set (node-dimension-sized, strictly shrinking) is
    broadcast into two semi-joins on the edges, one degree count, one
    filter — no corpus-sized state, lineage truncated per round with
    the same eager ``localCheckpoint`` + previous-round release as
    ``kg_communities``, so in-flight storage is 2 node-sized RDDs
    regardless of ``rounds``."""
    from pyspark.storagelevel import StorageLevel

    from ..session import (
        cache_scope,
        track_cache,
        track_checkpoint,
        unpersist_checkpoint,
    )

    def loop() -> DataFrame:
        base = track_cache(
            kg.select("subj", "obj").persist(StorageLevel.MEMORY_AND_DISK)
        )
        directed = base.select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        ).filter(F.col("src") != F.col("dst"))
        edges = track_cache(
            directed.unionByName(
                directed.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # hybrid fast path (connected_components pattern): below the
        # threshold the peel runs in-core (graph_incore.kcore) — one
        # collect of the symmetric distinct edge set vs 2 jobs/round;
        # bit-equal, pinned in test_graph_incore.py
        thr = (
            graph_incore.INCORE_MAX_EDGES
            if incore_max_edges is None
            else incore_max_edges
        )
        if edges.count() <= thr:
            rows = graph_incore.kcore(
                [(r.src, r.dst) for r in edges.collect()], k, rounds
            )
            return local_frame(
                kg.sparkSession,
                rows,
                T.StructType(
                    [
                        T.StructField("node", T.StringType(), True),
                        T.StructField("deg", T.LongType(), False),
                    ]
                ),
            )
        alive = edges.select(F.col("src").alias("node")).distinct()
        prev = None
        for _i in range(rounds):
            live_edges = edges.join(
                F.broadcast(alive.select(F.col("node").alias("src"))), "src"
            ).join(F.broadcast(alive.select(F.col("node").alias("dst"))), "dst")
            deg = live_edges.groupBy(F.col("src").alias("node")).agg(
                F.count("*").alias("deg")
            )
            alive = (
                deg.filter(F.col("deg") >= k)
                .select("node")
                .localCheckpoint(eager=release)
            )
            if release:
                if prev is not None:
                    unpersist_checkpoint(prev)
                prev = alive
        # final degree measured on the surviving subgraph
        live_edges = edges.join(
            F.broadcast(alive.select(F.col("node").alias("src"))), "src"
        ).join(F.broadcast(alive.select(F.col("node").alias("dst"))), "dst")
        out = live_edges.groupBy(F.col("src").alias("node")).agg(
            F.count("*").alias("deg")
        )
        if release:
            out = out.localCheckpoint(eager=True)
            if prev is not None:
                unpersist_checkpoint(prev)
        return out

    if not release:
        return loop()
    with cache_scope():
        out = loop()
    return _track_result(out)


def duck_kcore_over(
    kg_cte: str, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> str:
    """Oracle: the same synchronous peel unrolled as chained CTEs."""
    ctes = [
        f"kg AS MATERIALIZED ({kg_cte})",
        """pe AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT subj AS src, obj AS dst FROM kg WHERE subj <> obj
                UNION ALL
                SELECT obj AS src, subj AS dst FROM kg WHERE subj <> obj
            )
        )""",
        "alive0 AS (SELECT DISTINCT src AS node FROM pe)",
    ]
    for i in range(rounds):
        ctes.append(f"""
        alive{i + 1} AS (
            SELECT e.src AS node
            FROM pe e
            JOIN alive{i} a ON a.node = e.src
            JOIN alive{i} b ON b.node = e.dst
            GROUP BY e.src
            HAVING COUNT(*) >= {k}
        )""")
    return (
        "WITH RECURSIVE "
        + ", ".join(ctes)
        + f"""
        SELECT e.src AS node, COUNT(*) AS deg
        FROM pe e
        JOIN alive{rounds} a ON a.node = e.src
        JOIN alive{rounds} b ON b.node = e.dst
        GROUP BY e.src
    """
    )


# --------------------------------------------------------------- walks

WALKS_PER_NODE = 2
WALK_LEN = 4
WALK_MAX_NBRS = 64


def kg_walks(
    kg: DataFrame,
    walks: int = WALKS_PER_NODE,
    length: int = WALK_LEN,
    max_nbrs: int = WALK_MAX_NBRS,
    release: bool = True,
    incore_max_edges: int | None = None,
) -> DataFrame:
    """(start, walk, step, node) — ``walks`` deterministic random walks
    of up to ``length`` hops from every KG node with out-edges, in long
    form: the DeepWalk/node2vec *walk corpus* (Perozzi et al. 2014) that
    feeds skip-gram entity-embedding training downstream of the KG.

    Determinism (the engine's portability contract): a node's
    out-neighbours are the SORTED distinct objects, truncated at
    ``max_nbrs`` (hub-degree cap — at corpus scale a celebrity entity's
    adjacency list must not become a multi-MB array riding every join;
    sorted-prefix truncation keeps the cap reproducible in SQL), and
    step *t* of walk *w* from *v* picks index
    ``H(start|w|t|v) mod deg(v)`` with the engine-portable 60-bit md5
    hash — so DuckDB replays the identical walks via a recursive CTE.

    Plan: adjacency (node-dimension-sized) builds with ONE exchange and
    persists once; each hop is ONE equi-join of the walk-state
    (``n_nodes × walks`` rows, never larger) against it, with per-hop
    ``localCheckpoint`` lineage truncation and previous-hop release —
    the ``kg_paths`` discipline. Walks halt at sink nodes (inner join
    drops them), so per-hop work only shrinks. At 100 TB the adjacency
    is still node-grain (broadcastable for most KGs); the walk-state
    join is the textbook iterative equi-join shape.
    """
    from pyspark.storagelevel import StorageLevel

    from ..hashing import spark_h15
    from ..session import (
        cache_scope,
        track_cache,
        track_checkpoint,
        unpersist_checkpoint,
    )

    def loop() -> DataFrame:
        dedges = track_cache(
            kg.select("subj", "obj")
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # hybrid fast path (connected_components pattern): below the
        # threshold the hash-steered walks replay in-core
        # (graph_incore.walks, same 60-bit md5 hash) — one collect vs
        # 2 jobs/hop; bit-equal, pinned in test_graph_incore.py
        thr = (
            graph_incore.INCORE_MAX_EDGES
            if incore_max_edges is None
            else incore_max_edges
        )
        if dedges.count() <= thr:
            rows = graph_incore.walks(
                [(r.subj, r.obj) for r in dedges.collect()],
                walks,
                length,
                max_nbrs,
            )
            return local_frame(
                kg.sparkSession,
                rows,
                T.StructType(
                    [
                        T.StructField("start", T.StringType(), True),
                        T.StructField("walk", T.IntegerType(), False),
                        T.StructField("step", T.IntegerType(), False),
                        T.StructField("node", T.StringType(), True),
                    ]
                ),
            )
        adj = track_cache(
            dedges
            .groupBy("subj")
            .agg(
                F.slice(
                    F.sort_array(F.collect_set("obj")), 1, max_nbrs
                ).alias("nbrs")
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        state = adj.select(
            F.col("subj").alias("start"),
            F.explode(F.sequence(F.lit(0), F.lit(walks - 1))).alias("walk"),
            F.lit(0).cast("int").alias("step"),
            F.col("subj").alias("node"),
        )
        out = state.localCheckpoint(eager=release)
        frontier = out
        prev = out
        for t in range(1, length + 1):
            nxt = (
                frontier.join(adj, frontier["node"] == adj["subj"])
                .select(
                    "start",
                    "walk",
                    F.lit(t).cast("int").alias("step"),
                    F.element_at(
                        "nbrs",
                        (
                            spark_h15(
                                F.concat_ws(
                                    "|",
                                    F.col("start"),
                                    F.col("walk").cast("string"),
                                    F.lit(str(t)),
                                    F.col("node"),
                                )
                            )
                            % F.size("nbrs")
                            + F.lit(1)
                        ).cast("int"),
                    ).alias("node"),
                )
            )
            if nxt.isEmpty():
                break
            out = out.unionByName(nxt).localCheckpoint(eager=release)
            frontier = out.filter(F.col("step") == t)
            if release:
                unpersist_checkpoint(prev)
                prev = out
        return out

    if not release:
        return loop()
    with cache_scope():
        res = loop()
    return _track_result(res)


def duck_walks_over(
    kg_cte: str,
    walks: int = WALKS_PER_NODE,
    length: int = WALK_LEN,
    max_nbrs: int = WALK_MAX_NBRS,
) -> str:
    """Oracle: the identical deterministic walks as a recursive CTE over
    the sorted-truncated adjacency lists (independent formulation: list
    indexing in SQL vs the engine's iterative equi-join loop)."""
    from ..hashing import duck_h15

    h = duck_h15(
        "w.start || '|' || CAST(w.walk AS VARCHAR) || '|' "
        "|| CAST(w.step + 1 AS VARCHAR) || '|' || w.node"
    )
    return f"""
        WITH RECURSIVE kgt AS MATERIALIZED ({kg_cte}),
        adj AS MATERIALIZED (
            SELECT subj, list_sort(list(DISTINCT obj))[1:{max_nbrs}] AS nbrs
            FROM kgt GROUP BY subj
        ),
        wids AS (SELECT CAST(range AS INT) AS walk FROM range(0, {walks})),
        walkrec(start, walk, step, node) AS (
            SELECT subj, walk, CAST(0 AS INT), subj FROM adj CROSS JOIN wids
            UNION ALL
            SELECT w.start, w.walk, CAST(w.step + 1 AS INT),
                   a.nbrs[CAST(({h}) % len(a.nbrs) AS INT) + 1]
            FROM walkrec w JOIN adj a ON a.subj = w.node
            WHERE w.step < {length}
        )
        SELECT start, walk, step, node FROM walkrec
    """


SKIPGRAM_WINDOW = 2


def walk_pairs(
    kg: DataFrame,
    window: int = SKIPGRAM_WINDOW,
    walks: int = WALKS_PER_NODE,
    length: int = WALK_LEN,
    max_nbrs: int = WALK_MAX_NBRS,
) -> DataFrame:
    """(center, context, cnt) — skip-gram co-occurrence counts over the
    :func:`kg_walks` corpus: for every walk, every ordered (center,
    context) pair within ``window`` hops, aggregated across the corpus.
    This is the input word2vec/DeepWalk trains on — the pair-count
    table IS the sufficient statistic for the skip-gram objective
    (Levy & Goldberg 2014 show SGNS factorizes the shifted PMI of
    exactly these counts), so emitting it closes the entity-embedding
    prep path: KG → walks → co-occurrence counts.

    Plan: walks regroup to one bounded array per (start, walk) — at
    most ``length+1`` elements, so the array can never skew — and the
    pair expansion is pure Column algebra (indexed ``transform`` ×
    indexed ``filter``: ≤ ``(length+1)·2·window`` structs per walk, a
    constant). Two exchanges total: the regroup and the final pair
    count (map-side combine collapses the corpus before the wire).
    At 100 TB the walk corpus is node-grain × a constant — this is a
    word-count over it, the canonical Spark shape."""
    wk = kg_walks(kg, walks=walks, length=length, max_nbrs=max_nbrs)
    seqs = wk.groupBy("start", "walk").agg(
        F.array_sort(F.collect_list(F.struct("step", "node"))).alias("seq")
    )
    pairs = F.expr(
        f"""flatten(transform(seq, (c, i) -> transform(
                filter(seq, (x, j) -> j != i AND abs(j - i) <= {window}),
                x -> named_struct('center', c.node, 'context', x.node))))"""
    )
    return (
        seqs.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.center").alias("center"),
            F.col("p.context").alias("context"),
        )
        .agg(F.count("*").alias("cnt"))
    )


def duck_pairs_over(
    kg_cte: str,
    window: int = SKIPGRAM_WINDOW,
    walks: int = WALKS_PER_NODE,
    length: int = WALK_LEN,
    max_nbrs: int = WALK_MAX_NBRS,
) -> str:
    """Oracle: the same counts by a step-range self-join of the walk
    relation (independent formulation: row-pair join vs the engine's
    bounded-array expansion)."""
    walks_sql = duck_walks_over(kg_cte, walks=walks, length=length,
                                max_nbrs=max_nbrs)
    return f"""
        WITH wlk AS MATERIALIZED ({walks_sql})
        SELECT a.node AS center, b.node AS context, COUNT(*) AS cnt
        FROM wlk a JOIN wlk b
          ON a.start = b.start AND a.walk = b.walk
         AND b.step BETWEEN a.step - {window} AND a.step + {window}
         AND b.step <> a.step
        GROUP BY 1, 2
    """


# ---------------------------------------------------------- entity PMI

PMI_MIN_PAIRS = 2


def entity_pmi(
    mentions: DataFrame, canon: DataFrame, min_pairs: int = PMI_MIN_PAIRS
) -> DataFrame:
    """(e1, e2, pair_cnt, pmi) — pointwise mutual information of
    canonical-entity co-occurrence at conversation grain (Church &
    Hanks 1990): ``pmi = ln(P(e1,e2) / (P(e1)·P(e2)))`` with
    probabilities estimated over conversations containing ≥1 linked
    mention. Entities are keyed exactly like the KG (``UPPER(
    COALESCE(component, surface))``), so high-PMI pairs are the
    relation-discovery candidates the KG's typed edges don't yet
    cover — the classic distant-supervision signal.

    Plan: the per-conversation entity set is bounded by the alias
    dictionary (a dimension table), so the pair expansion is the
    walk_pairs shape — one bounded sorted array per conversation,
    indexed-``transform`` × ``slice`` Column algebra, ≤ |dict|²/2
    structs per conversation — then ONE map-side-combinable pair
    count. Entity marginals and the corpus conversation count derive
    from the PERSISTED conversation-grain ``sets`` relation (one
    bounded row per conversation) and ride back as broadcasts — the
    corpus is read exactly once (joining back aggregates of the
    un-persisted subtree would re-derive the mention pipeline from
    scratch on every broadcast side: measured 4 parquet scans before
    this persist, 1 after). Total: two corpus-grain exchanges
    (entity-set build, pair count)."""
    from pyspark.storagelevel import StorageLevel

    from ..session import track_cache

    ents = (
        mentions.join(F.broadcast(canon), "surface", "left")
        .select(
            "conv_id",
            F.upper(F.coalesce("component", "surface")).alias("entity"),
        )
        .distinct()
    )
    sets = track_cache(
        ents.groupBy("conv_id")
        .agg(F.array_sort(F.collect_set("entity")).alias("es"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = F.expr(
        """flatten(transform(es, (a, i) -> transform(
               slice(es, i + 2, size(es)),
               b -> named_struct('e1', a, 'e2', b))))"""
    )
    pc = (
        sets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.e1").alias("e1"), F.col("p.e2").alias("e2"))
        .agg(F.count("*").alias("pair_cnt"))
    )
    cnts = (
        sets.select(F.explode("es").alias("entity"))
        .groupBy("entity")
        .agg(F.count("*").alias("cnt"))
    )
    n_df = sets.agg(F.count("*").alias("n_convs"))
    return (
        pc.filter(F.col("pair_cnt") >= min_pairs)
        .join(
            F.broadcast(
                cnts.select(F.col("entity").alias("e1"), F.col("cnt").alias("c1"))
            ),
            "e1",
        )
        .join(
            F.broadcast(
                cnts.select(F.col("entity").alias("e2"), F.col("cnt").alias("c2"))
            ),
            "e2",
        )
        .crossJoin(F.broadcast(n_df))
        .select(
            "e1",
            "e2",
            "pair_cnt",
            F.round(
                F.log(
                    F.col("pair_cnt").cast("double")
                    * F.col("n_convs").cast("double")
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def duck_entity_pmi_tail(min_pairs: int = PMI_MIN_PAIRS) -> str:
    """Oracle tail (compose after the sdp prefix + canonicalize CTEs,
    which leave ``mentions`` and ``canon`` in scope): the same PMI by
    a conversation-grain self-join instead of the engine's bounded-
    array expansion."""
    return f"""
        , ents AS (
            SELECT DISTINCT m.conv_id,
                   UPPER(COALESCE(c.component, m.surface)) AS entity
            FROM mentions m LEFT JOIN canon c ON c.surface = m.surface
        ),
        pc AS (
            SELECT a.entity AS e1, b.entity AS e2, COUNT(*) AS pair_cnt
            FROM ents a JOIN ents b
              ON a.conv_id = b.conv_id AND a.entity < b.entity
            GROUP BY 1, 2
        ),
        cnts AS (SELECT entity, COUNT(*) AS cnt FROM ents GROUP BY 1),
        n AS (SELECT COUNT(DISTINCT conv_id) AS n_convs FROM ents)
        SELECT pc.e1, pc.e2, pc.pair_cnt,
               ROUND(ln(pc.pair_cnt * 1.0 * n.n_convs
                        / (c1.cnt * 1.0 * c2.cnt)), 6) AS pmi
        FROM pc
        JOIN cnts c1 ON c1.entity = pc.e1
        JOIN cnts c2 ON c2.entity = pc.e2
        CROSS JOIN n
        WHERE pc.pair_cnt >= {min_pairs}
    """


# --------------------------------------------------------- snapshot diff


def kg_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """(subj, pred, obj, status, old_support, new_support) — snapshot
    diff between two KG versions (the Iceberg time-travel /
    changelog-scan shape): ``added`` triples exist only in ``new``,
    ``removed`` only in ``old``, ``changed`` have different integer
    statistics (support or min_k — float max_score is deliberately
    excluded so the diff surface is engine-portable), else
    ``unchanged``. This is the audit table an incremental KG
    maintenance job publishes per snapshot.

    Plan: both sides are triple-grain (dimension-sized relative to
    the corpus); ONE full-outer equi-join on the (subj, pred, obj)
    key — co-located and shuffle-free when both versions live in the
    bucketed triple table the engine's sink writes."""
    o = old.select(
        "subj", "pred", "obj",
        F.col("support").alias("old_support"),
        F.col("min_k").alias("old_min_k"),
    )
    n = new.select(
        "subj", "pred", "obj",
        F.col("support").alias("new_support"),
        F.col("min_k").alias("new_min_k"),
    )
    status = (
        F.when(F.col("old_support").isNull(), F.lit("added"))
        .when(F.col("new_support").isNull(), F.lit("removed"))
        .when(
            (F.col("old_support") != F.col("new_support"))
            | (F.col("old_min_k") != F.col("new_min_k")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return o.join(n, ["subj", "pred", "obj"], "full_outer").select(
        "subj", "pred", "obj", status.alias("status"),
        "old_support", "new_support",
    )


def kg_resolve(kg: DataFrame) -> DataFrame:
    """(subj, pred, obj, support, n_alts, total_support, share) —
    knowledge fusion / truth discovery over the extracted KG: per
    (subj, pred) assertion slot, elect the winning object by evidence
    (support DESC, obj ASC — fully deterministic) and
    report the margin. ``n_alts`` is the number of competing objects
    (> 1 flags a functional-constraint conflict the extraction left
    unresolved — the reference resolves nothing past dedup,
    ``elman-bidirection.py`` emits every scored pair); ``share`` is the
    winner's fraction of the slot's total support, the calibration
    signal a downstream consumer thresholds on.

    Plan: the KG is already at distinct (subj, pred, obj) grain
    (``dedup_triples``), so the whole operator is ONE groupBy with
    fully decomposable aggregates — the argmax rides as
    ``min(struct(-support, obj))`` (map-side combine; negation turns
    the DESC key into a native struct min), alongside
    ``count(*)`` and ``sum(support)``. One exchange at (subj, pred)
    grain over a dimension-sized table; no window, no second pass —
    at 10^12 triples a per-slot window sort would shuffle the same
    data and then sort inside every partition for an answer the
    combiner already had."""
    pick = F.min(
        F.struct(
            (-F.col("support")).alias("ns"),
            F.col("obj").alias("obj"),
        )
    ).alias("w")
    return (
        kg.groupBy("subj", "pred")
        .agg(
            pick,
            F.count(F.lit(1)).alias("n_alts"),
            F.sum("support").alias("total_support"),
        )
        .select(
            "subj",
            "pred",
            F.col("w.obj").alias("obj"),
            (-F.col("w.ns")).alias("support"),
            "n_alts",
            "total_support",
            F.round((-F.col("w.ns")) / F.col("total_support"), 6).alias(
                "share"
            ),
        )
    )


def duck_kg_resolve_over(kg_cte: str) -> str:
    """Oracle for :func:`kg_resolve`: independent window-rank
    formulation of the same election."""
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte}),
        g AS (
            SELECT subj, pred, COUNT(*) AS n_alts,
                   CAST(SUM(support) AS BIGINT) AS total_support
            FROM kg GROUP BY subj, pred
        ),
        w AS (
            SELECT subj, pred, obj, support,
                   ROW_NUMBER() OVER (
                       PARTITION BY subj, pred
                       ORDER BY support DESC, obj ASC
                   ) AS rn
            FROM kg
        )
        SELECT w.subj, w.pred, w.obj, w.support, g.n_alts,
               g.total_support,
               ROUND(w.support * 1.0 / g.total_support, 6) AS share
        FROM w JOIN g USING (subj, pred) WHERE w.rn = 1
    """


def kg_clustering(kg: DataFrame, release: bool = True) -> DataFrame:
    """(node, deg, n_tri, coeff) — local clustering coefficient over
    the KG's undirected distinct edge set: the cohesion signal
    :func:`kg_triangles` points at, completed with degrees —
    ``coeff = 2·n_tri / (deg·(deg−1))`` (0.0 for deg < 2), rounded to
    6 places so the oracle compares exactly.

    Same plan discipline as :func:`kg_triangles` (one persisted
    kg-subtree execution feeds edges, nodes, degrees and wedges; the
    once-per-triangle id-oriented enumeration; KG-sized exchanges
    only) — the degree aggregation shares the persisted edge table, so
    the coefficient costs ONE extra dimension-sized groupBy + a
    node-grain join over the triangle count."""
    from pyspark.storagelevel import StorageLevel

    from ..session import cache_scope, track_cache, track_checkpoint

    def build() -> DataFrame:
        und = track_cache(
            kg.select(
                F.least("subj", "obj").alias("u"),
                F.greatest("subj", "obj").alias("v"),
            )
            .filter(F.col("u") < F.col("v"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        deg = (
            und.select(F.col("u").alias("node"))
            .unionByName(und.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        wedges = (
            und.alias("e1")
            .join(und.alias("e2"), F.col("e1.v") == F.col("e2.u"))
            .select(
                F.col("e1.u").alias("a"),
                F.col("e1.v").alias("b"),
                F.col("e2.v").alias("c"),
            )
        )
        tris = wedges.join(
            und.select(F.col("u").alias("a"), F.col("v").alias("c")),
            ["a", "c"],
        )
        per_node = (
            tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("n_tri"))
        )
        joined = deg.join(per_node, "node", "left").select(
            "node",
            F.col("deg").cast("long").alias("deg"),
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
        )
        return joined.withColumn(
            "coeff",
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0 * F.col("n_tri") / (F.col("deg") * (F.col("deg") - 1)),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )

    if not release:
        return build()
    with cache_scope():
        out = build().localCheckpoint(eager=True)
    return track_checkpoint(out)


def duck_clustering_over(kg_cte: str) -> str:
    """Oracle for :func:`kg_clustering`: the same once-per-triangle
    enumeration + degree in SQL."""
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte}),
        und AS MATERIALIZED (
            SELECT DISTINCT LEAST(subj, obj) AS u, GREATEST(subj, obj) AS v
            FROM kg WHERE LEAST(subj, obj) < GREATEST(subj, obj)
        ),
        deg AS (
            SELECT node, COUNT(*) AS deg FROM (
                SELECT u AS node FROM und UNION ALL SELECT v FROM und
            ) GROUP BY node
        ),
        tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM und e1
            JOIN und e2 ON e2.u = e1.v
            JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        pn AS (
            SELECT node, COUNT(*) AS n_tri FROM (
                SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            ) GROUP BY node
        )
        SELECT deg.node, CAST(deg.deg AS BIGINT) AS deg,
               CAST(COALESCE(pn.n_tri, 0) AS BIGINT) AS n_tri,
               CASE WHEN deg.deg >= 2
                    THEN ROUND(2.0 * COALESCE(pn.n_tri, 0)
                               / (deg.deg * (deg.deg - 1)), 6)
                    ELSE 0.0 END AS coeff
        FROM deg LEFT JOIN pn USING (node)
    """


# ------------------------------------------------- personalized PageRank

PPR_N_SEEDS = 3
PPR_ITERS = 10


def kg_ppr(
    kg: DataFrame,
    iters: int = PPR_ITERS,
    n_seeds: int = PPR_N_SEEDS,
    release: bool = True,
    incore_max_edges: int | None = None,
) -> DataFrame:
    """(node, ppr) — deterministic fixed-point PERSONALIZED PageRank
    over the KG's distinct (subj → obj) edges: restart mass returns
    only to the seed set (the ``n_seeds`` highest-out-degree hubs,
    ties to the lexicographically smallest node — deterministic in
    both engines), so scores measure proximity to the KG's core
    entities rather than global centrality. This is the entity-
    recommendation / related-entity primitive (`what is near the
    hubs`) that global ``kg_pagerank`` cannot express — at 100 TB the
    seed set is a user query, and the per-iteration shape is identical:
    one join on src, one aggregation keyed on dst.

    Same integer fixed-point discipline as ``kg_pagerank`` (micro-unit
    scale, damping 17/20, floor division — no float summation order to
    drift between engines), same hybrid plan (ONE collect + the
    bit-identical in-core twin below ``INCORE_MAX_EDGES`` distinct
    edges, per-iteration ``localCheckpoint`` lineage truncation above),
    same eager-release cache discipline."""
    from pyspark.storagelevel import StorageLevel

    from ..session import (
        cache_scope,
        track_cache,
        track_checkpoint,
        unpersist_checkpoint,
    )

    def loop() -> DataFrame:
        edges = track_cache(
            kg.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        thr = (
            graph_incore.INCORE_MAX_EDGES
            if incore_max_edges is None
            else incore_max_edges
        )
        if edges.count() <= thr:
            rows = graph_incore.ppr(
                [(r.src, r.dst) for r in edges.collect()],
                iters,
                PAGERANK_SCALE,
                n_seeds,
            )
            return local_frame(kg.sparkSession, rows, "node string, ppr bigint")
        outdeg = track_cache(
            edges.groupBy("src").agg(F.count("*").alias("deg"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # seed set: dimension-tiny (n_seeds rows) — rides every
        # iteration as a broadcast flag on the node table
        seeds = (
            outdeg.orderBy(F.col("deg").desc(), F.col("src").asc())
            .limit(n_seeds)
            .select(F.col("src").alias("node"))
        )
        nodes = track_cache(
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
            .join(
                F.broadcast(seeds.withColumn("is_seed", F.lit(1))),
                "node",
                "left",
            )
            .select("node", F.coalesce("is_seed", F.lit(0)).alias("is_seed"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        k = n_seeds
        base = (PAGERANK_SCALE * 15) // (100 * k)
        pr = nodes.select(
            "node",
            (F.col("is_seed") * F.lit(PAGERANK_SCALE // k)).cast("long").alias(
                "ppr"
            ),
        )
        prev = None
        for _i in range(iters):
            contrib = (
                edges.join(pr.withColumnRenamed("node", "src"), "src")
                .join(outdeg, "src")
                .select("dst", F.floor(F.col("ppr") / F.col("deg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
            pr = (
                nodes.join(
                    contrib.withColumnRenamed("dst", "node"), "node", "left"
                )
                .select(
                    "node",
                    (
                        F.col("is_seed") * F.lit(base)
                        + F.floor(
                            F.lit(17)
                            * F.coalesce(F.col("s"), F.lit(0))
                            / F.lit(20)
                        )
                    ).cast("long").alias("ppr"),
                )
                .localCheckpoint(eager=release)
            )
            if release:
                if prev is not None:
                    unpersist_checkpoint(prev)
                prev = pr
        return pr

    if not release:
        return loop()
    with cache_scope():
        out = loop()
    return _track_result(out)


def duck_ppr_over(
    kg_cte: str, iters: int = PPR_ITERS, n_seeds: int = PPR_N_SEEDS
) -> str:
    """Oracle: the personalized recurrence unrolled as chained CTEs
    (same portable form as :func:`duck_pagerank_over`), seed choice
    mirrored as the top-``n_seeds`` (deg DESC, src ASC) rows."""
    s = PAGERANK_SCALE
    ctes = [
        f"kg AS MATERIALIZED ({kg_cte})",
        "pe AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst FROM kg)",
        "pn0 AS MATERIALIZED (SELECT DISTINCT node FROM (SELECT src AS node FROM pe UNION ALL SELECT dst AS node FROM pe))",
        "pd AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM pe GROUP BY src)",
        f"ps AS MATERIALIZED (SELECT src AS node FROM pd ORDER BY deg DESC, src ASC LIMIT {n_seeds})",
        "pn AS MATERIALIZED (SELECT n.node, CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed FROM pn0 n LEFT JOIN ps s ON s.node = n.node)",
        f"pr0 AS (SELECT node, is_seed * ({s} // {n_seeds}) AS ppr FROM pn)",
    ]
    base = (s * 15) // (100 * n_seeds)
    for i in range(iters):
        ctes.append(f"""
        pr{i + 1} AS (
            SELECT pn.node,
                   pn.is_seed * {base}
                   + (17 * COALESCE(c.s, 0)) // 20 AS ppr
            FROM pn
            LEFT JOIN (
                SELECT e.dst, SUM(p.ppr // d.deg) AS s
                FROM pe e
                JOIN pr{i} p ON p.node = e.src
                JOIN pd d ON d.src = e.src
                GROUP BY e.dst
            ) c ON c.dst = pn.node
        )""")
    return (
        "WITH RECURSIVE "
        + ", ".join(ctes)
        + f" SELECT node, CAST(ppr AS BIGINT) AS ppr FROM pr{iters}"
    )


# ------------------------------------------------------------- k-truss

TRUSS_K = 3
TRUSS_ROUNDS = 5


def kg_ktruss(
    kg: DataFrame,
    k: int = TRUSS_K,
    rounds: int = TRUSS_ROUNDS,
    release: bool = True,
    incore_max_edges: int | None = None,
) -> DataFrame:
    """(u, v, support) — the undirected KG edges surviving ``rounds``
    synchronous k-truss peel rounds (Cohen 2008), with their triangle
    support re-measured inside the surviving subgraph. The truss is the
    EDGE-cohesion complement of ``kg_kcore``'s node census: an edge
    survives only while it closes ≥ k-2 triangles, so pendant chains
    and star spokes peel away even when their endpoints are high-degree
    — the signal that separates genuinely interlinked entity clusters
    from hub-dominated trivia. ``k`` must be ≥ 3 (at k-2 ≥ 1 the
    per-round inner triangle join IS the filter).

    Fixed ``rounds`` (not convergence detection) keeps the state
    portable to SQL — the ``kg_kcore``/``kg_communities`` contract.

    Plan: per round ONE triangle-support aggregation — the current
    (shrinking) undirected edge set joins its symmetric closure twice
    (x: wedges at u, y: closing edges at v), groupBy edge; this is the
    standard distributed triangle join, shuffle-keyed on the wedge
    endpoint, AQE-splittable. Lineage truncated per round with the
    eager ``localCheckpoint`` + previous-round release discipline;
    below ``INCORE_MAX_EDGES`` distinct edges the identical peel runs
    in-core (:func:`graph_incore.ktruss`, bit-equal by construction)."""
    from pyspark.storagelevel import StorageLevel

    from ..session import (
        cache_scope,
        track_cache,
        track_checkpoint,
        unpersist_checkpoint,
    )

    def sym(und: DataFrame) -> DataFrame:
        return und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
            und.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )

    def supports(und: DataFrame) -> DataFrame:
        # support(u,v) = |N(u) ∩ N(v)| = wedges u—w closed by v—w
        return (
            und.join(sym(und).alias("x"), F.col("x.a") == F.col("u"))
            .join(
                sym(und).alias("y"),
                (F.col("y.a") == F.col("v")) & (F.col("y.b") == F.col("x.b")),
            )
            .groupBy("u", "v")
            .agg(F.count("*").alias("support"))
        )

    def loop() -> DataFrame:
        und = track_cache(
            kg.filter(F.col("subj") != F.col("obj"))
            .select(
                F.least("subj", "obj").alias("u"),
                F.greatest("subj", "obj").alias("v"),
            )
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        thr = (
            graph_incore.INCORE_MAX_EDGES
            if incore_max_edges is None
            else incore_max_edges
        )
        if und.count() <= thr:
            rows = graph_incore.ktruss(
                [(r.u, r.v) for r in und.collect()], k, rounds
            )
            return local_frame(
                kg.sparkSession,
                rows,
                T.StructType(
                    [
                        T.StructField("u", T.StringType(), True),
                        T.StructField("v", T.StringType(), True),
                        T.StructField("support", T.LongType(), False),
                    ]
                ),
            )
        prev = None
        cur = und
        for _i in range(rounds):
            cur = (
                supports(cur)
                .filter(F.col("support") >= k - 2)
                .select("u", "v")
                .localCheckpoint(eager=release)
            )
            if release:
                if prev is not None:
                    unpersist_checkpoint(prev)
                prev = cur
        # final support re-measured on the survivors; edges whose last
        # triangle partner peeled in the final round keep support 0.
        # Materialized as an eager checkpoint (the _track_result
        # contract) so the last round's checkpoint can be freed here.
        final = (
            cur.join(supports(cur).withColumnRenamed("support", "s"), ["u", "v"], "left")
            .select("u", "v", F.coalesce("s", F.lit(0)).cast("long").alias("support"))
            .localCheckpoint(eager=release)
        )
        if release and prev is not None:
            unpersist_checkpoint(prev)
        return final

    if not release:
        return loop()
    with cache_scope():
        out = loop()
    return _track_result(out)


def duck_ktruss_over(
    kg_cte: str, k: int = TRUSS_K, rounds: int = TRUSS_ROUNDS
) -> str:
    """Oracle: the same peel unrolled as chained CTEs — per round the
    symmetric closure + wedge-closing triangle join + HAVING filter."""
    ctes = [
        f"kg AS MATERIALIZED ({kg_cte})",
        """e0 AS MATERIALIZED (
            SELECT DISTINCT LEAST(subj, obj) AS u, GREATEST(subj, obj) AS v
            FROM kg WHERE subj <> obj
        )""",
    ]
    for i in range(rounds):
        ctes.append(f"""
        s{i} AS MATERIALIZED (
            SELECT u AS a, v AS b FROM e{i}
            UNION ALL SELECT v AS a, u AS b FROM e{i}
        )""")
        ctes.append(f"""
        e{i + 1} AS MATERIALIZED (
            SELECT e.u, e.v
            FROM e{i} e
            JOIN s{i} x ON x.a = e.u
            JOIN s{i} y ON y.a = e.v AND y.b = x.b
            GROUP BY e.u, e.v
            HAVING COUNT(*) >= {k - 2}
        )""")
    n = rounds
    ctes.append(f"""
        sf AS MATERIALIZED (
            SELECT u AS a, v AS b FROM e{n}
            UNION ALL SELECT v AS a, u AS b FROM e{n}
        )""")
    ctes.append(f"""
        sup AS (
            SELECT e.u, e.v, COUNT(*) AS s
            FROM e{n} e
            JOIN sf x ON x.a = e.u
            JOIN sf y ON y.a = e.v AND y.b = x.b
            GROUP BY e.u, e.v
        )""")
    return (
        "WITH "
        + ", ".join(ctes)
        + f""" SELECT e.u, e.v, CAST(COALESCE(p.s, 0) AS BIGINT) AS support
          FROM e{n} e LEFT JOIN sup p ON p.u = e.u AND p.v = e.v"""
    )


def kg_condense(
    kg: DataFrame,
    iters: int = COMM_ITERS,
    release: bool = True,
    incore_max_edges: int | None = None,
) -> DataFrame:
    """(c_src, c_dst, n_edges) — the community-contracted SUPERGRAPH:
    every KG edge re-keyed through its endpoints' ``kg_communities``
    labels and counted at community grain. Rows with ``c_src ==
    c_dst`` measure intra-community density; the rest are the
    inter-community backbone — the coarsened KG a consumer renders or
    rolls up when the entity-grain graph is too large to look at
    (10^8 entities condense to the community dimension).

    Plan: the label table is node-DIMENSION-sized, so the two re-key
    joins broadcast, and the contraction itself is ONE map-side-
    combinable groupBy over the distinct edge set. The LPA rounds
    inside ``kg_communities`` dominate; condensing adds no
    corpus-grain work."""
    comm = kg_communities(
        kg, iters, release=release, incore_max_edges=incore_max_edges
    )
    edges = (
        kg.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
    )
    return (
        edges.join(
            F.broadcast(
                comm.select(
                    F.col("node").alias("src"), F.col("community").alias("c_src")
                )
            ),
            "src",
        )
        .join(
            F.broadcast(
                comm.select(
                    F.col("node").alias("dst"), F.col("community").alias("c_dst")
                )
            ),
            "dst",
        )
        .groupBy("c_src", "c_dst")
        .agg(F.count("*").alias("n_edges"))
    )


def duck_condense_over(kg_cte: str, iters: int = COMM_ITERS) -> str:
    """Oracle: distinct edges re-keyed through the unrolled-LPA
    community labels (``duck_communities_over``), counted at community
    grain. The kg subtree is embedded twice (edges + labels) — oracle
    clarity over oracle speed."""
    return f"""
        WITH eds AS MATERIALIZED (
            SELECT DISTINCT subj AS src, obj AS dst FROM ({kg_cte})
        ),
        comm AS MATERIALIZED ({duck_communities_over(kg_cte, iters)})
        SELECT cs.community AS c_src, cd.community AS c_dst,
               COUNT(*) AS n_edges
        FROM eds e
        JOIN comm cs ON cs.node = e.src
        JOIN comm cd ON cd.node = e.dst
        GROUP BY 1, 2
    """


# ------------------------------------------------------- edit-distance ER

EDITSIM_MAX_DIST = 2
EDITSIM_MAX_POST = 200  # df cap on blocking bigrams (boilerplate guard)


def surface_editsim(
    surfaces: DataFrame,
    max_dist: int = EDITSIM_MAX_DIST,
    max_post: int = EDITSIM_MAX_POST,
) -> DataFrame:
    """(a, b, dist) — DISTINCT surface pairs within Levenshtein
    distance ``max_dist`` (typo/variant detection): the EDIT-distance
    leg of entity resolution next to ``similarity_edges``' bigram-
    Jaccard leg — Jaccard catches word-level variants, edit distance
    catches character-level typos Jaccard's set view underweights.

    Candidates come from a shared-bigram equi-join over the DISTINCT
    surface dimension (for length ≥ 6, two edits destroy at most four
    of the ≥ 5 bigrams, so a shared bigram is GUARANTEED; shorter
    strings may need an extra short-string block in a deployment —
    documented recall caveat, same class as the MinHash banding
    trade). Bigrams hotter than ``max_post`` surfaces are dropped from
    blocking (broadcast anti-join — the boilerplate guard every
    blocked join here carries). Verification is native
    ``levenshtein`` — JVM-side, identical unit-cost definition in
    DuckDB."""
    from pyspark.storagelevel import StorageLevel

    from ..session import track_cache

    surf = track_cache(
        surfaces.select(F.col("surface").cast("string"))
        .filter(F.length("surface") >= 2)
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bg = surf.select("surface", F.explode(_bigrams(F.col("surface"))).alias("bg"))
    hot = bg.groupBy("bg").agg(F.count("*").alias("df")).filter(
        F.col("df") > max_post
    )
    elig = bg.join(F.broadcast(hot), "bg", "left_anti")
    cand = (
        elig.alias("x")
        .join(elig.alias("y"), "bg")
        .filter(F.col("x.surface") < F.col("y.surface"))
        .select(
            F.col("x.surface").alias("a"), F.col("y.surface").alias("b")
        )
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("a", "b").cast("int"))
        .filter(F.col("dist") <= max_dist)
        .select("a", "b", "dist")
    )


def duck_surface_editsim(
    surfaces_cte: str,
    max_dist: int = EDITSIM_MAX_DIST,
    max_post: int = EDITSIM_MAX_POST,
) -> str:
    """Oracle over a CTE producing (surface): identical bigram
    blocking, df cap, and native levenshtein verification."""
    return f"""
        WITH surf AS MATERIALIZED (
            SELECT DISTINCT CAST(surface AS VARCHAR) AS surface
            FROM ({surfaces_cte}) WHERE LENGTH(surface) >= 2
        ),
        bg AS (
            SELECT surface, UNNEST(list_distinct(
                CASE WHEN LENGTH(lower(surface)) >= 2
                     THEN list_transform(range(1, LENGTH(lower(surface))),
                                         i -> substr(lower(surface), i, 2))
                     ELSE [lower(surface)] END)) AS bg
            FROM surf
        ),
        hot AS (SELECT bg FROM bg GROUP BY bg HAVING COUNT(*) > {max_post}),
        elig AS (SELECT * FROM bg WHERE bg NOT IN (SELECT bg FROM hot)),
        cand AS (
            SELECT DISTINCT x.surface AS a, y.surface AS b
            FROM elig x JOIN elig y ON x.bg = y.bg AND x.surface < y.surface
        )
        SELECT a, b, CAST(levenshtein(a, b) AS INTEGER) AS dist
        FROM cand WHERE levenshtein(a, b) <= {max_dist}
    """


# ---------------------------------------------------------- provenance

def kg_provenance(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """(subj, pred, obj, n_convs, first_conv, last_conv) — provenance
    audit of the materialized KG: how many DISTINCT conversations
    support each canonical triple and the lexicographic first/last
    supporting conv_id. ``kg``'s ``support`` counts candidate
    mentions; a triple backed by 50 mentions inside ONE conversation
    and one backed by 50 conversations are very different evidence —
    this is the column a KG consumer audits before trusting an edge,
    and the drill-back key (conv ids) for human review.

    Plan: the same broadcast canonical rekey as ``materialize_kg``
    (``rekey_canonical``) and ONE groupBy at triple grain; countDistinct
    over conv_id is exact (no sketch) because the dedup happens inside
    the aggregate's own shuffle — no extra exchange vs ``kg``."""
    return rekey_canonical(triples, canon).groupBy("subj", "pred", "obj").agg(
        F.countDistinct("conv_id").alias("n_convs"),
        F.min("conv_id").alias("first_conv"),
        F.max("conv_id").alias("last_conv"),
    )


# ------------------------------------- edge embeddedness / weak ties

def kg_bridges(kg: DataFrame, release: bool = True) -> DataFrame:
    """(u, v, n_common, is_bridge) — per-EDGE embeddedness census over
    the KG's undirected entity graph: for every edge, the number of
    common neighbours of its endpoints. Edges with zero common
    neighbours are LOCAL BRIDGES (Granovetter's weak ties) — the only
    routes between otherwise-separate knowledge neighbourhoods, i.e.
    exactly the edges whose loss disconnects context and whose presence
    a KG curator audits hardest. Complements ``kg_triangles`` (node
    grain) and ``kg_node_sim`` (candidate-pair grain) at EDGE grain.

    Plan: the id-oriented wedge join (identical shape and skew notes as
    ``kg_triangles``: at billion-edge scale orient by degree; AQE
    skew-split covers the residual hub) generates common-neighbour
    pairs, which immediately semi-restrict to the edge set BEFORE the
    count aggregation — never pair-grain beyond the wedge fan-out. One
    final broadcast-free left join puts zero counts on bridge edges."""
    from pyspark.storagelevel import StorageLevel

    from ..session import cache_scope, track_cache, track_checkpoint

    def build() -> DataFrame:
        base = track_cache(
            kg.select("subj", "obj").persist(StorageLevel.MEMORY_AND_DISK)
        )
        und = track_cache(
            base.select(
                F.least("subj", "obj").alias("u"),
                F.greatest("subj", "obj").alias("v"),
            )
            .filter(F.col("u") < F.col("v"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        adj = und.select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ).unionByName(
            und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
        # common neighbours x of (a, b): (a, x) and (b, x) both edges
        wedges = (
            adj.alias("x")
            .join(adj.alias("y"), F.col("x.dst") == F.col("y.dst"))
            .filter(F.col("x.src") < F.col("y.src"))
            .select(F.col("x.src").alias("u"), F.col("y.src").alias("v"))
        )
        common = (
            wedges.join(und, ["u", "v"])  # edge restriction pre-agg
            .groupBy("u", "v")
            .agg(F.count("*").alias("n_common"))
        )
        return und.join(common, ["u", "v"], "left").select(
            "u",
            "v",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            (F.coalesce("n_common", F.lit(0)) == 0).alias("is_bridge"),
        )

    if not release:
        return build()
    with cache_scope():
        out = build().localCheckpoint(eager=True)
    return track_checkpoint(out)


def duck_bridges_over(kg_cte: str) -> str:
    """Oracle: the same edge-restricted common-neighbour count in SQL."""
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte}),
        und AS MATERIALIZED (
            SELECT DISTINCT LEAST(subj, obj) AS u, GREATEST(subj, obj) AS v
            FROM kg WHERE LEAST(subj, obj) < GREATEST(subj, obj)
        ),
        adj AS (
            SELECT u AS src, v AS dst FROM und
            UNION ALL SELECT v, u FROM und
        ),
        common AS (
            SELECT x.src AS u, y.src AS v, COUNT(*) AS n_common
            FROM adj x
            JOIN adj y ON y.dst = x.dst AND x.src < y.src
            JOIN und e ON e.u = x.src AND e.v = y.src
            GROUP BY x.src, y.src
        )
        SELECT und.u, und.v,
               CAST(COALESCE(common.n_common, 0) AS BIGINT) AS n_common,
               COALESCE(common.n_common, 0) = 0 AS is_bridge
        FROM und LEFT JOIN common USING (u, v)
    """


# ----------------------------------- degree assortativity/reciprocity

def kg_assortativity(kg: DataFrame) -> DataFrame:
    """One row (n_nodes, n_edges, assort_e6, recip_e6) — whole-graph
    mixing summary of the materialized KG. ``assort_e6`` is the degree
    assortativity coefficient (Newman 2002): the Pearson correlation
    between endpoint degrees over the undirected edge set, each edge
    contributing both orientations. Because both marginals are then
    identical, r = (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²) EXACTLY — no
    square root — so the whole statistic is integer arithmetic and the
    e6 fixed-point is bit-stable cross-engine. ``recip_e6`` is the
    share of DIRECTED kg edges whose reverse edge also exists
    (extraction-symmetry audit). Hub-dominated KGs are disassortative
    (r < 0); a sudden assortativity shift between snapshots flags an
    extraction regression.

    Plan: degree table (node grain) broadcasts back onto the directed
    pair list; all five sufficient statistics ride ONE global
    aggregation — map-side combined, one row out, no corpus-sized
    shuffle. Reciprocity is a self-equi-join on the (tiny) distinct
    directed edge set. At 10^12-edge scale the int64 headroom of
    m·Σx² forces the sums into DECIMAL(38,0) — a type swap, not a plan
    change (noted per SURVEY §6 overflow policy)."""
    base = kg.select("subj", "obj")
    directed = base.filter(F.col("subj") != F.col("obj")).distinct()
    und = (
        base.select(
            F.least("subj", "obj").alias("u"),
            F.greatest("subj", "obj").alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    adj = und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = adj.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    pairs = adj.join(
        F.broadcast(deg.select(F.col("node").alias("src"), F.col("deg").alias("dx"))),
        "src",
    ).join(
        F.broadcast(deg.select(F.col("node").alias("dst"), F.col("deg").alias("dy"))),
        "dst",
    )
    stats = pairs.agg(
        F.count("*").alias("m2"),
        F.sum("dx").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    recip = (
        directed.alias("a")
        .join(
            directed.select(
                F.col("obj").alias("subj"), F.col("subj").alias("obj")
            ).alias("b"),
            ["subj", "obj"],
        )
        .agg(F.count("*").alias("n_recip"))
    )
    n_dir = directed.agg(F.count("*").alias("n_dir"))
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = und.agg(F.count("*").alias("n_edges"))
    # pure integer arithmetic end-to-end: Spark `div` and DuckDB `//`
    # both truncate toward zero, so the e6 fixed-point (which can be
    # NEGATIVE for disassortative graphs) is bit-identical cross-engine
    return (
        stats.crossJoin(recip)
        .crossJoin(n_dir)
        .crossJoin(n_nodes)
        .crossJoin(n_edges)
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.expr(
                "CASE WHEN m2 * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT)"
                " ELSE ((m2 * sxy - sx * sx) * 1000000)"
                "      div (m2 * sxx - sx * sx) END"
            )
            .cast("long")
            .alias("assort_e6"),
            F.expr("(n_recip * 1000000) div n_dir").cast("long").alias("recip_e6"),
        )
    )


def duck_assortativity_over(kg_cte: str) -> str:
    """Oracle: identical integer sufficient statistics in SQL."""
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte}),
        und AS MATERIALIZED (
            SELECT DISTINCT LEAST(subj, obj) AS u, GREATEST(subj, obj) AS v
            FROM kg WHERE LEAST(subj, obj) < GREATEST(subj, obj)
        ),
        adj AS (
            SELECT u AS src, v AS dst FROM und
            UNION ALL SELECT v, u FROM und
        ),
        deg AS (SELECT src AS node, COUNT(*) AS deg FROM adj GROUP BY src),
        st AS (
            SELECT COUNT(*) AS m2, SUM(a.deg) AS sx,
                   SUM(a.deg * a.deg) AS sxx, SUM(a.deg * b.deg) AS sxy
            FROM adj
            JOIN deg a ON a.node = adj.src
            JOIN deg b ON b.node = adj.dst
        ),
        dir AS (SELECT DISTINCT subj, obj FROM kg WHERE subj <> obj),
        rc AS (
            SELECT COUNT(*) AS n_recip
            FROM dir a JOIN dir b ON b.subj = a.obj AND b.obj = a.subj
        )
        SELECT (SELECT COUNT(*) FROM deg)::BIGINT AS n_nodes,
               (SELECT COUNT(*) FROM und)::BIGINT AS n_edges,
               CAST(CASE WHEN m2 * sxx - sx * sx = 0 THEN 0
                    ELSE ((m2 * sxy - sx * sx) * 1000000)
                         // (m2 * sxx - sx * sx)
               END AS BIGINT) AS assort_e6,
               CAST(rc.n_recip * 1000000 // (SELECT COUNT(*) FROM dir)
                    AS BIGINT) AS recip_e6
        FROM st, rc
    """


# --------------------------------------------- HyperANF distance sketch

HYPERANF_ROUNDS = 3


def kg_hyperanf(kg: DataFrame, rounds: int = HYPERANF_ROUNDS) -> DataFrame:
    """(node, d, n_regs, sum_rank) — HyperANF (Boldi, Rosa & Vigna,
    WWW 2011) over the KG's undirected entity graph: every node keeps a
    sparse HyperLogLog register set describing its distance-≤d ball;
    one round of max-merging each node's registers with its
    neighbours' advances d by 1. After D rounds each node's register
    set estimates |ball(v, D)| — the neighbourhood function, i.e. how
    fast knowledge "spreads" from each entity, and (aggregated) the
    graph's effective diameter, at O(E·D) work instead of
    all-pairs-BFS O(V·E).

    The driver-checked parity surface is the INTEGER register state
    itself per (node, d): register count and rank sum — the float
    Flajolet estimate (``sketch.hll_estimate``) sits on top in pytest,
    exactly the split ``hll_registers``/``events_hll`` pins. Hash/
    bucket/rank definitions are shared with the corpus HLL
    (``hashing.spark_h15``; p=6, 54 rest bits).

    Plan: per round ONE (node,bucket)-grain shuffle — the adjacency
    equi-join fans each register to its neighbours and the groupBy
    max-merges; state stays ≤ V·min(64, |ball|) rows. Edge list and
    per-round state persist once; ``localCheckpoint`` truncates the
    iterative lineage (same shape as ``kg_pagerank``). At 10^12 turns
    HyperANF is THE way to get distance statistics — exact BFS from
    every node is quadratic and dead."""
    from pyspark.storagelevel import StorageLevel

    from ..hashing import spark_h15
    from ..session import cache_scope, track_cache, track_checkpoint
    from .sketch import HLL_BUCKETS, HLL_REST_BITS

    def build() -> DataFrame:
        base = track_cache(
            kg.select("subj", "obj").persist(StorageLevel.MEMORY_AND_DISK)
        )
        und = base.select(
            F.least("subj", "obj").alias("u"),
            F.greatest("subj", "obj").alias("v"),
        ).filter(F.col("u") < F.col("v")).distinct()
        adj = track_cache(
            und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
            .unionByName(
                und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        nodes = base.select(F.col("subj").alias("node")).unionByName(
            base.select(F.col("obj").alias("node"))
        ).distinct()
        h = spark_h15(F.col("node"))
        rest = F.shiftright(h, 6)
        rank = F.when(rest == 0, F.lit(HLL_REST_BITS + 1)).otherwise(
            F.lit(HLL_REST_BITS + 1) - F.length(F.bin(rest))
        )
        state = nodes.select(
            "node",
            (h % HLL_BUCKETS).cast("int").alias("bucket"),
            rank.cast("int").alias("rank"),
        ).localCheckpoint(eager=True)

        def summarize(st: DataFrame, d: int) -> DataFrame:
            return st.groupBy("node").agg(
                F.lit(d).cast("int").alias("d"),
                F.count("*").cast("long").alias("n_regs"),
                F.sum("rank").cast("long").alias("sum_rank"),
            )

        out = summarize(state, 0)
        for d in range(1, rounds + 1):
            fanned = adj.join(
                state.withColumnRenamed("node", "dst"), "dst"
            ).select(F.col("src").alias("node"), "bucket", "rank")
            state = (
                state.unionByName(fanned)
                .groupBy("node", "bucket")
                .agg(F.max("rank").alias("rank"))
                .localCheckpoint(eager=True)
            )
            out = out.unionByName(summarize(state, d))
        return out.select("node", "d", "n_regs", "sum_rank")

    with cache_scope():
        result = build().localCheckpoint(eager=True)
    return track_checkpoint(result)


def duck_hyperanf_over(kg_cte: str, rounds: int = HYPERANF_ROUNDS) -> str:
    """Oracle: the same register fixpoint with the rounds UNROLLED as
    plain CTEs (r0..rD) — an independent relational formulation of the
    engine's iterative max-merge."""
    from ..hashing import duck_h15
    from .sketch import HLL_BUCKETS, HLL_REST_BITS

    h = duck_h15("node")
    ctes = [
        f"kg AS MATERIALIZED ({kg_cte})",
        """und AS MATERIALIZED (
            SELECT DISTINCT LEAST(subj, obj) AS u, GREATEST(subj, obj) AS v
            FROM kg WHERE LEAST(subj, obj) < GREATEST(subj, obj)
        )""",
        """adj AS (
            SELECT u AS src, v AS dst FROM und
            UNION ALL SELECT v, u FROM und
        )""",
        """nd AS (SELECT DISTINCT node FROM (
            SELECT subj AS node FROM kg UNION ALL SELECT obj FROM kg
        ))""",
        f"""r0 AS (
            SELECT node,
                   CAST(({h}) % {HLL_BUCKETS} AS INT) AS bucket,
                   CAST(CASE WHEN ({h}) // {HLL_BUCKETS} = 0
                             THEN {HLL_REST_BITS + 1}
                             ELSE {HLL_REST_BITS + 1}
                                  - length(bin(({h}) // {HLL_BUCKETS}))
                        END AS INT) AS rnk
            FROM nd
        )""",
    ]
    for t in range(rounds):
        ctes.append(f"""r{t + 1} AS (
            SELECT node, bucket, MAX(rnk) AS rnk FROM (
                SELECT node, bucket, rnk FROM r{t}
                UNION ALL
                SELECT a.src AS node, r.bucket, r.rnk
                FROM adj a JOIN r{t} r ON r.node = a.dst
            ) GROUP BY node, bucket
        )""")
    sels = [
        f"""SELECT node, CAST({d} AS INT) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n_regs,
                   CAST(SUM(rnk) AS BIGINT) AS sum_rank
            FROM r{d} GROUP BY node"""
        for d in range(rounds + 1)
    ]
    return (
        "WITH RECURSIVE "
        + ", ".join(ctes)
        + " "
        + " UNION ALL ".join(sels)
    )


# ------------------------------------- predicate functionality census


def kg_functionality(kg: DataFrame) -> DataFrame:
    """(pred, n_edges, n_subj, n_obj, func_e6, inv_func_e6) —
    per-predicate functionality census over the materialized KG
    (Suchanek et al., PARIS/YAGO): ``func = |distinct subjects| /
    |edges|`` (1.0 ⇔ every subject has exactly one object — the
    predicate behaves like a key) and its inverse for objects, both as
    half-up e6 integers. The schema-induction signal that drives
    identity resolution: a high-functionality predicate with two
    objects for one subject is evidence of a duplicate entity, so this
    table is the tuning input for ``kg_resolve``.

    Plan: one predicate-grain aggregation with two distinct counts
    (Spark expands the multi-distinct into two partial aggregations —
    still map-side combinable per distinct key, output |preds| rows).
    Nothing after the scan is corpus-scale."""
    return kg.groupBy("pred").agg(
        F.count("*").alias("n_edges"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
        F.expr(
            "(count(distinct subj) * 1000000 + count(*) div 2)"
            " div count(*)"
        ).alias("func_e6"),
        F.expr(
            "(count(distinct obj) * 1000000 + count(*) div 2)"
            " div count(*)"
        ).alias("inv_func_e6"),
    )


def duck_functionality_over(kg_cte: str) -> str:
    """Oracle: the same distinct-count census in SQL."""
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte})
        SELECT pred, COUNT(*) AS n_edges,
               COUNT(DISTINCT subj) AS n_subj,
               COUNT(DISTINCT obj) AS n_obj,
               CAST((COUNT(DISTINCT subj) * 1000000 + COUNT(*) // 2)
                    // COUNT(*) AS BIGINT) AS func_e6,
               CAST((COUNT(DISTINCT obj) * 1000000 + COUNT(*) // 2)
                    // COUNT(*) AS BIGINT) AS inv_func_e6
        FROM kg GROUP BY pred
    """


# ------------------------------------------- degree distribution census


def kg_degree_hist(kg: DataFrame) -> DataFrame:
    """(degree, n_nodes) — undirected distinct-neighbour degree
    distribution of the materialized KG: the first chart anyone draws
    of a graph, the heavy-tail witness that decides whether hub-keyed
    joins (triangles, wedges, walks) need degree-orientation/salting,
    and the input to any power-law fit. Self-loops are excluded, edge
    multiplicity collapses (distinct neighbours).

    Plan: dedup to undirected edge set (one exchange at edge grain),
    explode both directions, one node-grain count, then one count onto
    the DEGREE grid. Nothing after the edge dedup exceeds node grain."""
    und = (
        kg.select(
            F.least("subj", "obj").alias("u"),
            F.greatest("subj", "obj").alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    directed = und.select(F.col("u").alias("node")).unionAll(
        und.select(F.col("v").alias("node"))
    )
    deg = directed.groupBy("node").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


def duck_degree_hist_over(kg_cte: str) -> str:
    """Oracle: the same undirected dedup + two-level count."""
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte}),
        und AS (
            SELECT DISTINCT LEAST(subj, obj) AS u, GREATEST(subj, obj) AS v
            FROM kg WHERE LEAST(subj, obj) < GREATEST(subj, obj)
        ),
        deg AS (
            SELECT node, COUNT(*) AS degree FROM (
                SELECT u AS node FROM und
                UNION ALL SELECT v FROM und
            ) GROUP BY node
        )
        SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
    """


# ------------------------------------------ component-size distribution


def kg_component_sizes(kg: DataFrame) -> DataFrame:
    """(size, n_components) — connected-component size distribution of
    the KG's undirected entity graph: the knowledge-island census.
    One giant component plus dust is healthy extraction; many mid-size
    islands mean the linker is under-merging (aliases not resolved);
    a single all-node component can flag over-merging. Complements
    ``kg_components`` (node grain) the way ``kg_degree_hist``
    complements the degree columns.

    Plan: the KG is a DIMENSION table (triples, not corpus rows), so
    it is eagerly truncated ONCE up front — the component machinery
    issues several actions (node count, union-find collects) and each
    would otherwise re-derive the whole extraction pipeline (measured:
    116 s → ~17 s at sf1). Then the audited component machinery
    (driver union-find / large-small-star) and two monotonically
    shrinking aggregations (component-grain count → size-grid
    count)."""
    kg = _track_result(kg.localCheckpoint(eager=True))
    comp = kg_components(kg)
    sizes = comp.groupBy("component").agg(F.count("*").alias("size"))
    return sizes.groupBy("size").agg(F.count("*").alias("n_components"))


def duck_component_sizes_over(kg_cte: str) -> str:
    """Oracle: the shared component CTE re-aggregated to the size
    grid."""
    inner = duck_components_cte()
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte}),
        cc_nodes AS (SELECT DISTINCT surface FROM (
            SELECT subj AS surface FROM kg UNION ALL SELECT obj FROM kg
        )),
        cc_edges AS (SELECT DISTINCT subj AS src, obj AS dst FROM kg
                     WHERE subj <> obj),
        comp AS ({inner}),
        sizes AS (
            SELECT component, COUNT(*) AS size FROM comp GROUP BY 1
        )
        SELECT size, COUNT(*) AS n_components FROM sizes GROUP BY 1
    """


# ------------------------------------------------- edge reciprocity


def kg_reciprocity(kg: DataFrame) -> DataFrame:
    """(pred, n_edges, n_recip, recip_e6) — directed-edge reciprocity
    of the KG, per predicate plus an ``ALL`` rollup row: the fraction
    of distinct (subj, pred, obj) edges whose exact reverse
    (obj, pred, subj) is also asserted. High reciprocity flags
    symmetric predicates (the linker should collapse them to one
    canonical direction or the KG doubles its storage and every
    triangle/degree statistic double-counts); near-zero reciprocity on
    a predicate documented as symmetric flags extraction asymmetry —
    the direction-health audit of the materialized graph.

    Plan: distinct directed edge set (one KG-dimension exchange), then
    a LEFT SEMI-shaped self-join on the reversed key — both sides are
    key-distinct so the join cannot fan out — and one rollup
    aggregation onto the |preds|+1 grid. Everything is dimension-
    sized (triples, not corpus rows)."""
    e = (
        kg.select("pred", "subj", "obj")
        .filter(F.col("subj") != F.col("obj"))
        .distinct()
    )
    rev = e.select(
        "pred", F.col("obj").alias("subj"), F.col("subj").alias("obj")
    ).withColumn("has_rev", F.lit(1).cast("long"))
    marked = e.join(rev, ["pred", "subj", "obj"], "left")
    per = marked.rollup("pred").agg(
        F.count("*").alias("n_edges"),
        F.coalesce(F.sum("has_rev"), F.lit(0)).alias("n_recip"),
    )
    return per.select(
        F.coalesce(F.col("pred"), F.lit("ALL")).alias("pred"),
        "n_edges",
        "n_recip",
        F.expr(
            "(n_recip * 1000000 + n_edges div 2) div n_edges"
        ).alias("recip_e6"),
    )


def duck_reciprocity_over(kg_cte: str) -> str:
    """Oracle: identical distinct-edge reversed self-join + rollup."""
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte}),
        e AS (
            SELECT DISTINCT pred, subj, obj FROM kg WHERE subj <> obj
        ),
        marked AS (
            SELECT a.pred, CASE WHEN b.pred IS NOT NULL THEN 1 ELSE 0 END
                       AS has_rev
            FROM e a LEFT JOIN e b
              ON a.pred = b.pred AND a.subj = b.obj AND a.obj = b.subj
        ),
        per AS (
            SELECT pred, COUNT(*) AS n_edges, CAST(SUM(has_rev) AS BIGINT) AS n_recip
            FROM marked GROUP BY ROLLUP(pred)
        )
        SELECT COALESCE(pred, 'ALL') AS pred, n_edges, n_recip,
               CAST((n_recip * 1000000 + n_edges // 2) // n_edges
                    AS BIGINT) AS recip_e6
        FROM per
    """


# ---------------------------------------- predicate co-occurrence


def predicate_cooccurrence(kg: DataFrame) -> DataFrame:
    """(pred_a, pred_b, n_subjects) — KG schema discovery: for every
    unordered predicate pair (lexicographic ``pred_a < pred_b``), how
    many subjects assert BOTH. The relation-correlation table that
    seeds ontology induction (predicates that always co-fire are
    candidates for implication/merge) and negative-sampling design
    (TransE corruption should avoid co-occurring predicates as easy
    negatives). NOTE: the reference extractor emits a single
    predicate, so over THIS corpus the pair grid is legitimately
    empty — the driver oracle pins that emptiness exactly, and the
    crafted multi-predicate pytest pins the pairing semantics; the
    non-vacuous twin over this corpus is ``event_cooccurrence``.

    Plan: dedup to the (subj, pred) incidence set (dimension-sized),
    one subject-keyed self-join — fanout per subject is bounded by
    |preds|², a schema constant, never corpus-driven — then one
    map-side-combinable count onto the predicate-pair grid."""
    sp = kg.select("subj", "pred").distinct()
    b = sp.select(F.col("subj").alias("subj"), F.col("pred").alias("pred_b"))
    pairs = (
        sp.withColumnRenamed("pred", "pred_a")
        .join(b, "subj")
        .filter(F.col("pred_a") < F.col("pred_b"))
    )
    return pairs.groupBy("pred_a", "pred_b").agg(
        F.count("*").alias("n_subjects")
    )


def duck_predicate_cooccurrence_over(kg_cte: str) -> str:
    """Oracle: identical incidence self-join."""
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte}),
        sp AS (SELECT DISTINCT subj, pred FROM kg)
        SELECT a.pred AS pred_a, b.pred AS pred_b,
               COUNT(*) AS n_subjects
        FROM sp a JOIN sp b ON a.subj = b.subj AND a.pred < b.pred
        GROUP BY 1, 2
    """


# ------------------------------------------------- entity lifespan


def entity_lifespan(kgt: DataFrame) -> DataFrame:
    """(lifespan_hours, n_entities) — temporal footprint census over
    the TEMPORAL KG (``temporal_kg``'s (subj, pred, obj, first_seen,
    last_seen, n_convs) grain): per canonical entity, the span between
    its earliest and latest observation across every triple it
    participates in (either end), floored to hours and histogrammed.
    Long-lived entities are the stable backbone worth canonical-id
    pinning; zero-hour entities are one-conversation ephemera a
    retention policy can age out — the KG-lifecycle input.

    Plan: the temporal KG is dimension-sized, so everything here is
    dimension-grain: endpoint union (subj + obj), one entity-grain
    min/max aggregation, one count onto the lifespan grid. Epochs are
    BIGINT seconds end-to-end — exact cross-engine."""
    ends = kgt.select(
        F.col("subj").alias("entity"), "first_seen", "last_seen"
    ).unionAll(
        kgt.select(F.col("obj").alias("entity"), "first_seen", "last_seen")
    )
    per = ends.groupBy("entity").agg(
        F.min("first_seen").alias("f"), F.max("last_seen").alias("l")
    )
    return per.select(
        F.expr("(l - f) div 3600").alias("lifespan_hours")
    ).groupBy("lifespan_hours").agg(F.count("*").alias("n_entities"))


def duck_entity_lifespan_over(kgt_cte: str) -> str:
    """Oracle: identical endpoint union + entity-grain span."""
    return f"""
        WITH RECURSIVE kgt AS MATERIALIZED ({kgt_cte}),
        ends AS (
            SELECT subj AS entity, first_seen, last_seen FROM kgt
            UNION ALL
            SELECT obj, first_seen, last_seen FROM kgt
        ),
        per AS (
            SELECT entity, MIN(first_seen) AS f, MAX(last_seen) AS l
            FROM ends GROUP BY 1
        )
        SELECT (l - f) // 3600 AS lifespan_hours,
               COUNT(*) AS n_entities
        FROM per GROUP BY 1
    """


# --------------------------------------------- support × k cross-tab

SUPPORT_BAND_CAP = 5


def kg_support_matrix(kg: DataFrame) -> DataFrame:
    """(support_band, min_k, n_triples) — confidence-structure
    cross-tab of the materialized KG: evidence volume (distinct-window
    support, capped at ``SUPPORT_BAND_CAP`` so the band set is a
    constant grid) × extraction distance (``min_k`` — the closest
    sentence gap any supporting window achieved). The quality-triage
    table: (1, MAX_K) cells are single-sighting long-range extractions
    — the first candidates for a higher acceptance threshold or human
    review; (≥5, 0) cells are same-sentence workhorses. All-integer.

    Plan: one dimension-grain aggregation onto the ≤ cap·(MAX_K+1)
    grid — the KG is triples, never corpus rows."""
    return (
        kg.select(
            F.least(F.col("support"), F.lit(SUPPORT_BAND_CAP))
            .cast("long")
            .alias("support_band"),
            F.col("min_k").cast("long").alias("min_k"),
        )
        .groupBy("support_band", "min_k")
        .agg(F.count("*").alias("n_triples"))
    )


def duck_support_matrix_over(kg_cte: str) -> str:
    """Oracle: identical capped cross-tab."""
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte})
        SELECT CAST(LEAST(support, {SUPPORT_BAND_CAP}) AS BIGINT)
                   AS support_band,
               CAST(min_k AS BIGINT) AS min_k,
               COUNT(*) AS n_triples
        FROM kg GROUP BY 1, 2
    """


def merge_temporal_kg(*kgs: DataFrame) -> DataFrame:
    """Incremental maintenance for the TEMPORAL KG: merge per-delta
    ``temporal_kg`` tables at (subj, pred, obj) grain. All three
    temporal aggregates are decomposable under conv-partitioned
    deltas — ``first_seen`` mins, ``last_seen`` maxes, and ``n_convs``
    SUMS exactly (a conversation lives in exactly one delta, so
    per-delta distinct-conv counts are disjoint). With a globally
    built canonical map, merging deltas is provably equal to a full
    rebuild — the law ``kg_temporal_incremental`` checks against the
    SAME oracle as ``kg_temporal``. One exchange on the triple key."""
    import functools

    merged = functools.reduce(lambda a, b: a.unionByName(b), kgs)
    return merged.groupBy("subj", "pred", "obj").agg(
        F.min("first_seen").alias("first_seen"),
        F.max("last_seen").alias("last_seen"),
        F.sum("n_convs").alias("n_convs"),
    )


# -------------------------------- partitioned triple-table sink

KG_WRITE_BUCKETS = 8


def kg_partitioned_write(
    kg: DataFrame, path: str, n_buckets: int = KG_WRITE_BUCKETS
) -> DataFrame:
    """(bucket, n_triples) — the north rule's "dedup-shuffle
    materialization into a partitioned triple table" as a first-class,
    verifiable batch sink: the KG is written to ``path`` partitioned
    by ``bucket = H(subj) mod n_buckets`` (the portable hash, so
    bucket routing is reproducible cross-engine and stable across
    runs — an incremental writer appends to the same buckets), then
    READ BACK from the partitioned files and counted per bucket. The
    returned census is computed from the round-tripped files, so a
    green row proves the physical layout, not just the logical plan.
    ``overwrite`` mode keeps the sink idempotent (re-running a failed
    job converges, the same law the streaming sink's batchId
    partitioning provides).

    Plan: one dimension-grain write shuffled by the partition column
    (Spark routes rows to partition directories map-side), one
    partition-pruned read-back, one grid count. Subject-hash
    bucketing co-locates each entity's triples — the layout every
    downstream per-entity consumer (neighbors, degree, resolve) wants
    to read without a shuffle."""
    from ..hashing import spark_h15

    out = kg.withColumn(
        "bucket", (spark_h15(F.col("subj")) % n_buckets).cast("int")
    )
    out.write.mode("overwrite").partitionBy("bucket").parquet(path)
    back = kg.sparkSession.read.parquet(path)
    return back.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count("*").alias("n_triples")
    )


def duck_partitioned_write_over(
    kg_cte: str, n_buckets: int = KG_WRITE_BUCKETS
) -> str:
    """Oracle: the bucket-assignment law on the logical KG (the Spark
    side must produce the SAME census from the physical files)."""
    from ..hashing import duck_h15

    h = duck_h15("subj")
    return f"""
        WITH RECURSIVE kg AS MATERIALIZED ({kg_cte})
        SELECT CAST({h} % {n_buckets} AS BIGINT) AS bucket,
               COUNT(*) AS n_triples
        FROM kg GROUP BY 1
    """
