"""Distributed BPE merge learning over the corpus vocabulary.

The byte-pair-encoding trainer of an LLM data pipeline: learn the
top-``n`` merge rules from corpus word frequencies. The algorithm is
the classic Sennrich-style loop (count adjacent symbol pairs weighted
by word count → take the global argmax → apply the merge greedily
left-to-right → repeat), re-expressed for Spark's execution model:

- The corpus is touched ONCE — a word-frequency aggregate (one
  exchange, map-side combine). Everything after runs on the
  vocabulary-grain table, exactly how production BPE trainers operate
  (word counts in, merge table out); at 100 TB the vocab table is
  orders of magnitude smaller than the corpus.
- Each iteration is one pair-count aggregation over the vocab table
  plus a 1-row argmax collect (the Lloyd/PageRank iterative-dimension
  shape), and one narrow fold (`aggregate` higher-order function) that
  applies the merge to every word's symbol array — no Python, no
  per-row UDF.
- Per-iteration ``localCheckpoint`` truncates lineage (without it the
  symbol-fold subtree re-expands per iteration — same discipline as
  ``kg_pagerank``).

Semantics pinned for the cross-engine oracle: pair counting uses
overlapping adjacency (``aaa`` contributes (a,a) twice, like
``get_stats`` in the reference BPE implementations), merge application
is greedy leftmost non-overlapping (``aaaa`` + (a,a) → ``aa aa``), and
argmax ties break on lexicographically smallest (lsym, rsym) — both
engines compare ASCII bytewise. The DuckDB oracle unrolls the same
loop: per iteration a pair-count CTE, a 1-row best CTE, and a
recursive-CTE walk of the same greedy fold (the ``pack_sequences``
oracle style).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import (
    local_frame,
    read_parquet_cached,
    track_cache,
    track_checkpoint,
)

N_MERGES = 6


def _word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_cached(spark, f"{sf_dir}/documents.parquet")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("wcount"))
    )


def _apply_merge(syms, l: str, r: str):
    """Greedy leftmost non-overlapping merge of adjacent (l, r) as a
    native array fold. The last-element probe clamps its index to ≥ 1:
    index 0 is STRUCTURALLY invalid even for ``try_element_at`` (it
    only forgives out-of-bounds), so an empty accumulator probes index
    1 and gets NULL via out-of-bounds instead of throwing."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (
                F.try_element_at(acc, F.greatest(F.size(acc), F.lit(1)))
                == F.lit(l)
            )
            & (s == F.lit(r)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(l + r))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _train(
    spark: SparkSession, sf_dir: str, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the merge-learning loop; returns (merge list, final
    vocab-grain table ``(word, wcount, syms)`` — the per-word BPE
    segmentation under the learned merges)."""
    from pyspark.storagelevel import StorageLevel

    cur = track_cache(
        _word_counts(spark, sf_dir)
        .withColumn("syms", F.split("word", ""))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    merges: list[tuple[int, str, str, int]] = []
    prev = None
    for m in range(n_merges):
        pairs = (
            cur.filter(F.size("syms") >= 2)
            .select(
                "wcount",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2), "
                        "i -> struct(try_element_at(syms, i + 1) AS lsym, "
                        "try_element_at(syms, i + 2) AS rsym))"
                    )
                ).alias("p"),
            )
            .groupBy("p.lsym", "p.rsym")
            .agg(F.sum("wcount").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "lsym", "rsym")
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        best = pairs[0]
        merges.append(
            (m, best["lsym"], best["rsym"], int(best["pair_count"]))
        )
        nxt = cur.withColumn(
            "syms", _apply_merge(F.col("syms"), best["lsym"], best["rsym"])
        ).localCheckpoint(eager=True)
        if prev is not None:
            from ..session import unpersist_checkpoint

            unpersist_checkpoint(prev)
        prev = nxt
        cur = nxt
    if prev is not None:
        track_checkpoint(prev)
    return merges, cur


def bpe_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES
) -> DataFrame:
    """(merge_idx, lsym, rsym, pair_count) — the learned merge table.

    Stops early if the vocabulary runs out of adjacent pairs before
    ``n_merges`` (every word reduced to one symbol)."""
    merges, _ = _train(spark, sf_dir, n_merges)
    return local_frame(
        spark, merges, "merge_idx int, lsym string, rsym string, pair_count bigint"
    )


def bpe_token_counts(
    spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES
) -> DataFrame:
    """(doc_id, n_words, n_bpe_tokens) — per-document token counts
    under the TRAINED tokenizer (the learned-merge upgrade of
    ``textstats.token_counts``'s ``bpe_ish`` heuristic).

    Tokenization cost rides the vocab: the trainer's final per-word
    segmentation (vocab-grain) broadcasts back onto the corpus word
    stream — the corpus itself is scanned once and never shuffled
    except the per-doc sum (keyed on doc_id, the scan's natural
    grain). This is how production tokenizer pipelines count tokens:
    segment the vocabulary once, weight by word frequency."""
    from ..session import read_parquet_cached

    _, vocab = _train(spark, sf_dir, n_merges)
    vlen = vocab.select("word", F.size("syms").alias("n_sub"))
    docs = read_parquet_cached(spark, f"{sf_dir}/documents.parquet")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        words.join(F.broadcast(vlen), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_bpe_tokens"),
        )
    )


def _duck_chain(n_merges: int) -> list[str]:
    """The unrolled training chain: per iteration a pair-count CTE
    (UNNEST over overlapping adjacency), a 1-row argmax, and a
    recursive walk applying the greedy fold. The walk's terminal row
    per word is the unique state with position past the symbol
    array. ``v{n_merges}`` is the final per-word segmentation."""
    ctes = [
        """v0 AS MATERIALIZED (
            SELECT word, COUNT(*) AS wcount, string_split(word, '') AS syms
            FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
            WHERE word <> '' GROUP BY word
        )"""
    ]
    for m in range(n_merges):
        ctes.append(f"""
        pc{m} AS MATERIALIZED (
            SELECT syms[i] AS lsym, syms[i + 1] AS rsym,
                   SUM(wcount) AS pair_count
            FROM (SELECT wcount, syms,
                         UNNEST(range(1, len(syms))) AS i
                  FROM v{m} WHERE len(syms) >= 2)
            GROUP BY 1, 2
        )""")
        ctes.append(f"""
        best{m} AS MATERIALIZED (
            SELECT lsym, rsym, pair_count FROM pc{m}
            ORDER BY pair_count DESC, lsym, rsym LIMIT 1
        )""")
        ctes.append(f"""
        walk{m}(word, i, out) AS (
            SELECT word, 1, CAST([] AS VARCHAR[]) FROM v{m}
            UNION ALL
            SELECT w.word,
                   CASE WHEN w.i < len(v.syms)
                             AND v.syms[w.i] = (SELECT lsym FROM best{m})
                             AND v.syms[w.i + 1] = (SELECT rsym FROM best{m})
                        THEN w.i + 2 ELSE w.i + 1 END,
                   list_append(w.out,
                       CASE WHEN w.i < len(v.syms)
                                 AND v.syms[w.i] = (SELECT lsym FROM best{m})
                                 AND v.syms[w.i + 1] = (SELECT rsym FROM best{m})
                            THEN (SELECT lsym FROM best{m}) || (SELECT rsym FROM best{m})
                            ELSE v.syms[w.i] END)
            FROM walk{m} w JOIN v{m} v USING (word) WHERE w.i <= len(v.syms)
        )""")
        ctes.append(f"""
        v{m + 1} AS MATERIALIZED (
            SELECT w.word, v.wcount, w.out AS syms
            FROM walk{m} w JOIN v{m} v USING (word)
            WHERE w.i > len(v.syms)
        )""")
    return ctes


def duck_bpe_merges(n_merges: int = N_MERGES) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT {m} AS merge_idx, lsym, rsym, CAST(pair_count AS BIGINT) AS pair_count FROM best{m}"
        for m in range(n_merges)
    )
    return (
        "WITH RECURSIVE "
        + ", ".join(_duck_chain(n_merges))
        + f" SELECT CAST(merge_idx AS INT) AS merge_idx, lsym, rsym, pair_count FROM ({union})"
    )


def duck_bpe_token_counts(n_merges: int = N_MERGES) -> str:
    """Per-doc counts from the chain's final segmentation table."""
    return (
        "WITH RECURSIVE "
        + ", ".join(_duck_chain(n_merges))
        + f""",
        dw AS (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
            FROM documents
        )
        SELECT d.doc_id,
               COUNT(*) AS n_words,
               CAST(SUM(len(v.syms)) AS BIGINT) AS n_bpe_tokens
        FROM (SELECT * FROM dw WHERE word <> '') d
        JOIN v{n_merges} v USING (word)
        GROUP BY d.doc_id
        """
    )
