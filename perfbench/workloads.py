"""Seeded transcript-corpus generator and the workload table.

The KG pipeline reads one ``documents.parquet`` (``doc_id bigint, text,
lang, source, n_chars``, the fixture schema) and derives one
conversation per document (``sources.transcripts``: 8-word turns,
4-word sentences). A workload fixes the corpus shape:

- ``n_convs``: documents, i.e. conversations;
- ``words``: mean words per conversation; each document draws its
  length uniformly from ``(1 ± len_jitter) * words``;
- ``alias_share``: share of words drawn (uniformly) from the entity
  alias dictionary, which sets mention density and so candidate count;
- ``filler_vocab``: size of the Zipf(``ZIPF_S``) filler vocabulary,
  which sets how many distinct sentences and windows the scoring
  kernel sees, against its executor-local memos.

The same (workload, seed) gives a byte-identical parquet file: every
draw comes from one ``numpy.random.Generator`` seeded with ``seed``,
and the file is written without timestamps in its metadata.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from cross_sentence_relation_extraction_idepnn_spark.config import ENTITY_ALIASES
from cross_sentence_relation_extraction_idepnn_spark.kernels import FUNCTION_WORDS
from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import TURN_WORDS

ZIPF_S = 1.1
LANGS = ("en", "de", "es", "fr", "zh")
N_SOURCES = 20
_CONSONANTS = "bcdfghklmnprstvz"
_VOWELS = "aeiou"


@dataclass(frozen=True)
class Workload:
    name: str
    n_convs: int
    words: int
    alias_share: float
    filler_vocab: int
    len_jitter: float


WORKLOADS = {
    w.name: w
    for w in (
        # many short conversations, dense in aliases: ~75 candidates per
        # conversation of ~80 words, so the fused scoring kernel does the
        # most work while the per-conversation self-join stays small
        Workload(
            "kg_dense", n_convs=320, words=80, alias_share=0.7, filler_vocab=4000,
            len_jitter=0.25,
        ),
        # few very long conversations: the conv_id self-join grows with
        # n_OP * n_OBJ per conversation while nearest-pair selection caps
        # the kernel's input at 108 candidates per conversation. Equal
        # lengths: with so few conversations, per-seed length draws would
        # move the self-join's slowest task from seed to seed
        Workload(
            "kg_longconv", n_convs=10, words=2400, alias_share=0.7, filler_vocab=4000,
            len_jitter=0.0,
        ),
    )
}


def filler_words(n: int) -> list[str]:
    """``n`` distinct filler words, most frequent first: the five
    function words (they shape the deterministic parse), then
    pronounceable consonant-vowel words that are never alias surfaces."""
    out = list(FUNCTION_WORDS)[:n]
    taken = set(ENTITY_ALIASES) | set(out)
    i = 0
    while len(out) < n:
        j, syl = i, []
        while True:
            syl.append(_CONSONANTS[j % 16] + _VOWELS[(j // 16) % 5])
            j //= 80
            if j == 0:
                break
        w = "".join(syl)
        if w not in taken:
            taken.add(w)
            out.append(w)
        i += 1
    return out


def generate(w: Workload, seed: int) -> pa.Table:
    """The workload's documents table for ``seed``."""
    rng = np.random.default_rng(seed)
    lo, hi = int(w.words * (1 - w.len_jitter)), int(w.words * (1 + w.len_jitter))
    lens = rng.integers(lo, hi + 1, size=w.n_convs)
    total = int(lens.sum())
    aliases = np.array(sorted(ENTITY_ALIASES))
    fillers = np.array(filler_words(w.filler_vocab))
    p = 1.0 / np.arange(1, len(fillers) + 1) ** ZIPF_S
    is_alias = rng.random(total) < w.alias_share
    alias_pick = aliases[rng.integers(0, len(aliases), size=total)]
    filler_pick = fillers[rng.choice(len(fillers), size=total, p=p / p.sum())]
    words = np.where(is_alias, alias_pick, filler_pick)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(w.n_convs)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(w.n_convs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), w.n_convs)]),
            "source": pa.array(
                [f"src{i}" for i in rng.integers(0, N_SOURCES, w.n_convs)]
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_corpus(w: Workload, seed: int, out_dir: str) -> str:
    """Write ``<out_dir>/documents.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        generate(w, seed), os.path.join(out_dir, "documents.parquet"),
        compression="snappy", store_schema=False,
    )
    return out_dir


def n_turns(table: pa.Table) -> int:
    """Transcript turns the pipeline derives from ``table``: one per
    started ``TURN_WORDS`` words, at least one per document."""
    n_words = np.array([t.count(" ") + 1 for t in table.column("text").to_pylist()])
    return int(np.maximum(-(-n_words // TURN_WORDS), 1).sum())
