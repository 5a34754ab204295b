

def test_source_keywords_matches_python_twin(spark, sf_dir):
    """Independent third implementation (pandas + math.log) of the G²
    keyness table over the same parquet: every (source, token, cnt,
    g2, rank) row must match, including the positive-association
    filter and the rounded-statistic tie-break."""
    import collections
    import math

    import pandas as pd

    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        KEYNESS_TOP_K,
        source_keywords,
    )

    df = pd.read_parquet(f"{sf_dir}/documents.parquet")
    cnt: collections.Counter = collections.Counter()
    for src, text in zip(df["source"], df["text"]):
        for tok in str(text).lower().split(" "):
            if tok:
                cnt[(src, tok)] += 1
    tok_tot: collections.Counter = collections.Counter()
    src_tot: collections.Counter = collections.Counter()
    for (s, t), c in cnt.items():
        tok_tot[t] += c
        src_tot[s] += c
    n = sum(cnt.values())

    def xlx(x, e):
        return x * math.log(x / e) if x > 0 else 0.0

    rows = []
    for (s, t), c in cnt.items():
        tt, st = tok_tot[t], src_tot[s]
        if c * n <= tt * st:
            continue
        a, b = float(c), float(tt - c)
        cc, d = float(st - c), float(n - tt - st + c)
        g2 = round(
            2.0
            * (
                xlx(a, tt * st / n)
                + xlx(b, tt * (n - st) / n)
                + xlx(cc, (n - tt) * st / n)
                + xlx(d, (n - tt) * (n - st) / n)
            ),
            6,
        )
        rows.append((s, t, c, g2))
    expect = {}
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r[0], []).append(r)
    for s, rs in by_src.items():
        rs.sort(key=lambda r: (-r[3], r[1]))
        for i, r in enumerate(rs[:KEYNESS_TOP_K], start=1):
            expect[(s, r[1])] = (r[2], r[3], i)
    got = {
        (r["source"], r["token"]): (r["cnt"], r["g2"], r["rank"])
        for r in source_keywords(spark, sf_dir).collect()
    }
    from cross_sentence_relation_extraction_idepnn_spark.session import release_caches

    release_caches()
    assert got == expect


def test_vocab_growth_matches_python_scan_and_is_monotone(spark, sf_dir):
    """Independent Python twin: stream tokens in (doc_id, position)
    order, record |vocab| at each power-of-two checkpoint — every
    (n_tokens, n_distinct) row must match, the curve must be
    non-decreasing, and the last checkpoint ≤ the corpus vocabulary."""
    import pandas as pd

    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        VG_CHECKPOINTS,
        vocab_growth,
    )
    from cross_sentence_relation_extraction_idepnn_spark.session import (
        release_caches,
    )

    got = {
        r.n_tokens: r.n_distinct
        for r in vocab_growth(spark, sf_dir).collect()
    }
    df = pd.read_parquet(f"{sf_dir}/documents.parquet")[
        ["doc_id", "text"]
    ].sort_values("doc_id")
    seen: set = set()
    n = 0
    expect: dict = {}
    cps = iter(sorted(VG_CHECKPOINTS))
    cp = next(cps)
    for text in df["text"]:
        for tok in str(text).split(" "):
            n += 1
            seen.add(tok)
            if n == cp:
                expect[cp] = len(seen)
                try:
                    cp = next(cps)
                except StopIteration:
                    cp = None
                    break
        if cp is None:
            break
    assert got == expect
    counts = [got[k] for k in sorted(got)]
    assert counts == sorted(counts)
    release_caches()


def test_source_diversity_hand_computed_simpson(spark, tmp_path):
    """Source A = [en, en, en, fr]: simpson = 1 − (9+1)/16 = 0.375,
    dominance 0.75; source B monolingual: simpson 0, dominance 1;
    __all__ over all 6 docs: 1 − (16+1+1+4+... ) hand-checked."""
    import os

    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        DIV_SCOPE_ALL,
        source_diversity,
    )

    rows = [
        (1, "t", "en", "A"), (2, "t", "en", "A"),
        (3, "t", "en", "A"), (4, "t", "fr", "A"),
        (5, "t", "en", "B"), (6, "t", "en", "B"),
    ]
    path = str(tmp_path / "docs")
    os.makedirs(path, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "documents.parquet")
    )
    got = {r.scope: r for r in source_diversity(spark, path).collect()}
    assert (got["A"].n_docs, got["A"].n_groups) == (4, 2)
    assert got["A"].simpson_e6 == 375_000
    assert got["A"].dominance_e6 == 750_000
    assert got["B"].simpson_e6 == 0 and got["B"].dominance_e6 == 1_000_000
    # __all__: en×5, fr×1 over 6 docs → 1 − (25+1)/36 = 10/36
    a = got[DIV_SCOPE_ALL]
    assert (a.n_docs, a.n_groups) == (6, 2)
    assert a.simpson_e6 == 10 * 1_000_000 * 36 // (36 * 36)  # = 277777
    assert a.dominance_e6 == 833_333


# --------------------------------------------- session-7: winnowing

def _py_winnow(text: str, K: int = 8, W: int = 4) -> set[tuple[int, int]]:
    """Pure-Python winnowing twin (Schleimer et al. 2003): rightmost
    minimum k-gram hash per window of W hashes."""
    from cross_sentence_relation_extraction_idepnn_spark.hashing import py_h15

    n_kg = max(len(text) - K + 1, 1)
    hs = [py_h15(text[p - 1 : p - 1 + K]) for p in range(1, n_kg + 1)]
    out: set[tuple[int, int]] = set()
    for s in range(1, max(n_kg - W + 1, 1) + 1):
        win = range(s, min(s + W - 1, n_kg) + 1)
        best = min(win, key=lambda j: (hs[j - 1], -j))
        out.add((best, hs[best - 1]))
    return out


def test_winnow_matches_python_twin(spark, sf_dir):
    """Spark output == the independent pure-Python winnower for every
    document at sf0.001 (positions AND hash values)."""
    import pandas as pd

    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        winnow_fingerprints,
    )

    got: dict[object, set] = {}
    for r in winnow_fingerprints(spark, sf_dir).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    df = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]]
    for doc_id, text in zip(df["doc_id"], df["text"]):
        assert got.get(doc_id, set()) == _py_winnow(str(text)), doc_id


def test_winnow_shared_passage_guarantee():
    """The winnowing theorem: any shared substring of length ≥
    K + W − 1 (= 11) produces at least one shared fingerprint HASH —
    pinned on crafted docs that differ everywhere else, plus a
    negative control with no 8-char overlap."""
    shared = "zq3vkp8wx2j"  # 11 chars
    a = "left-" + shared + "-aaaaaaaaaa"
    b = "RIGHTRIGHT" + shared + "ZZZZ"
    fps_a = {fp for _, fp in _py_winnow(a)}
    fps_b = {fp for _, fp in _py_winnow(b)}
    assert fps_a & fps_b
    c = "completely different text with no overlap"
    assert not ({fp for _, fp in _py_winnow(c)} & fps_a)


def test_winnow_short_and_tiny_docs():
    """Docs shorter than one k-gram or one window still fingerprint:
    exactly one selected fingerprint, at a valid k-gram position."""
    for text in ("ab", "exactly8", "ninechars"):
        out = _py_winnow(text)
        n_kg = max(len(text) - 7, 1)
        assert len(out) == 1
        ((p, _),) = out
        assert 1 <= p <= n_kg


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (Spark `div` / DuckDB
    `//` semantics for a possibly-negative numerator, b > 0)."""
    return a // b if a >= 0 else -((-a) // b)


def test_calibration_bins_matches_python_twin(spark, sf_dir):
    """Independent integer re-implementation of the whole reliability
    diagram (token stats → logit → decile bin → label → half-up rate)
    over the same parquet; every (bin, n_docs, n_pos, pos_rate_e6) row
    must match and the bins must partition the corpus."""
    import collections

    import pandas as pd

    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        CAL_LOGIT_E6,
        QC_BIAS_E6,
        QC_W_E6,
        STOPWORDS,
        calibration_bins,
    )

    df = pd.read_parquet(f"{sf_dir}/documents.parquet")
    w1, w2, w3 = QC_W_E6
    per_bin: dict[int, list[int]] = collections.defaultdict(lambda: [0, 0])
    for text in df["text"]:
        toks = str(text).split(" ")
        n, d = len(toks), len(set(toks))
        s = sum(1 for t in toks if t in STOPWORDS)
        f1 = min(n, 100) * 10_000
        f2 = (s * 1_000_000 + n // 2) // n
        f3 = (d * 1_000_000 + n // 2) // n
        logit = (
            QC_BIAS_E6
            + _tdiv(w1 * f1, 1_000_000)
            + _tdiv(w2 * f2, 1_000_000)
            + _tdiv(w3 * f3, 1_000_000)
        )
        q_num = (min(n, 64) * n + 48 * n + 48 * (d - s)) * 1_000_000 + (
            160 * n
        ) // 2
        pos = _tdiv(q_num, 160 * n) >= 680_000
        b = next(
            (k for k, thr in enumerate(CAL_LOGIT_E6) if logit < thr), 9
        )
        per_bin[b][0] += 1
        per_bin[b][1] += int(pos)
    want = {
        b: (nd, np_, (np_ * 1_000_000 + nd // 2) // nd)
        for b, (nd, np_) in per_bin.items()
    }
    got = {
        r.bin: (r.n_docs, r.n_pos, r.pos_rate_e6)
        for r in calibration_bins(spark, sf_dir).collect()
    }
    assert got == want
    assert sum(nd for nd, _, _ in got.values()) == len(df)


def test_response_drift_matches_exact_fraction_ols(spark, sf_dir):
    """The integer sufficient statistics and the staged sign-safe e6
    slope must equal an exact-arithmetic OLS (fractions.Fraction) over
    the collected turns; a role whose length is exactly y = 7·x + 3
    must report slope_e6 == 7_000_000 with zero residual machinery."""
    from fractions import Fraction

    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        response_drift,
        transcripts,
    )

    turns = (
        transcripts(spark, sf_dir)
        .selectExpr("role", "cast(turn_idx as long) x", "length(text) y")
        .collect()
    )
    stats: dict[str, list[int]] = {}
    for r in turns:
        st = stats.setdefault(r.role, [0, 0, 0, 0, 0])
        st[0] += 1
        st[1] += r.x
        st[2] += r.y
        st[3] += r.x * r.y
        st[4] += r.x * r.x
    got = {r.role: r for r in response_drift(spark, sf_dir).collect()}
    assert set(got) == set(stats)
    for role, (n, sx, sy, sxy, sxx) in stats.items():
        g = got[role]
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        assert (g.n, g.sum_x, g.sum_y) == (n, sx, sy)
        assert (g.slope_num, g.slope_den) == (num, den)
        assert g.slope_e6 == _tdiv(num * 1_000_000, den)
        # e6 quotient brackets the exact rational slope
        exact = Fraction(num, den)
        assert abs(Fraction(g.slope_e6, 1_000_000) - exact) < Fraction(1, 500_000)


def test_readability_matches_python_twin(spark, sf_dir):
    """Independent re-implementation (re module) of the vowel-run /
    dot-count / staged half-up Flesch census: every per-source row
    must match exactly."""
    import collections
    import re

    import pandas as pd

    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        readability,
    )

    df = pd.read_parquet(f"{sf_dir}/documents.parquet")
    agg: dict[str, list[int]] = collections.defaultdict(lambda: [0, 0, 0, 0])
    for src, text in zip(df["source"], df["text"]):
        text = str(text)
        a = agg[src]
        a[0] += 1
        a[1] += len(text.split(" "))
        a[2] += max(1, text.count("."))
        a[3] += len(re.findall(r"[aeiouAEIOU]+", text))
    want = {
        s: (n, w, st, y,
            206835 - (1015 * w + st // 2) // st - (84600 * y + w // 2) // w)
        for s, (n, w, st, y) in agg.items()
    }
    got = {
        r.source: (r.n_docs, r.n_words, r.n_sents, r.n_syll, r.fre_e3)
        for r in readability(spark, sf_dir).collect()
    }
    assert got == want


def test_truncation_loss_crafted_lengths(spark, tmp_path):
    """Docs of 2 / 100 / 300 / 600 tokens give hand-computed over-counts
    and token losses at every audited cutoff; loss_e6 is monotone
    non-increasing in max_len."""
    import os

    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        TRUNC_LENGTHS,
        truncation_loss,
    )

    def words(n):
        return " ".join("w" for _ in range(n))

    rows = [
        (i, words(n), "en", "src0", n)
        for i, n in enumerate((2, 100, 300, 600))
    ]
    path = str(tmp_path / "tl")
    os.makedirs(path, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "documents.parquet")
    )
    tot = 2 + 100 + 300 + 600
    want = {}
    for ln in TRUNC_LENGTHS:
        lost = sum(max(0, n - ln) for n in (2, 100, 300, 600))
        over = sum(1 for n in (2, 100, 300, 600) if n > ln)
        want[ln] = (4, over, tot, lost, (lost * 1_000_000 + tot // 2) // tot)
    got = {
        r.max_len: (
            r.n_docs, r.n_over, r.tokens_total, r.tokens_lost, r.loss_e6
        )
        for r in truncation_loss(spark, path).collect()
    }
    assert got == want
    losses = [got[ln][4] for ln in sorted(got)]
    assert losses == sorted(losses, reverse=True)


def test_dialog_acts_crafted_flags(spark, sf_dir):
    """Flag semantics on the real corpus: every rate is the half-up
    e6 quotient of its count, totals partition the corpus, and the
    flags agree with a python re-check on a sample conversation."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        dialog_acts,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        transcripts,
    )

    rows = dialog_acts(spark, sf_dir).collect()
    assert rows
    t = transcripts(spark, sf_dir).select("role", "text").collect()
    import collections

    want: dict[str, list[int]] = collections.defaultdict(lambda: [0, 0, 0, 0])
    for r in t:
        w = want[r.role]
        txt = r.text.rstrip()
        w[0] += 1
        w[1] += txt.endswith("?")
        w[2] += txt.endswith("!")
        w[3] += "`" in r.text
    for r in rows:
        n, q, x, c = want[r.role]
        assert (r.n_turns, r.n_question, r.n_exclaim, r.n_code) == (n, q, x, c)
        assert r.question_e6 == (q * 1_000_000 + n // 2) // n
    assert sum(r.n_turns for r in rows) == len(t)


def test_gram_coverage_matches_python_twin(spark, sf_dir):
    """collections.Counter twin of the head-gram coverage curve: same
    bigram derivation, same (count desc, gram asc) deterministic rank,
    same half-up e6 coverage at every audited k; coverage is monotone
    non-decreasing in k."""
    import collections

    import pandas as pd

    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        COVERAGE_KS,
        gram_coverage,
    )

    df = pd.read_parquet(f"{sf_dir}/documents.parquet")
    cnt: collections.Counter = collections.Counter()
    for text in df["text"]:
        toks = str(text).split(" ")
        for a, b in zip(toks, toks[1:]):
            cnt[a + " " + b] += 1
    ordered = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(cnt.values())
    want = {}
    for k in COVERAGE_KS:
        covered = sum(c for _, c in ordered[:k])
        want[k] = (
            len(cnt), total, covered,
            (covered * 1_000_000 + total // 2) // total,
        )
    got = {
        r.top_k: (r.n_grams, r.total_occ, r.covered, r.coverage_e6)
        for r in gram_coverage(spark, sf_dir).collect()
    }
    assert got == want
    covs = [got[k][3] for k in sorted(got)]
    assert covs == sorted(covs)


def test_len_quantiles_crafted_ranks(spark, tmp_path):
    """Lengths 1..10 in one source: rank(q) = (q·9)//100 + 1 selects
    the 5th, 9th, and 9th values — p50=5, p90=9, p99=9 (exact discrete
    lower quantiles, no interpolation)."""
    import os

    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        len_quantiles,
    )

    rows = [
        (i, " ".join("w" for _ in range(i)), "en", "src0", i)
        for i in range(1, 11)
    ]
    path = str(tmp_path / "lq")
    os.makedirs(path, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "documents.parquet")
    )
    (row,) = len_quantiles(spark, path).collect()
    assert (row.source, row.n_docs, row.p50, row.p90, row.p99) == (
        "src0", 10, 5, 9, 9,
    )


def test_fingerprint_collisions_twins_collide(spark, tmp_path):
    """Two byte-identical documents must share a joint fingerprint
    (k = 2 bucket); a distinct document stays a singleton; the census
    re-aggregates to the corpus size."""
    import os

    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        fingerprint_collisions,
    )

    same = "identical fingerprint material with enough characters"
    rows = [
        (1, same, "en", "src0", len(same)),
        (2, same, "en", "src1", len(same)),
        (3, "a completely different document body here", "en", "src0", 41),
    ]
    path = str(tmp_path / "fc")
    os.makedirs(path, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "documents.parquet")
    )
    got = {
        r.n_docs_per_fp: r.n_fps
        for r in fingerprint_collisions(spark, path).collect()
    }
    assert got == {2: 1, 1: 1}
    assert sum(k * v for k, v in got.items()) == 3


def test_lang_confusion_matches_lang_id_recount(spark, sf_dir):
    """The confusion grid must equal a recount of lang_id's own
    per-document predictions against the parquet truth column and
    partition the corpus."""
    import collections

    import pandas as pd

    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        lang_confusion,
        lang_id,
    )

    pred = {r.doc_id: r.lang_pred for r in lang_id(spark, sf_dir).collect()}
    df = pd.read_parquet(f"{sf_dir}/documents.parquet")
    want: dict[tuple, int] = collections.defaultdict(int)
    for doc_id, lang in zip(df["doc_id"], df["lang"]):
        want[(lang, pred[doc_id])] += 1
    got = {
        (r.lang_true, r.lang_pred): r.n_docs
        for r in lang_confusion(spark, sf_dir).collect()
    }
    assert got == dict(want)
    assert sum(got.values()) == len(df)


def test_prefix_dup_census_crafted_twins(spark, tmp_path):
    """Two documents sharing a 32-char prefix (different suffixes) form
    a k=2 prefix class; a distinct document stays a singleton."""
    import os

    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        prefix_dup_census,
    )

    head = "shared templated header exactly!"  # 32 chars
    assert len(head) == 32
    rows = [
        (1, head + " unique tail one", "en", "a", 1),
        (2, head + " other tail", "en", "b", 1),
        (3, "a wholly different document body", "en", "a", 1),
    ]
    path = str(tmp_path / "pd")
    os.makedirs(path, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "documents.parquet")
    )
    got = {
        r.n_docs_per_prefix: r.n_prefixes
        for r in prefix_dup_census(spark, path).collect()
    }
    assert got == {2: 1, 1: 1}


def test_zipf_profile_conserves_mass(spark, sf_dir):
    """Bucket 0 holds exactly rank 1; token and occurrence masses
    equal independently-computed vocabulary size and corpus token
    count."""
    from pyspark.sql import functions as F

    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        zipf_profile,
    )

    hist = {r.rank_bucket: (r.n_tokens, r.total_occ)
            for r in zipf_profile(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(F.split("text", " ")).alias("t"))
    n_occ = toks.count()
    n_vocab = toks.distinct().count()
    assert hist[0][0] == 1
    assert sum(v[0] for v in hist.values()) == n_vocab
    assert sum(v[1] for v in hist.values()) == n_occ


def test_mask_census_crafted_spans(spark, tmp_path):
    """'pay $3 now wait 2 days then visit //a.b x' → currency 1,
    time 1 (days), number 2 (the 3 freed by the currency mask + the
    2), url 1; a clean doc contributes nothing. plant=False so only
    crafted spans count."""
    import os

    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        mask_census,
    )

    rows = [
        (1, "pay $3 now wait 2 days then visit //a.b x"),
        (2, "nothing maskable here at all"),
    ]
    path = str(tmp_path / "mc")
    os.makedirs(path, exist_ok=True)
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(path, "documents.parquet"))
    got = {
        r.mask_type: (r.n_docs, r.n_hits)
        for r in mask_census(spark, path, plant=False).collect()
    }
    assert got == {
        "currency": (1, 1),
        "time": (1, 1),
        "number": (1, 2),
        "url": (1, 1),
    }


def test_doc_fingerprint_arrow_twin_matches_column_form(spark, sf_dir):
    """r6 optimization pin: the Arrow fingerprint twin (used by
    fingerprint_collisions, which forces the values) must be
    row-identical to the transparent Column form (kept prunable for
    the bare query)."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        _doc_fingerprint_arrow,
        doc_fingerprint,
    )

    a = doc_fingerprint(spark, sf_dir)
    b = _doc_fingerprint_arrow(spark, sf_dir)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_doc_fingerprint_twins_agree_on_null_text(spark, tmp_path):
    """NULL text has no shingles: both fingerprint forms give NULL
    ``fp_min``/``fp_xor`` for it (md5(NULL) is NULL), while empty text
    still hashes its one empty window."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cross_sentence_relation_extraction_idepnn_spark.operators.textstats import (
        _doc_fingerprint_arrow,
        doc_fingerprint,
    )

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, 3], pa.int64()),
                "text": pa.array(["the scan runs a table", None, ""], pa.string()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    a = doc_fingerprint(spark, str(tmp_path))
    b = _doc_fingerprint_arrow(spark, str(tmp_path))
    assert a.schema == b.schema
    rows_a = a.orderBy("doc_id").collect()
    assert rows_a == b.orderBy("doc_id").collect()
    assert (rows_a[1].fp_min, rows_a[1].fp_xor) == (None, None)
    assert rows_a[2].fp_min is not None
