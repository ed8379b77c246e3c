"""Differential tests: the new distributed operators vs naive pure-Python
reference implementations on seeded random corpora (the oracle harness
covers the DuckDB comparison; these sweep different shapes/parameters)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


def _random_docs(seed: int, n: int = 60):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        length = rng.randint(0, 12)
        out.append((i, " ".join(rng.choice(WORDS) for _ in range(length))))
    return out


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_edit_distance_pairs_matches_bruteforce(spark, seed):
    from quackosm_spark.operators.dedup import edit_distance_pairs

    docs = _random_docs(seed)
    # short random strings over a tiny alphabet of words → plenty of pairs
    # within distance 6, across many length bands
    max_dist = 6
    expected = {
        (a_id, b_id): _lev(a, b)
        for a_id, a in docs
        for b_id, b in docs
        if a_id < b_id and _lev(a, b) <= max_dist
    }
    d = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {(r.id_a, r.id_b): r.dist
           for r in edit_distance_pairs(d, max_dist=max_dist).collect()}
    assert got == expected


@pytest.mark.parametrize("seed,min_docs,seg_words", [(7, 2, 2), (8, 3, 3), (9, 2, 4)])
def test_remove_frequent_segments_matches_reference(spark, seed, min_docs, seg_words):
    from quackosm_spark.operators.dedup import remove_frequent_segments

    docs = _random_docs(seed, n=40)

    def segments(text):
        w = text.split()
        return [(" ".join(w[i:i + seg_words]), i) for i in range(0, len(w), seg_words)]

    df_count: dict[str, set] = {}
    for did, text in docs:
        for seg, _ in segments(text):
            df_count.setdefault(seg, set()).add(did)
    boiler = {s for s, ids in df_count.items() if len(ids) >= min_docs}
    expected = {}
    for did, text in docs:
        kept = [s for s, _ in segments(text) if s not in boiler]
        expected[did] = (" ".join(kept), len(kept))

    d = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    out = remove_frequent_segments(d, seg_words=seg_words, min_docs=min_docs)
    got = {r.doc_id: (r.text_clean, r.n_kept) for r in out.collect()}
    assert got == expected


@pytest.mark.parametrize("seed", [11, 12])
def test_bm25_matches_pure_python(spark, seed):
    from quackosm_spark.operators.search import bm25_scores

    docs = _random_docs(seed, n=50)
    terms = ["alpha", "zeta"]
    k1, b = 1.2, 0.75
    toks = {i: t.split() for i, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    expected = {}
    for did, words in toks.items():
        score, matched = 0.0, 0
        for t in terms:
            tf = words.count(t)
            df = sum(1 for v in toks.values() if t in v)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            if tf > 0:
                matched += 1
            score += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(words) / avgdl))
        if matched:
            expected[did] = (round(score, 4), matched)

    d = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {r.doc_id: (r.score, r.n_matched)
           for r in bm25_scores(d, terms).collect()}
    assert set(got) == set(expected)
    for did in expected:
        assert got[did][1] == expected[did][1]
        assert got[did][0] == pytest.approx(expected[did][0], abs=2e-4)


@pytest.mark.parametrize("seed", [21, 22])
def test_semantic_dedup_matches_bruteforce(spark, seed):
    from quackosm_spark.operators.dedup import semantic_dedup

    rng = random.Random(seed)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)], rng.randrange(3))
        for i in range(40)
    ]

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(dot / (na * nb), 6)

    thr = 0.5
    dropped = {
        b_id
        for a_id, a, ca in rows
        for b_id, b, cb in rows
        if a_id < b_id and ca == cb and cos(a, b) >= thr
    }
    expected = sorted(i for i, _, _ in rows if i not in dropped)

    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT")
    got = sorted(r.vec_id for r in semantic_dedup(emb, "label", threshold=thr).collect())
    assert got == expected


@pytest.mark.parametrize("seed", [31, 32])
def test_verify_candidate_pairs_matches_python_jaccard(spark, seed):
    from quackosm_spark.operators.dedup import verify_candidate_pairs

    docs = _random_docs(seed, n=30)
    ids = [i for i, t in docs if t]
    rng = random.Random(seed)
    cand = sorted({(a, b) for a, b in
                   (sorted(rng.sample(ids, 2)) for _ in range(40)) if a != b})

    def shingles(t):
        t = t.lower()
        if len(t) <= 5:
            return {t[:5]} if t else set()
        return {t[i:i + 5] for i in range(len(t) - 4)}

    texts = dict(docs)
    expected = {}
    for a, b in cand:
        sa, sb = shingles(texts[a]), shingles(texts[b])
        if sa and sb:
            j = round(len(sa & sb) / len(sa | sb), 6)
            if j >= 0.3:
                expected[(a, b)] = j

    d = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    pairs = spark.createDataFrame(cand, "doc_a LONG, doc_b LONG")
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in verify_candidate_pairs(d, pairs, min_jaccard=0.3).collect()}
    assert got == expected


@pytest.mark.parametrize("seed,threshold", [(11, 0.5), (12, 0.3), (13, 0.8)])
def test_prefix_jaccard_matches_bruteforce(spark, seed, threshold):
    """Prefix-filter blocking must be invisible: exact same pair set +
    jaccard values as the O(n^2) all-pairs reference."""
    from quackosm_spark.operators.dedup import prefix_jaccard_pairs

    docs = _random_docs(seed, n=50)
    sets = {i: set(t.lower().split()) for i, t in docs if t.strip()}
    expected = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= threshold:
                expected[(a, b)] = round(inter / union, 6)

    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_jaccard_pairs(df, threshold=threshold).collect()
    }
    assert got == pytest.approx(expected)


@pytest.mark.parametrize(
    "seed,threshold,cap",
    [(41, 0.2, None), (42, 0.5, None), (41, 0.2, "0"), (42, 0.5, "0")],
)
def test_unguarded_shingle_pairs_prefix_filter_is_invisible(
    spark, seed, threshold, cap, monkeypatch
):
    """r11: the unguarded path's regime choice must be invisible — exact
    same pair set + scores as O(n²) brute force for BOTH metrics, in
    BOTH regimes (cap=None → the broadcast small-index plan; cap="0"
    forces the at-scale asymmetric prefix filter: rarest-first probe of
    the smaller side vs the full index), on a corpus where EVERY doc
    shares hot boilerplate shingles (the candidate-explosion case the
    prefix filter exists to prune)."""
    from quackosm_spark.operators import dedup as D

    if cap is not None:
        monkeypatch.setenv("SPARK_GRAFT_SHINGLE_BROADCAST_CAP", cap)

    rng = random.Random(seed)
    boiler = "call now and subscribe to our newsletter today"
    docs = []
    for i in range(40):
        body = " ".join(rng.choice(WORDS) for _ in range(rng.randint(0, 10)))
        docs.append((i, (body + " " + boiler).strip()))
    for i in range(6):  # true near-dups / containments of the first six
        docs.append((100 + i, docs[i][1] + " bonus"))

    def shingles(t):
        t = t.lower()
        # mirrors char_shingles: substr(i, 5) for i in 1..max(len-4, 1)
        return {t[k:k + 5] for k in range(max(len(t) - 4, 1))}

    sets = {i: shingles(t) for i, t in docs}
    ids = sorted(sets)
    exp_j, exp_c = {}, {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            j = round(inter / len(sets[a] | sets[b]), 6)
            c = round(inter / min(len(sets[a]), len(sets[b])), 6)
            if j >= threshold:
                exp_j[(a, b)] = j
            if c >= threshold:
                exp_c[(a, b)] = c

    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    got_j = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(df, threshold=threshold).collect()
    }
    got_c = {
        (r.doc_a, r.doc_b): r.containment
        for r in D.containment_pairs(df, threshold=threshold).collect()
    }
    assert got_j == pytest.approx(exp_j)
    assert got_c == pytest.approx(exp_c)


@pytest.mark.parametrize("seed", [11, 12])
def test_bpe_tokens_match_python_reference_random(spark, seed):
    """r03: the Column replace-chain BPE apply vs a per-word python BPE
    on random corpora (merges trained on the same corpus)."""
    import re

    from quackosm_spark.operators.text import (
        _BPE_NORMALIZE_RE,
        bpe_tokens,
        train_bpe_merges,
    )

    docs_rows = _random_docs(seed, n=40)
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    merges = train_bpe_merges(docs, n_merges=12, order_col="doc_id")

    def py_apply(text):
        norm = re.sub(_BPE_NORMALIZE_RE, " ", (text or "").lower())
        toks_all = []
        for w in norm.split():
            toks = list(w)
            for a, b in merges:
                out, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                toks = out
            toks_all.extend(toks)
        return toks_all

    got = {
        r["doc_id"]: r["t"]
        for r in docs.select(
            "doc_id", bpe_tokens(F.col("text"), merges).alias("t")
        ).collect()
    }
    for doc_id, text in docs_rows:
        assert got[doc_id] == py_apply(text), (doc_id, text)


@pytest.mark.parametrize("seed", [21, 22])
def test_oov_and_bigram_match_bruteforce(spark, seed):
    import collections

    from quackosm_spark.operators.text import bigram_logprob, oov_rate

    docs_rows = _random_docs(seed, n=50)
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")

    toks = {i: t.split() for i, t in docs_rows}
    counts = collections.Counter(w for ws in toks.values() for w in ws)
    vocab = {
        w
        for w, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
    }
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_oov"])
        for r in oov_rate(docs, vocab_size=4).collect()
    }
    for i, ws in toks.items():
        if not ws:
            assert i not in got
            continue
        assert got[i] == (len(ws), sum(1 for w in ws if w not in vocab)), i

    bigrams = collections.Counter()
    prefixes = collections.Counter()
    for ws in toks.values():
        for a, b in zip(ws, ws[1:]):
            bigrams[(a, b)] += 1
            prefixes[a] += 1
    v = len(counts)
    got_bg = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in bigram_logprob(docs, k=1.0).collect()
    }
    for i, ws in toks.items():
        if len(ws) < 2:
            assert i not in got_bg
            continue
        logs = [
            math.log((bigrams[(a, b)] + 1.0) / (prefixes[a] + v))
            for a, b in zip(ws, ws[1:])
        ]
        assert got_bg[i][0] == len(logs)
        assert got_bg[i][1] == pytest.approx(
            round(sum(logs) / len(logs), 4), abs=1e-4
        ), i


@pytest.mark.parametrize("seed,n_merges", [(21, 6), (22, 10)])
def test_distributed_bpe_matches_driver_trainer(spark, seed, n_merges):
    """The distributed pair-count trainer must be bit-equal to the
    driver-side sample trainer on identical rows (same normalization,
    greedy application, tie-break, min_freq stop)."""
    from quackosm_spark.operators.text import (
        train_bpe_merges,
        train_bpe_merges_distributed,
    )

    docs = _random_docs(seed, n=80)
    d = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    expected = train_bpe_merges(
        d, n_merges=n_merges, sample_rows=10**9, order_col="doc_id"
    )
    got = train_bpe_merges_distributed(d, n_merges=n_merges)
    assert got == expected


def test_gopher_rules_semantics(spark):
    from quackosm_spark.operators.text import gopher_rules

    good = "The quick brown foxes have been running to the barn " * 8
    bullets = "\n".join(f"- item {i} of the list to have" for i in range(20))
    symbols = ("word " * 60) + ("#" * 40)
    rows = [
        (1, good), (2, ""), (3, bullets), (4, symbols),
        (5, "short text only"),
    ]
    d = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r.doc_id: r for r in gopher_rules(d, min_words=20).collect()}
    assert out[1].passes
    assert not out[2].rule_word_count and not out[2].passes
    assert not out[3].rule_bullets  # every line bullet-led
    assert not out[4].rule_symbol_ratio
    assert not out[5].rule_word_count


def test_gopher_rules_matches_python_reference(spark):
    """Flag-for-flag differential vs a plain-Python reimplementation on
    random mixed docs."""
    from quackosm_spark.operators.text import GOPHER_STOPWORDS, gopher_rules

    rng = random.Random(31)
    pool = WORDS + ["the", "and", "#tag", "a", "...", "•", "x" * 15]
    rows = []
    for i in range(50):
        n = rng.randint(0, 80)
        words = [rng.choice(pool) for _ in range(n)]
        text = ""
        for w in words:
            text += w + (rng.random() < 0.1 and "\n" or " ")
        rows.append((i, text))

    def ref(text):
        words = [w for w in text.split() if w]
        nw = len(words)
        dw = max(nw, 1)
        mean_len = sum(len(w) for w in words) / dw
        sym = (
            text.count("#") + text.count("…") + text.count("...")
        ) / dw
        lines = [l for l in text.split("\n") if l.strip()]
        dl = max(len(lines), 1)
        bull = sum(
            1 for l in lines if l.lstrip(" ").startswith(("-", "*", "•"))
        ) / dl
        ell = sum(
            1
            for l in lines
            if l.rstrip(" ").endswith(("...", "…"))
        ) / dl
        alpha = sum(1 for w in words if any(c.isascii() and c.isalpha() for c in w)) / dw
        lower = [w.lower() for w in words]
        stops = sum(1 for s in GOPHER_STOPWORDS if s in lower)
        return (
            20 <= nw <= 100_000, 3.0 <= mean_len <= 10.0, sym <= 0.1,
            bull <= 0.9, ell <= 0.3, alpha >= 0.8, stops >= 2,
        )

    d = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r.doc_id: (
            r.rule_word_count, r.rule_word_length, r.rule_symbol_ratio,
            r.rule_bullets, r.rule_ellipsis, r.rule_alpha,
            r.rule_stopwords,
        )
        for r in gopher_rules(d, min_words=20).collect()
    }
    for i, text in rows:
        assert got[i] == ref(text), f"doc {i}: {text!r}"


def test_dsir_logweights_orders_target_like_docs(spark):
    from quackosm_spark.operators.text import dsir_logweights

    target_text = "alpha beta gamma delta " * 10
    other_text = "zeta eta theta omega " * 10
    rows = (
        [(i, target_text, "tgt") for i in range(20)]
        + [(100 + i, other_text, "web") for i in range(20)]
        + [(200, target_text, "web"), (201, other_text, "tgt")]
    )
    d = spark.createDataFrame(rows, "doc_id LONG, text STRING, source STRING")
    out = {r.doc_id: r.logweight for r in
           dsir_logweights(d, target_source="tgt", buckets=256).collect()}
    # a target-looking doc in the raw pool outranks a raw-looking one
    assert out[200] > out[201]
    assert out[0] > out[100]

    with pytest.raises(ValueError, match="nope"):
        dsir_logweights(d, target_source="nope", buckets=256).collect()


def test_dedup_keep_best_retains_highest_quality(spark):
    from quackosm_spark.operators.dedup import dedup_keep_best

    dup_a = "the quick brown fox jumps over the lazy dog in the morning sun"
    dup_b = dup_a + " !!!!!!!!!!!!!!!!!!!!!!!!"  # same content, worse quality
    uniq = "completely different text about distributed query engines"
    rows = [(1, dup_b), (2, dup_a), (3, uniq)]
    d = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r.doc_id: r for r in dedup_keep_best(d, threshold=0.3).collect()}
    assert out[1].cluster_id == out[2].cluster_id == 1
    assert out[2].keep and not out[1].keep  # cleaner copy wins despite id
    assert out[3].keep and out[3].cluster_id == 3


def test_gopher_rules_sql_empty_doc_flags_not_null(spark):
    """DuckDB list_sum([]) is NULL — the SQL fragment must coalesce it so
    empty/whitespace-only docs yield the SAME deterministic (non-NULL)
    flags as the Spark side, per the documented empty-doc contract."""
    import duckdb

    from quackosm_spark.operators.text import gopher_rules, gopher_rules_sql

    rows = [(1, ""), (2, "   "), (3, "\n\n"), (4, "a solid normal doc here")]
    frag = gopher_rules_sql("text")
    con = duckdb.connect()
    con.sql(
        "create view d as select * from (values "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") t(doc_id, text)"
    )
    sql_out = {
        r[0]: r[1:]
        for r in con.sql(
            f"select doc_id, {frag} from d order by doc_id"
        ).fetchall()
    }
    for doc_id, vals in sql_out.items():
        assert all(v is not None for v in vals), (doc_id, vals)
    d = spark.createDataFrame(rows, "doc_id long, text string")
    spark_out = {r["doc_id"]: r for r in gopher_rules(d).collect()}
    cols = [
        "n_words", "rule_word_count", "rule_word_length",
        "rule_symbol_ratio", "rule_bullets", "rule_ellipsis",
        "rule_alpha", "rule_stopwords", "passes",
    ]
    # positional compare: the fragment emits n_words, the rule flags, and
    # passes in the same order as gopher_rules' output columns
    for doc_id, vals in sql_out.items():
        srow = spark_out[doc_id]
        for name, v in zip(cols, vals):
            assert bool(srow[name]) == bool(v), (doc_id, name, srow[name], v)


def test_ivf_topk_sweep_matches_per_depth_ivf_topk(spark):
    """r07: ivf_topk_sweep must be bit-identical to ivf_topk at every
    requested depth — same centroids (deterministic trainer), same
    candidate set, same (cosine desc, match_id) tie-break — while
    training/assigning the cell model once."""
    import random

    from quackosm_spark.operators.similarity import ivf_topk, ivf_topk_sweep

    random.seed(31)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    qs = emb.where("vec_id < 4")

    sweep = ivf_topk_sweep(emb, qs, k=5, num_cells=8, nprobes=(2, 5, 8))
    got = {
        n: sorted(
            (r.query_id, r.match_id, r.cosine, r.rank)
            for r in sweep.where(f"nprobe = {n}").collect()
        )
        for n in (2, 5, 8)
    }
    for n in (2, 5, 8):
        ref = sorted(
            (r.query_id, r.match_id, r.cosine, r.rank)
            for r in ivf_topk(emb, qs, k=5, num_cells=8, nprobe=n).collect()
        )
        assert got[n] == ref, f"nprobe={n}"


@pytest.mark.parametrize("seed", [11, 12])
def test_pmi_collocations_matches_python(spark, seed):
    """r10: PMI over the bigram stream vs a plain-Python computation —
    marginals from the same stream, min_count floor, rank determinism."""
    from collections import Counter

    from quackosm_spark.operators.text import pmi_collocations

    docs = _random_docs(seed, n=80)
    # python reference
    pair, pref, suff, total = Counter(), Counter(), Counter(), 0
    for _, text in docs:
        toks = [t for t in text.lower().strip().split() if t]
        for a, b in zip(toks, toks[1:]):
            pair[(a, b)] += 1
            pref[a] += 1
            suff[b] += 1
            total += 1
    want = []
    for (a, b), c in pair.items():
        if c >= 3:
            pmi = round(math.log((c * float(total)) / (pref[a] * float(suff[b]))), 6)
            want.append((-pmi, a, b, c))
    want.sort()
    want_ranked = [
        (a, b, c, -negpmi, i + 1)
        for i, (negpmi, a, b, c) in enumerate(want[:10])
    ]

    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    got = [
        (r.w1, r.w2, r.n_pair, r.pmi, r.rank)
        for r in pmi_collocations(df, min_count=3, top_k=10)
        .orderBy("rank")
        .collect()
    ]
    assert got == want_ranked and len(got) > 0


def test_pmi_collocations_validates_min_count(spark):
    from quackosm_spark.operators.text import pmi_collocations

    df = spark.createDataFrame([(1, "a b")], "doc_id: long, text: string")
    with pytest.raises(ValueError, match="min_count"):
        pmi_collocations(df, min_count=0)


@pytest.mark.parametrize("thr", [0.3, 0.9])
def test_semantic_dedup_blocked_matches_pair_join(spark, thr):
    """r12: semantic_dedup's block-pair GEMM drop-set must be IDENTICAL to
    the reference within-cluster pair join — including every malformed-row
    category the Column fold tolerates (NULL vector, NaN/±inf components,
    zero norm, dim mismatch, NULL cluster) and boundary pairs near the
    round-6 threshold."""
    import random

    from quackosm_spark.operators.dedup import (
        semantic_dedup,
        semantic_duplicates,
    )

    random.seed(7)
    rows = []
    for i in range(300):
        rows.append((i, i % 5, [random.gauss(0, 1) for _ in range(16)]))
    for i in range(300, 360):  # near-dup chains: jittered clones
        base = rows[i % 100][2]
        rows.append(
            (i, (i % 100) % 5, [x + random.gauss(0, 0.01) for x in base])
        )
    rows += [
        (500, 0, None),
        (501, 1, [float("nan")] * 16),
        (502, 2, [0.0] * 16),
        (503, 3, [float("inf")] * 16),
        (504, 4, [1.0] * 8),
        (505, None, [1.0] * 16),
    ]
    df = spark.createDataFrame(
        rows, "vec_id: long, label: int, embedding: array<double>"
    )
    got = sorted(
        r.vec_id for r in semantic_dedup(df, "label", threshold=thr).collect()
    )
    dropped = set(
        r.id_b
        for r in semantic_duplicates(df, "label", threshold=thr).collect()
    )
    want = sorted(
        r.vec_id for r in df.select("vec_id").collect() if r.vec_id not in dropped
    )
    assert got == want


def _hof_sub_l2(vec_slice, centroid):
    """The pre-r12 zip_with+aggregate formulation of similarity._sub_l2 —
    kept as the semantic reference for the unrolled codegen rewrite."""
    cent = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec_slice, cent, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_MALFORMED_VECS = [
    (0, [1.0, 2.0, 3.0, 4.0]),            # well-formed
    (1, None),                             # NULL vector
    (2, [1.0, 2.0]),                       # too short
    (3, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]),  # too long
    (4, [1.0, None, 3.0, 4.0]),           # NULL element
    (5, [1.0, float("nan"), 3.0, 4.0]),   # NaN element
    (6, []),                               # empty
]


def test_sub_l2_unrolled_matches_hof_fold(spark):
    """The r12 unrolled ``_sub_l2`` must agree with the old interpreted
    zip_with+aggregate fold on EVERY malformed-vector class, at both call
    shapes: full-vector (``whole=True``, the argmin/kmeans path, where the
    old ``zip_with(vec, cent)`` NULLs any length mismatch) and sliced
    subspace (``off``/``whole=False``, the PQ encode/ADC path, where the
    old ``zip_with(slice(vec, off+1, k), cent)`` NULLs short vectors but
    tolerates long ones)."""
    from quackosm_spark.operators.similarity import _sub_l2

    df = spark.createDataFrame(_MALFORMED_VECS, "id: long, v: array<double>")
    cent2 = [0.5, 1.5]
    cent4 = [0.5, 1.5, 2.5, 3.5]
    cases = [
        (_sub_l2(F.col("v"), cent4), _hof_sub_l2(F.col("v"), cent4)),
        (
            _sub_l2(F.col("v"), cent2, off=2, whole=False),
            _hof_sub_l2(F.slice(F.col("v"), 3, 2), cent2),
        ),
        (
            _sub_l2(F.col("v"), cent2, off=0, whole=False),
            _hof_sub_l2(F.slice(F.col("v"), 1, 2), cent2),
        ),
    ]
    for i, (new, old) in enumerate(cases):
        rows = df.select("id", new.alias("n"), old.alias("o")).collect()
        for r in rows:
            if r.n is None or r.o is None:
                assert r.n is None and r.o is None, (i, r)
            elif math.isnan(r.n) or math.isnan(r.o):
                assert math.isnan(r.n) and math.isnan(r.o), (i, r)
            else:
                assert r.n == r.o, (i, r)


def test_pq_reranked_hybrid_l2_handles_mixed_dims(spark):
    """pq_topk_reranked's hybrid exact-L2 (unrolled fast path + fold
    fallback) on a corpus mixing codebook-dim vectors with short/long/
    null-element ones: the malformed corpus vectors must still NULL out
    exactly as the old single-fold expression did (NULL l2 for any pair
    whose lengths mismatch), leaving the well-formed top-k identical to
    numpy."""
    import numpy as np

    from quackosm_spark.operators.similarity import (
        pq_topk_reranked,
        train_pq_codebooks,
    )

    rng = np.random.RandomState(11)
    rows = [(i, rng.rand(16).tolist()) for i in range(40)]
    rows += [(100, rng.rand(8).tolist()), (101, None)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    well = df.where("vec_id < 40")
    books = train_pq_codebooks(well, m=2, k=4, sample_size=40)
    got = pq_topk_reranked(
        df, well.where("vec_id < 3"), books, k=5, shortlist=1000
    ).collect()
    mat = {i: np.asarray(v) for i, v in rows[:40]}
    for qid in range(3):
        mine = sorted(
            (r.rank, r.match_id, r.l2) for r in got if r.query_id == qid
        )
        # NULL l2 (the malformed corpus rows) sorts ASC NULLS FIRST in the
        # rank window — exactly as the old fold did; everything after is
        # the exact numpy order
        exact = sorted(
            (round(float(np.linalg.norm(mat[qid] - mat[m])), 6), m)
            for m in mat
            if m != qid
        )
        nulls = [m for r, m, l2 in mine if l2 is None]
        reals = [(l2, m) for r, m, l2 in mine if l2 is not None]
        assert reals == exact[: len(reals)]
        assert set(nulls) <= {100, 101}


def test_argmin_code_matches_struct_sort(spark):
    """_argmin_code (array_position(arr, array_min(arr)) over one distance
    array) vs the former sort_array(array(struct(d, i)))[0].i on every
    distance-vector class:
    distinct, tied, all-NULL (malformed vector), all-NaN — ties and
    degenerate rows must resolve to the LOWEST index exactly as the
    struct sort did."""
    from quackosm_spark.operators.similarity import _argmin_code, _sub_l2

    cents = [[0.0, 0.0], [1.0, 1.0], [0.0, 0.0]]  # duplicate centroid: tie
    vecs = [
        (0, [0.1, 0.1]),                  # nearest cent 0 (ties with 2 -> 0)
        (1, [1.0, 1.0]),                  # exact hit cent 1
        (2, None),                        # NULL vector -> all-NULL d
        (3, [1.0]),                       # wrong dim -> all-NULL d
        (4, [float("nan"), 0.0]),         # NaN component -> all-NaN d
        (5, [0.6, 0.6]),                  # between: 0.72 vs 0.32 -> cent 1
    ]
    df = spark.createDataFrame(vecs, "id: long, v: array<double>")
    new = _argmin_code([_sub_l2(F.col("v"), c) for c in cents])
    old = F.sort_array(
        F.array(
            *[
                F.struct(
                    _hof_sub_l2(F.col("v"), c).alias("d"),
                    F.lit(i).alias("cell"),
                )
                for i, c in enumerate(cents)
            ]
        )
    )[0]["cell"]
    rows = df.select("id", new.alias("n"), old.alias("o")).collect()
    for r in rows:
        assert r.n == r.o, r


def _hof_cosine(a, b):
    """The HOF cosine_similarity formulation (dedup.cosine_similarity) —
    the semantic reference for the r12 unrolled hybrid."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    denom = norm(a) * norm(b)
    return F.when((denom > 0) & ~F.isnan(dot), dot / denom)


def test_cosine_static_dim_matches_hof(spark):
    """_cosine_static_dim (r12 unrolled hybrid) vs the HOF cosine on every
    malformed-vector class: NULL vector, wrong dims (short/long), NULL
    element, NaN element, zero norm, empty — values must be identical (including NULL-ness) because the fast path
    replicates the fold order and everything else falls back to the HOF
    expression itself."""
    from quackosm_spark.operators.similarity import _cosine_static_dim

    vecs = [
        (0, [1.0, 2.0, 3.0, 4.0], [4.0, 3.0, 2.0, 1.0]),
        (1, None, [1.0, 2.0, 3.0, 4.0]),
        (2, [1.0, 2.0], [1.0, 2.0, 3.0, 4.0]),       # short a
        (3, [1.0] * 6, [1.0, 2.0, 3.0, 4.0]),        # long a
        (4, [1.0, None, 3.0, 4.0], [1.0, 2.0, 3.0, 4.0]),
        (5, [1.0, float("nan"), 3.0, 4.0], [1.0, 2.0, 3.0, 4.0]),
        (6, [0.0, 0.0, 0.0, 0.0], [1.0, 2.0, 3.0, 4.0]),  # zero norm
        (7, [], []),
        (8, [1.0, 2.0], [1.0, 2.0]),                 # both short (match)
    ]
    df = spark.createDataFrame(
        vecs, "id: long, a: array<double>, b: array<double>"
    )
    new = _cosine_static_dim(F.col("a"), F.col("b"), 4)
    old = _hof_cosine(F.col("a"), F.col("b"))
    for r in df.select("id", new.alias("n"), old.alias("o")).collect():
        if r.n is None or r.o is None:
            assert r.n is None and r.o is None, r
        elif math.isnan(r.n) or math.isnan(r.o):
            assert math.isnan(r.n) and math.isnan(r.o), r
        else:
            assert r.n == r.o, r
