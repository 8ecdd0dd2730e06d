"""The corpus LM family (``operators.text``) against pure-Python
references on documents of 0 (NULL text), 1 (the empty string is one
empty token), 2 and 3+ tokens — the edges of every n-gram range.  Under
the default guard the logs come from the exact-libm tables, so the
engine must equal the reference bit for bit; past the guard (in-plan
``F.log``) it must agree to a few ulps."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from vtb_datafusion_2023_spark.functions import stats
from vtb_datafusion_2023_spark.operators import text
from vtb_datafusion_2023_spark.sources.readers import small_frame

DOCS = [
    (1, None), (2, ""), (3, "a"), (4, "a b"), (5, "a b c"), (6, "b c a"),
    (7, "c"), (8, "a b"), (9, "a b c a"), (10, "c a b"), (11, "b a d"),
    (12, "c b a"), (13, ""), (14, "b c"),
]
TRAIN_IDS = {5, 6, 7, 8}


def _toks(t):
    return [] if t is None else t.split(" ")


def _grams(t, n):
    w = _toks(t)
    return [tuple(w[i:i + n]) for i in range(len(w) - n + 1)]


def _fold(xs):
    """Left to right, seeded from the first element."""
    acc = xs[0]
    for x in xs[1:]:
        acc += x
    return acc


def _counts(docs, n):
    return Counter(g for _, t in docs for g in _grams(t, n))


def ref_unigram(docs):
    cnt = _counts(docs, 1)
    total = sum(cnt.values())
    out = {}
    for d, t in docs:
        if gs := _grams(t, 1):
            lnp = [math.log((cnt[g] if cnt[g] >= text.LM_MIN_COUNT else text.LM_OOV_WEIGHT) / total)
                   for g in gs]
            out[d] = (len(gs), _fold([-x for x in lnp]) / len(gs))
    return out


def ref_bigram(docs):
    cb = _counts(docs, 2)
    ctx = Counter()
    for (w1, _), c in cb.items():
        ctx[w1] += c
    ln_oov = math.log(text.LM_OOV_WEIGHT) - math.log(sum(cb.values()))
    out = {}
    for d, t in docs:
        if gs := _grams(t, 2):
            lnp = [math.log(cb[g]) - math.log(ctx[g[0]]) if cb[g] >= text.LM_MIN_COUNT else ln_oov
                   for g in gs]
            out[d] = (len(gs), _fold([-x for x in lnp]) / len(gs))
    return out


def ref_entropy(docs):
    out = {}
    for d, t in docs:
        if c := Counter(_toks(t)):
            n = sum(c.values())
            s = _fold([float(c[w]) * math.log(c[w]) for w in sorted(c)])
            out[d] = (n, math.log(n) - s / n)
    return out


def ref_stupid_backoff(docs, train):
    uni, bi, tri = (_counts(train, n) for n in (1, 2, 3))
    lb, ln_total = math.log(0.4), math.log(sum(uni.values()))
    out = {}
    for d, t in docs:
        lns = []
        for w1, w2, w3 in _grams(t, 3):
            if tri[(w1, w2, w3)]:
                lns.append(math.log(tri[(w1, w2, w3)]) - math.log(bi[(w1, w2)]))
            elif bi[(w2, w3)]:
                lns.append(lb + math.log(bi[(w2, w3)]) - math.log(uni[(w2,)]))
            else:
                ln3 = math.log(uni[(w3,)]) if uni[(w3,)] else 0.0
                lns.append(lb + lb + ln3 - ln_total)
        if lns:
            out[d] = (len(lns), -_fold(lns) / len(lns))
    return out


def ref_pmi(docs, min_count):
    uni, big = _counts(docs, 1), _counts(docs, 2)
    ln_nu, ln_nb = math.log(sum(uni.values())), math.log(sum(big.values()))
    return {
        (a, b): (c, ((((math.log(c) - ln_nb) - math.log(uni[(a,)])) - math.log(uni[(b,)]))
                     + ln_nu) + ln_nu)
        for (a, b), c in big.items()
        if c >= min_count
    }


def ref_top_ngrams(docs):
    out = {}
    for n in text.TOP_NGRAM_NS:
        cnt = Counter(" ".join(g) for _, t in docs for g in _grams(t, n))
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[: text.TOP_NGRAM_K]
        out.update({(n, g): (c, r) for r, (g, c) in enumerate(ranked, 1)})
    return out


@pytest.fixture(scope="module")
def frames(spark):
    docs = small_frame(spark, DOCS, "doc_id bigint, text string")
    train = small_frame(spark, [r for r in DOCS if r[0] in TRAIN_IDS], "doc_id bigint, text string")
    return docs, train


def _cases(docs, train):
    tr = [r for r in DOCS if r[0] in TRAIN_IDS]
    return {
        "unigram_logprob": (text.unigram_logprob(docs), ref_unigram(DOCS)),
        "bigram_logprob": (text.bigram_logprob(docs), ref_bigram(DOCS)),
        "token_entropy": (text.token_entropy(docs), ref_entropy(DOCS)),
        "stupid_backoff_logprob": (
            text.stupid_backoff_logprob(docs, train=train), ref_stupid_backoff(DOCS, tr)
        ),
        "bigram_pmi": (text.bigram_pmi(docs, min_count=2), ref_pmi(DOCS, 2)),
        "top_ngrams": (text.top_ngrams(docs), ref_top_ngrams(DOCS)),
    }


def _rows(name, frame):
    if name == "bigram_pmi":
        return {(r.w1, r.w2): (r.c_ab, r.pmi) for r in frame.collect()}
    if name == "top_ngrams":
        return {(r.n, r.ngram): (r.cnt, r.rank) for r in frame.collect()}
    return {r[0]: (r[1], r[2]) for r in frame.collect()}


NAMES = ["unigram_logprob", "bigram_logprob", "token_entropy", "stupid_backoff_logprob",
         "bigram_pmi", "top_ngrams"]


@pytest.mark.parametrize("name", NAMES)
def test_lm_family_matches_python_reference_bitwise(frames, name):
    got, want = _cases(*frames)[name]
    assert _rows(name, got) == want


@pytest.mark.parametrize("name", NAMES)
def test_lm_family_past_the_guard_matches_reference(frames, monkeypatch, name):
    monkeypatch.setattr(stats, "EXACT_LN_GUARD", 0)
    got, want = _cases(*frames)[name]
    got = _rows(name, got)
    assert got.keys() == want.keys()
    for key, (count, value) in want.items():
        assert got[key][0] == count
        assert got[key][1] == pytest.approx(value, rel=1e-12, abs=1e-12)


def test_reference_covers_every_ngram_edge():
    """The fixture reaches each branch the references model: a NULL and an
    empty document, unigram-only and bigram-only documents, and all three
    Stupid Backoff cases including an out-of-vocabulary final word."""
    lens = {len(_toks(t)) for _, t in DOCS}
    assert {0, 1, 2, 3} <= lens
    tr = [r for r in DOCS if r[0] in TRAIN_IDS]
    uni, bi, tri = (_counts(tr, n) for n in (1, 2, 3))
    kinds = Counter(
        "tri" if tri[g] else "bi" if bi[g[1:]] else "oov" if not uni[g[2:]] else "uni"
        for _, t in DOCS for g in _grams(t, 3)
    )
    assert {"tri", "bi", "uni", "oov"} <= kinds.keys()
