"""Exact values of the text measures built on the shared term-count stage
(``text._term_counts``), each against a pure-Python reference of its
formula. The references mirror the engine's arithmetic: ``ROUND`` is
HALF_UP on the double's shortest decimal form, ``log2(x)`` is
``ln(x) / ln(2)``, and the nano-unit sums add ``ROUND(x·10⁹)`` integers.
"""

import math
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pytest

# a repeated term, a zero-token doc, a one-token doc (no bigrams) and an
# NBSP-joined token, which the ASCII-whitespace tokenizer keeps whole
CORPUS = [
    (1, "Spark window spark merge"),
    (2, "   "),
    (3, "merge"),
    (4, "spark\u00a0window merge window"),
    (5, "window spark window spark window"),
]
QUERY = "spark window"


def _toks(text):
    return [t for t in re.split(r"[ \t\n\x0b\f\r]+", text.lower()) if t]


def _round(x, digits=0):
    q = Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), ROUND_HALF_UP)
    return float(q)


def _nano(x):
    return int(_round(x * 1000000000))


def _log2(x):
    return math.log(x) / math.log(2)


def _tf():
    return {i: Counter(_toks(t)) for i, t in CORPUS}


def ref_tfidf(k=2):
    tf = _tf()
    df = Counter(t for c in tf.values() for t in c)
    n = len(CORPUS)
    rows = []
    for i, c in tf.items():
        scored = sorted(
            ((-_round(f * math.log((n + 1.0) / (df[t] + 1.0)), 9), t, f)
             for t, f in c.items())
        )
        for r, (s, t, f) in enumerate(scored[:k], 1):
            rows.append((i, t, f, df[t], -s, r))
    return rows


def ref_entropy():
    rows = []
    for i, c in _tf().items():
        if not c:
            continue
        n = sum(c.values())
        clog = sum(f * _log2(f) for f in c.values())
        rows.append((i, n, _round(_log2(n) - clog / n, 6)))
    return rows


def ref_coverage(vocab_size=2):
    c = Counter(t for _, text in CORPUS for t in _toks(text))
    ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(c.values())
    covered = sum(f for _, f in ranked[:vocab_size])
    return [(vocab_size, len(c), total, covered, _round(covered / total, 6))]


def _mean_bits(per_doc):
    return [
        (i, sum(tf for tf, _ in v),
         _round(float(sum(b for _, b in v)) / 1000000000.0
                / sum(tf for tf, _ in v), 6))
        for i, v in per_doc.items()
    ]


def ref_unigram(alpha=0.5):
    tf = _tf()
    cnt = Counter()
    for c in tf.values():
        cnt.update(c)
    total, vocab = sum(cnt.values()), len(cnt)
    return _mean_bits({
        i: [(f, _nano(f * -_log2((cnt[t] + alpha) / (total + alpha * vocab))))
            for t, f in c.items()]
        for i, c in tf.items() if c
    })


def ref_bigram(alpha=0.5):
    bg = {
        i: Counter(zip(ts, ts[1:]))
        for i, text in CORPUS if len(ts := _toks(text)) >= 2
    }
    cnt, ctx = Counter(), Counter()
    for c in bg.values():
        cnt.update(c)
        for (p, _), f in c.items():
            ctx[p] += f
    vocab = len({t for _, text in CORPUS for t in _toks(text)})
    return _mean_bits({
        i: [(f, _nano(f * -_log2((cnt[pc] + alpha)
                                 / (ctx[pc[0]] + alpha * vocab))))
            for pc, f in c.items()]
        for i, c in bg.items()
    })


def ref_bm25(k1=1.2, b=0.75):
    tf = _tf()
    q = set(_toks(QUERY))
    dl = {i: sum(c.values()) for i, c in tf.items()}
    n = len(CORPUS)
    avgdl = sum(dl.values()) / n
    df = Counter(t for c in tf.values() for t in c if t in q)
    rows = []
    for i, c in tf.items():
        hits = [(t, f) for t, f in c.items() if t in q]
        if not hits:
            continue
        s = 0
        for t, f in hits:
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += _nano(
                idf * (f * (k1 + 1.0))
                / (f + k1 * (1.0 - b + b * dl[i] / avgdl))
            )
        rows.append((i, len(hits), _round(float(s) / 1000000000.0, 6)))
    return rows


def _measures():
    from dask_sql_spark.operators import text

    return {
        "tfidf_top_terms": (lambda df: text.tfidf_top_terms(df, k=2),
                            ref_tfidf),
        "add_unigram_entropy": (text.add_unigram_entropy, ref_entropy),
        "vocab_coverage": (lambda df: text.vocab_coverage(df, vocab_size=2),
                           ref_coverage),
        "unigram_lm_bits": (text.unigram_lm_bits, ref_unigram),
        "bigram_lm_bits": (text.bigram_lm_bits, ref_bigram),
        "bm25_search": (lambda df: text.bm25_search(df, QUERY), ref_bm25),
    }


@pytest.mark.parametrize("parts", [1, 3])
@pytest.mark.parametrize(
    "measure",
    ["tfidf_top_terms", "add_unigram_entropy", "vocab_coverage",
     "unigram_lm_bits", "bigram_lm_bits", "bm25_search"],
)
def test_text_measure_exact_values(spark, measure, parts):
    build, ref = _measures()[measure]
    df = spark.createDataFrame(CORPUS, "doc_id LONG, text STRING")
    got = sorted(tuple(r) for r in build(df.repartition(parts)).collect())
    assert got == sorted(ref())
