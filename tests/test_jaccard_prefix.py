"""Pinned equivalence: AllPairs/PPJoin prefix-filtered jaccard/containment
vs the bucket-count plan vs an independent pure-Python oracle.

Both plans are called directly (dedup._prefix_overlap and
dedup._bucket_overlap), whatever plan the threshold would pick. The
prefix filter must be LOSSLESS — identical final pair sets and similarity values at every
threshold — while emitting strictly fewer candidate pairs at selective
thresholds (that reduction is the point: SCALING.md's measured 26 GB
candidate shuffle at 5M docs is the operator's scale driver).

The corpus is adversarial by construction: exact dups, planted near-dups
at several edit distances, excerpt/containment pairs, a stopword token in
every doc (hot-shingle path), size-ratio boundary pairs, and short docs
(< n tokens, single-gram semantics).
"""

from __future__ import annotations

import random
import re

import pytest

import dask_sql_spark.operators.dedup as dedup_mod
from dask_sql_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs


# --------------------------------------------------------------------- #
# pure-Python oracle (replicates text.tokens / word_ngrams keep_short)   #
# --------------------------------------------------------------------- #
def _py_shingles(text: str, n: int = 3) -> set[str]:
    toks = [t for t in re.split(r"[ \t\n\r\f\v]+", text.strip().lower()) if t]
    hi = max(len(toks) - n, 0)
    grams = {" ".join(toks[i : i + n]) for i in range(hi + 1)}
    return {g for g in grams if g}


def _py_pairs(corpus, threshold, max_df=None, n=3, mode="jaccard"):
    sh = {i: _py_shingles(t, n) for i, t in corpus}
    if max_df is not None:
        df_count: dict[str, int] = {}
        for s in sh.values():
            for g in s:
                df_count[g] = df_count.get(g, 0) + 1
        sh = {
            i: {g for g in s if df_count[g] <= max_df} for i, s in sh.items()
        }
    out = {}
    ids = sorted(sh)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if not sh[a] or not sh[b]:
                continue
            common = len(sh[a] & sh[b])
            if common == 0:
                continue
            if mode == "jaccard":
                val = round(common / (len(sh[a]) + len(sh[b]) - common), 6)
                if val >= threshold:
                    out[(a, b)] = val
            else:
                c_ab = round(common / len(sh[a]), 6)
                c_ba = round(common / len(sh[b]), 6)
                val = max(c_ab, c_ba)
                if val >= threshold:
                    direction = (
                        "mutual"
                        if c_ab == c_ba
                        else ("a_in_b" if c_ab > c_ba else "b_in_a")
                    )
                    out[(a, b)] = (val, direction)
    return out


# --------------------------------------------------------------------- #
# adversarial corpus                                                    #
# --------------------------------------------------------------------- #
def _corpus():
    rng = random.Random(0xA11)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    i = 0

    def add(text):
        nonlocal i
        docs.append((i, text))
        i += 1

    # random base docs — every doc carries the stopword 'the' (hot shingle)
    for _ in range(30):
        length = rng.randint(3, 22)
        toks = ["the"] + [vocab[rng.randrange(len(vocab))] for _ in range(length)]
        add(" ".join(toks))
    # exact dups + near-dups at several distances
    for src in (0, 3, 7, 11):
        base = docs[src][1].split()
        add(" ".join(base))  # exact
        for k in (1, 2, 4):
            mut = list(base)
            for _ in range(min(k, len(mut))):
                mut[rng.randrange(len(mut))] = vocab[rng.randrange(len(vocab))]
            add(" ".join(mut))
    # containment: excerpts wrapped in long pages
    for src in (1, 5):
        base = docs[src][1].split()
        page = (
            [vocab[rng.randrange(len(vocab))] for _ in range(15)]
            + base
            + [vocab[rng.randrange(len(vocab))] for _ in range(15)]
        )
        add(" ".join(page))
    # short docs (< n tokens → single-gram semantics)
    add("w1 w2")
    add("w1 w2")
    add("w3")
    # size-ratio boundary: small doc vs its 5x repetition-padded twin
    small = "w5 w6 w7 w8 w9"
    add(small)
    add(small + " " + " ".join(f"w{10 + j}" for j in range(25)))
    return docs


@pytest.fixture(scope="module")
def corpus_df(spark):
    corpus = _corpus()
    return corpus, spark.createDataFrame(corpus, ["doc_id", "text"])


THRESHOLDS = [0.12, 1 / 3, 0.5, 0.8, 0.95]


def _by_plan(df, threshold, max_df, measure):
    """The measure's rows from each plan: (prefix, bucket-count)."""
    rows = {
        "jaccard": dedup_mod._jaccard_rows,
        "containment": dedup_mod._containment_rows,
    }[measure]
    prefix = dedup_mod._prefix_overlap(
        df, "doc_id", "text", 3, threshold, max_df, measure
    )
    bucket = dedup_mod._bucket_overlap(df, "doc_id", "text", 3, max_df)
    return rows(prefix, threshold), rows(bucket, threshold)


@pytest.mark.parametrize("threshold", THRESHOLDS)
@pytest.mark.parametrize("max_df", [None, 8])
def test_jaccard_prefix_equals_legacy_and_oracle(corpus_df, threshold, max_df):
    corpus, df = corpus_df
    expected = _py_pairs(corpus, threshold, max_df, mode="jaccard")
    prefix, bucket = _by_plan(df, threshold, max_df, "jaccard")
    got_prefix = {(r.id_a, r.id_b): r.jaccard for r in prefix.collect()}
    got_bucket = {(r.id_a, r.id_b): r.jaccard for r in bucket.collect()}
    assert got_prefix == got_bucket == expected


@pytest.mark.parametrize("threshold", [0.3, 0.8, 0.95])
@pytest.mark.parametrize("max_df", [None, 8])
def test_containment_prefix_equals_legacy_and_oracle(
    corpus_df, threshold, max_df
):
    corpus, df = corpus_df
    expected = _py_pairs(corpus, threshold, max_df, mode="containment")
    prefix, bucket = _by_plan(df, threshold, max_df, "containment")
    got_prefix = {
        (r.id_a, r.id_b): (r.containment, r.direction)
        for r in prefix.collect()
    }
    got_bucket = {
        (r.id_a, r.id_b): (r.containment, r.direction)
        for r in bucket.collect()
    }
    assert got_prefix == got_bucket == expected


def test_prefix_emission_is_a_strict_reduction(corpus_df, spark):
    """At a selective threshold the prefix stage must emit strictly fewer
    candidate rows AND strictly fewer candidate pairs than the full
    bucket explode — the measured scale win, pinned as an inequality so
    a silent regression to full emission fails loudly."""
    from pyspark.sql import functions as F

    corpus, df = corpus_df
    t = 0.8
    docs = dedup_mod._prefix_doc_sets(df, "doc_id", "text", 3, t - 1e-6, None)
    full_rows = docs.select(F.explode("set_")).count()
    prefix_rows = docs.select(
        F.explode(F.expr("slice(set_, 1, plen)"))
    ).count()
    assert prefix_rows < full_rows
    # candidate pairs: the full buckets' c*(c-1)/2 pairs (what the
    # bucket-count plan explodes) vs the prefix stage's emitted rows
    full = (
        docs.select(F.explode("set_").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.sum(F.col("c") * (F.col("c") - 1) / 2))
        .collect()[0][0]
    )
    pruned = dedup_mod._prefix_emissions(docs, "doc_id", "jaccard").count()
    assert pruned < full
    # sanity: the reduction is material on this stopword-heavy corpus
    assert pruned <= full * 0.75


def test_prefix_auto_selection_by_threshold(corpus_df):
    """The threshold alone picks the plan: jaccard ≥ 0.5 / containment
    ≥ 0.75 run the prefix plan (its verify stage shows array_intersect
    in the optimized plan), lower thresholds run the bucket-count
    plan."""
    _, df = corpus_df

    def plan(q):
        return q._jdf.queryExecution().optimizedPlan().toString()

    assert "array_intersect" in plan(ngram_jaccard_pairs(df, threshold=0.5))
    assert "array_intersect" not in plan(
        ngram_jaccard_pairs(df, threshold=0.12)
    )
    assert "array_intersect" in plan(containment_pairs(df, threshold=0.75))
    assert "array_intersect" not in plan(containment_pairs(df, threshold=0.3))


@pytest.mark.parametrize(
    "fn, kwargs",
    [
        # max_df=0 on each plan: bucket-count (jaccard 0.1, containment
        # 0.3) and prefix (jaccard 0.6)
        (ngram_jaccard_pairs, {"threshold": 0.1, "max_df": 0}),
        (containment_pairs, {"threshold": 0.3, "max_df": 0}),
        (ngram_jaccard_pairs, {"threshold": 0.6, "max_df": 0}),
        (ngram_jaccard_pairs, {"threshold": 1.5}),
        (containment_pairs, {"threshold": 1.5}),
        (ngram_jaccard_pairs, {"threshold": -0.1}),
        (containment_pairs, {"threshold": float("nan")}),
    ],
)
def test_overlap_rejects_bad_parameters(corpus_df, fn, kwargs):
    """Out-of-range max_df or threshold raises on either plan instead of
    silently returning no rows."""
    _, df = corpus_df
    with pytest.raises(ValueError, match="max_df|threshold"):
        fn(df, **kwargs)


def test_overlap_accepts_parameter_bounds(corpus_df):
    """Thresholds 0 and 1 and max_df=1 are in range on both measures."""
    corpus, df = corpus_df
    for t, max_df in ((0.0, None), (1.0, None), (0.3, 1)):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(
                df, threshold=t, max_df=max_df
            ).collect()
        }
        assert got == _py_pairs(corpus, t, max_df, mode="jaccard")
        got = {
            (r.id_a, r.id_b): (r.containment, r.direction)
            for r in containment_pairs(
                df, threshold=t, max_df=max_df
            ).collect()
        }
        assert got == _py_pairs(corpus, t, max_df, mode="containment")


def test_positional_filter_prunes_candidates(corpus_df, spark):
    """The PPJoin positional filter must strictly shrink the
    post-length-filter candidate set at a selective threshold on this
    corpus (it contains excerpt pairs whose only shared prefix tokens sit
    late in the larger doc), while the final pair set stays equal — the
    equality half is already pinned by the oracle tests above, so this
    pins the pruning half as an inequality."""
    corpus, df = corpus_df
    t_eff = 0.8 - 1e-6
    docs = dedup_mod._prefix_doc_sets(df, "doc_id", "text", 3, t_eff, None)
    emitted = dedup_mod._prefix_emissions(docs, "doc_id", "jaccard").where(
        dedup_mod._length_ok(t_eff)
    )
    without_pos = emitted.select("id_a", "id_b").distinct().count()
    with_pos = (
        emitted.where(dedup_mod._positional_ok("jaccard", t_eff))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    assert with_pos < without_pos


def test_prefix_random_fuzz(spark):
    """Seeded fuzz across 5 fresh corpora: prefix path == python oracle
    at a mid threshold (the regime where off-by-one prefix lengths or a
    wrong ceil direction would drop borderline pairs)."""
    for seed in range(5):
        rng = random.Random(1000 + seed)
        vocab = [f"t{i}" for i in range(25)]
        corpus = []
        for i in range(24):
            length = rng.randint(2, 15)
            corpus.append(
                (i, " ".join(vocab[rng.randrange(len(vocab))] for _ in range(length)))
            )
        # clone half with light mutations to create borderline pairs
        for j in range(12):
            base = corpus[j][1].split()
            if base:
                base[rng.randrange(len(base))] = vocab[rng.randrange(len(vocab))]
            corpus.append((24 + j, " ".join(base)))
        df = spark.createDataFrame(corpus, ["doc_id", "text"])
        expected = _py_pairs(corpus, 0.4, None, mode="jaccard")
        prefix = dedup_mod._prefix_overlap(
            df, "doc_id", "text", 3, 0.4, None, "jaccard"
        )
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup_mod._jaccard_rows(prefix, 0.4).collect()
        }
        assert got == expected, f"seed {seed}"
