"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure Spark column expressions (whole-stage codegen, no
Python in the hot path) over a ``documents``-shaped table
(doc_id, text, ...). Each has an exactly-equivalent SQL form used by the
DuckDB oracle — see __spark_entry__.py.

Beyond-reference capability (the dask-sql reference has no text operators);
designed per SURVEY.md §7 M6.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dask_sql_spark.operators.util import ensure_parallelism, ident, str_lit

# whitespace tokenizer shared by all operators (identical regex in DuckDB)
_WS = r"\s+"

# small multilingual stopword lists for the language-ID heuristic.
# Literal constants so the SQL oracle can embed the same lists.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "den", "zu"],
    "fr": ["le", "la", "les", "et", "des", "un", "une", "est", "que", "dans"],
    "es": ["el", "los", "las", "que", "y", "una", "es", "por", "con", "para"],
}

_PUNCT_CLASS = r"[.,;:!?'\"()\[\]{}-]"


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text; empty strings removed.

    Tokenization semantics, pinned by test (round-9 unicode probe):
    ``\\s`` is ASCII whitespace in BOTH Spark (Java regex) and the
    DuckDB oracle (RE2), so NBSP/zero-width characters stay inside
    tokens — identical cross-engine, unlike Python's ``str.split``.
    Known cross-engine caveat, documented rather than masked: Java's
    ``lower('İ')`` yields ``i`` + COMBINING DOT ABOVE (two codepoints)
    where DuckDB yields plain ``i`` — a Unicode special-casing
    difference that would diverge hashed outputs if Turkish dotted
    capitals ever enter an oracle-gated corpus (none in the bundled
    testdata; route such corpora through ``normalize_text`` first).
    """
    toks = F.split(F.lower(F.trim(text)), _WS)
    return F.filter(toks, lambda t: t != F.lit(""))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def word_ngrams(toks: Column, n: int, keep_short: bool = False) -> Column:
    """Word n-grams of a token array via direct element access — the one
    shared implementation behind :func:`dask_sql_spark.operators.dedup.
    shingles` and :func:`ngram_topk` (previously two hand-rolled copies
    of the same idiom with subtly different short-doc behavior).

    ``F.get`` is NULL out-of-bounds even under ANSI and ``concat_ws``
    skips NULLs, so with ``keep_short=True`` a document shorter than
    ``n`` yields its single short gram (shingles semantics); with
    ``keep_short=False`` it yields no grams at all (collocation-mining
    semantics). Direct element access beats the per-gram
    ``slice``+``array_join`` form ~0.78× (no per-gram array
    materialization), identical output.
    """

    def gram(i: Column) -> Column:
        return F.concat_ws(" ", *[F.get(toks, i + j) for j in range(n)])

    if keep_short:
        return F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))), gram
        )
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(0), F.size(toks) - n), gram),
    ).otherwise(F.array().cast("array<string>"))


def _term_counts(
    df: DataFrame, items: Column, keys: tuple[str, ...] = (),
    where: Column | None = None, term: str = "term", count: str = "tf",
    fields: tuple[str, ...] = (),
) -> DataFrame:
    """The one explode-and-count stage of the text measures: explode the
    array ``items`` to ``term`` rows, keep those ``where`` holds, and
    count per (``keys``, ``term``) as ``count``. ``fields`` flattens an
    array of structs and groups on those fields instead (bigram p, c).

    Map-side partial combine collapses repeats before the shuffle, so
    the exchange carries distinct (key, term) partial counts, not raw
    tokens, and a ``where`` prunes rows before it. Corpus statistics
    (df, corpus and context counts) are windows over this aggregate,
    not a second explode pass (a join form planned two corpus scans:
    Catalyst cannot reuse the exchange once column pruning diverges);
    corpus totals ride as a broadcast 1-row cross join, never a driver
    count. No ``ensure_parallelism``: each caller partitions as it needs.
    """
    rows = df.select(*keys, F.explode(items).alias(term))
    if fields:
        rows = rows.select(
            *keys, *[F.col(f"{term}.{f}").alias(f) for f in fields]
        )
    if where is not None:
        rows = rows.where(where)
    return rows.groupBy(*keys, *(fields or (term,))).agg(
        F.count(F.lit(1)).alias(count)
    )


def _to_nano(x: Column) -> Column:
    """``ROUND(x·10⁹) → BIGINT``: one IEEE op both engines resolve
    identically, so a BIGINT sum of the result is exact and
    order-independent where a double sum is not (libm log last-ulp
    noise collapses at 9 digits)."""
    return F.round(x * 1000000000).cast("long")


def _from_nano(total: Column) -> Column:
    """A :func:`_to_nano` sum back to a double."""
    return total.cast("double") / 1000000000.0


def _mean_bits(
    scored: DataFrame, id_col: str, bits: str, n: str, out: str,
    round_digits: int,
) -> DataFrame:
    """Per-document ``(id, n, out)``: ``n`` sums ``tf`` and ``out`` is
    the exact nano-unit sum of ``bits`` over ``n``, rounded."""
    per_doc = scored.groupBy(id_col).agg(
        F.sum("tf").alias(n), F.sum(bits).alias("sum_bits")
    )
    return per_doc.select(
        id_col,
        F.col(n).cast("bigint").alias(n),
        F.round(
            _from_nano(F.col("sum_bits")) / F.col(n), round_digits
        ).alias(out),
    )


def score_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Fused document scorer: token stats + quality signals + language
    guess appended in ONE ``withColumns`` call.

    This is the build-time discipline companion to the bound-token-array
    rule: every ``withColumn`` in a chain re-analyzes the whole logical
    plan, and with the per-language stopword literal lists in the tree
    the 9-column chained form spent ~2 s per call in Catalyst analysis
    before anything ran (measured; the fused form is 0.3 s, identical
    output). :func:`add_token_stats` / :func:`add_quality_score` /
    :func:`add_langid` are column-pruned views of this scorer, and
    pipelines that want several of the signals should call it directly.

    Appends: n_tokens, n_pieces, n_chars_m, punct_ratio, digit_ratio,
    stopword_ratio, mean_word_len, lang_guess.
    """
    df = ensure_parallelism(df)
    t = F.col(text_col)
    n_chars = F.length(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, _PUNCT_CLASS, ""))
    n_digit = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    # bind the token array (and the raw BPE-ish piece split: word
    # chunks, digit runs, single punctuation marks) to dropped columns
    # so each split evaluates once, not once per consuming expression
    # after projection collapse (same discipline as dedup.shingles;
    # measured 1.3× at sf1, identical output)
    tok_col = "__toks"
    while tok_col in df.columns:  # never clobber (then drop) a user column
        tok_col += "_"
    pieces_col = "__pieces"
    while pieces_col in df.columns:
        pieces_col += "_"
    tmp = df.withColumns(
        {
            tok_col: tokens(t),
            pieces_col: F.split(
                F.regexp_replace(t, r"([^\sA-Za-z0-9]|\d+)", r" $1 "), _WS
            ),
        }
    )
    n_toks = F.size(F.col(tok_col))
    safe = F.when(n_chars > 0, n_chars).otherwise(F.lit(1))
    # the lambda-HOF parts (stopword IN-filters per language, the
    # length-fold, the piece filter) ship as F.expr SQL text: each
    # F.filter/F.aggregate lambda costs ~15 py4j round trips at plan
    # BUILD (r13, re-paid every bench pass; guide §1.2), one parsed
    # string costs 1. The SQL is token-identical to the old Column
    # form — `w IN (...)` IS Column.isin, 0.0D is the double literal
    # F.lit(0.0) built, the CASE arms keep the insertion-order language
    # priority, and the regex splits stay in the Column API (regex
    # metacharacters never transit SQL string-literal escaping).
    tc = ident(tok_col)
    score_sql = {
        lang: "size(filter({tc}, w -> w IN ({ws})))".format(
            tc=tc, ws=", ".join(map(str_lit, words))
        )
        for lang, words in STOPWORDS.items()
    }
    best_sql = "greatest(" + ", ".join(score_sql.values()) + ")"
    lang_sql = "CASE WHEN " + best_sql + " = 0 THEN 'und'"
    for lang in STOPWORDS:  # insertion order = fixed priority for ties
        lang_sql += (
            f" WHEN {score_sql[lang]} = {best_sql} THEN {str_lit(lang)}"
        )
    lang_sql += " END"
    mean_word_len = F.expr(
        f"CASE WHEN size({tc}) > 0 THEN round(CAST(aggregate("
        f"{tc}, 0, (acc, w) -> acc + length(w)) AS DOUBLE)"
        f" / size({tc}), 4) ELSE 0.0D END"
    )
    return tmp.withColumns(
        {
            "n_tokens": n_toks,
            "n_pieces": F.expr(f"size(filter({ident(pieces_col)}, p -> p != ''))"),
            "n_chars_m": n_chars,
            "punct_ratio": F.round(n_punct.cast("double") / safe, 4),
            "digit_ratio": F.round(n_digit.cast("double") / safe, 4),
            "stopword_ratio": F.expr(
                f"CASE WHEN size({tc}) > 0 THEN round(CAST("
                f"{score_sql['en']} AS DOUBLE) / size({tc}), 4)"
                f" ELSE 0.0D END"
            ),
            "mean_word_len": mean_word_len,
            "lang_guess": F.expr(lang_sql),
        }
    ).drop(tok_col, pieces_col)


#: every column :func:`score_documents` appends (= may REPLACE on input)
_SCORE_COLS = (
    "n_tokens", "n_pieces", "n_chars_m", "punct_ratio", "digit_ratio",
    "stopword_ratio", "mean_word_len", "lang_guess",
)


def _append_scores(
    df: DataFrame, text_col: str, out_cols: list[str]
) -> DataFrame:
    """select(df columns + out_cols) over :func:`score_documents`,
    excluding any ``out_cols`` already present on the input — re-scoring
    an already-scored frame REPLACES the columns (withColumn semantics)
    instead of duplicating them into an AMBIGUOUS_REFERENCE trap.

    Caller-owned columns that collide with a NON-requested score column
    (e.g. a user-computed ``lang_guess`` on a frame passed to
    :func:`add_token_stats`) are shielded: ``score_documents`` would
    silently replace them via ``withColumns``, so they are renamed out of
    the way before scoring and restored after, preserving their values.
    """
    protect = [
        c for c in df.columns
        if c in _SCORE_COLS and c not in out_cols and c != text_col
    ]
    renames: dict[str, str] = {}
    for c in protect:
        alias = f"__keep_{c}"
        while alias in df.columns:
            alias += "_"
        renames[c] = alias
    shielded = df.withColumnsRenamed(renames) if renames else df
    base = [c for c in shielded.columns if c not in out_cols]
    out = score_documents(shielded, text_col).select(*base, *out_cols)
    if renames:
        out = out.withColumnsRenamed({v: k for k, v in renames.items()})
    return out


def add_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish word/punct split
    count (reference-free; SURVEY.md §7 M6 'token counting'). A pruned
    view of :func:`score_documents` — Catalyst column-prunes the unused
    quality/langid expressions out of the physical plan."""
    return _append_scores(df, text_col, ["n_tokens", "n_pieces"])


def add_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length, punctuation ratio, stopword ratio, digit
    ratio, mean word length — the standard cheap pre-filters for LLM
    training corpora (C4/Gopher-style rules). A pruned view of
    :func:`score_documents`."""
    return _append_scores(
        df,
        text_col,
        ["n_chars_m", "punct_ratio", "digit_ratio", "stopword_ratio",
         "mean_word_len"],
    )


def add_langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID heuristic: argmax of per-language stopword hit counts
    (n-gram/stopword heuristic; ties break by fixed language order
    en→de→fr→es, 'und' for no hits at all). A pruned view of
    :func:`score_documents`."""
    return _append_scores(df, text_col, ["lang_guess"])


def fingerprint(text: Column) -> Column:
    """Document fingerprint: canonicalize (lowercase, strip non-alnum,
    sorted distinct tokens) then md5 — the classic 'fingerprint' clustering
    key (OpenRefine-style), portable across engines."""
    canon = F.array_join(
        F.array_sort(
            F.array_distinct(
                F.filter(
                    F.split(
                        F.lower(F.regexp_replace(text, r"[^A-Za-z0-9\s]", " ")), _WS
                    ),
                    lambda tk: tk != F.lit(""),
                )
            )
        ),
        " ",
    )
    return F.md5(canon)


def add_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    df = ensure_parallelism(df)
    return df.withColumn("fp", fingerprint(F.col(text_col)))


# --------------------------------------------------------------------- #
# curation: decontamination + PII redaction                             #
# --------------------------------------------------------------------- #
# PII patterns shared with the DuckDB oracle (RE2-safe: no lookaround)
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d{3}[-. ]\d{3,4}[-. ]\d{4}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def redact_pii(
    df: DataFrame, text_col: str = "text", replacement: str = "[PII]"
) -> DataFrame:
    """Replace email / phone / IPv4 literals with ``replacement`` and count
    the hits per document. Pure regexp_replace chain — whole-stage codegen,
    no Python; the patterns avoid lookaround so Spark (Java regex) and the
    DuckDB oracle (RE2) agree."""
    out = F.col(text_col)
    hits = F.lit(0)
    for pat in PII_PATTERNS.values():
        hits = hits + F.coalesce(
            F.size(F.regexp_extract_all(out, F.lit(pat), 0)), F.lit(0)
        )
        out = F.regexp_replace(out, pat, replacement)
    return df.withColumn("n_pii", hits.cast("int")).withColumn(
        f"{text_col}_redacted", out
    )


def blocklist_filter(
    df: DataFrame,
    blocklist: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Term-blocklist screening — the safety/compliance stage every
    curation pipeline runs: per-document count of blocklisted tokens and
    a keep/drop flag. Matching is whole-token (the same lowercase
    whitespace tokenization as every text operator here), so 'assembly'
    never trips a block on 'ass'.

    Pure JVM column math: tokens → ``array_intersect``-style filter
    against a literal array — one scan-time expression, no shuffle, no
    UDF; at 100 TB the blocklist rides inside the codegen'd projection.
    For 100k+ term lists, broadcast-join an exploded token frame instead.
    """
    if not blocklist:
        raise ValueError("blocklist must be non-empty")
    terms = [t.lower() for t in blocklist]
    hits = F.size(F.filter(tokens(F.col(text_col)), lambda w: w.isin(terms)))
    return df.withColumn("n_blocked", hits.cast("int")).withColumn(
        "blocked", hits > 0
    )


def contaminated_docs(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ≥ ``min_hits``
    word n-grams with any benchmark/eval document.

    The same shingle machinery as dedup — explode both sides to 60-bit
    shingle hashes, join on the hash, count per (doc, benchmark) pair.
    The benchmark side is tiny relative to a 100 TB corpus, so Catalyst
    broadcasts it and the corpus is scanned exactly once, no corpus
    shuffle. Output: (doc_id, bench_id, n_shared)."""
    from dask_sql_spark.operators.dedup import shingles
    from dask_sql_spark.operators.hashing import portable_hash64

    d = shingles(docs, id_col, text_col, n).select(
        F.col(id_col), portable_hash64(F.col("shingle")).alias("h")
    )
    b = shingles(benchmark, bench_id_col, bench_text_col, n).select(
        F.col(bench_id_col).alias("bench_id"),
        portable_hash64(F.col("shingle")).alias("h"),
    )
    return (
        d.join(F.broadcast(b), on="h")
        .groupBy(id_col, "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_hits)
    )


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per document:

    - ``dup_token_frac``: 1 - distinct/total tokens (word-level repetition)
    - ``top_token_frac``: share of the single most frequent token
    - ``dup_bigram_frac``: 1 - distinct/total word bigrams

    High values flag boilerplate / keyword-stuffed documents for removal
    before training.

    Computed entirely IN-ROW (output is per-document, so no aggregation
    grain change is ever needed): distinct counts via ``array_distinct``
    sizes, the top-token count via a run-length fold over the SORTED
    token array. ZERO shuffles — at 100 TB this is a pure narrow map
    over the scan. Replaces the earlier two explode+double-groupBy
    passes + join (4 exchanges), which measured 2.6× slower at sf1 with
    bitwise-identical output. Documents with no tokens emit no row
    (same as the explode form they replace).
    """
    df = ensure_parallelism(df)
    a = df.select(id_col, tokens(F.col(text_col)).alias("_t"))
    t = F.col("_t")
    b = a.select(
        id_col,
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
        F.array_sort(t).alias("_s"),
        # bigrams from the UNSORTED array — adjacency is positional
        F.zip_with(
            F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
            F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
            lambda x, y: F.concat(x, F.lit(" "), y),
        ).alias("_bg"),
    )
    s = F.col("_s")
    top_count = F.aggregate(
        s,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return b.where(F.col("n_tokens") > 0).select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (1.0 - F.col("n_distinct") / F.col("n_tokens")).alias(
            "dup_token_frac"
        ),
        (top_count / F.col("n_tokens")).alias("top_token_frac"),
        F.when(
            F.size("_bg") > 0,
            1.0 - F.size(F.array_distinct("_bg")) / F.size("_bg"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 9,
) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF
    (``tf * ln((N+1)/(df+1))``), deterministic tiebreak by term.

    The score is rounded to ``round_digits`` BEFORE ranking: libm ``ln``
    differs in the last ulp across engines/platforms, and ranking on the
    raw double would make the top-k cut nondeterministic when two terms
    score within rounding error — after rounding, such near-ties collapse
    to exact ties and the term tiebreak decides reproducibly.

    tf comes from :func:`_term_counts`; df is a count window over it and
    the corpus size N a broadcast 1-row cross join.
    """
    from pyspark.sql.window import Window

    tf = _term_counts(
        ensure_parallelism(df), tokens(F.col(text_col)), (id_col,)
    )
    # N from the RAW input, not the ensure_parallelism frame: the count
    # branch needs no explode parallelism, and routing it through the
    # round-robin exchange re-shuffled every id for a 1-row count
    # (measured ~0.5 s at sf0.1; at scale it is a full pointless
    # repartition of the id column — guide §2.4, accidental exchange)
    ndocs = df.select(
        F.count_distinct(F.col(id_col)).alias("n_docs")
    )
    scored = (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "score", "rank")
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing fingerprints (the MOSS rolling-hash scheme): hash every
    k-char gram of the canonicalized text, slide a window of ``window``
    consecutive gram hashes, keep each window's minimum — the selected
    minima are the document's fingerprints.

    Guarantees: any shared substring of length ≥ k + window - 1 between
    two documents yields at least one shared fingerprint, while only
    ~2/(window+1) of grams are kept. All Spark-side: position explode →
    substr + md5 hash → window min → distinct. The explode amplifies rows
    ~len(text)×, so partitions are rebalanced first; output is (id,
    fingerprint) ready for the same bucket-join dedup shape as shingles.
    """
    from pyspark.sql import Window as W

    from dask_sql_spark.operators.hashing import portable_hash64

    canon = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    base = ensure_parallelism(df.select(F.col(id_col), canon.alias("t")))
    grams = (
        base.where(F.length("t") >= k)
        .select(
            id_col,
            F.explode(
                F.sequence(F.lit(1), F.length("t") - k + 1)
            ).alias("pos"),
            "t",
        )
        .select(
            id_col,
            "pos",
            portable_hash64(F.expr(f"substr(t, pos, {k})")).alias("h"),
        )
    )
    win = W.partitionBy(id_col).orderBy("pos").rowsBetween(-(window - 1), 0)
    return (
        grams.withColumn("wmin", F.min("h").over(win))
        .where(F.col("pos") >= window)  # only full windows select
        .select(id_col, F.col("wmin").alias("fingerprint"))
        .distinct()
    )


def ngram_topk(
    df: DataFrame,
    n: int = 3,
    min_count: int = 5,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level n-gram collocation mining: the ``k`` most frequent
    word n-grams appearing in at least ``min_count`` documents' worth of
    occurrences. The standard boilerplate/template detector — ultra-hot
    n-grams across a crawl are navigation chrome, license banners, spam
    templates — and the input to frequent-phrase blocklists.

    Plan shape: tokenize (narrow) → :func:`_term_counts` over the grams
    → top-k via TakeOrderedAndProject on (count DESC, gram ASC). No
    self-joins, no windows.

    The token array is bound to a column BEFORE the gram transform and
    grams are built by direct element access (same discipline as
    dedup.shingles): the inline tokenize-expression + per-gram slice
    form re-evaluated the split once per reference after projection
    collapse — 3.1× slower at sf1, identical output."""
    df = ensure_parallelism(df)
    base = df.select(tokens(F.col(text_col)).alias("_t"))
    grams = word_ngrams(F.col("_t"), n)
    return (
        _term_counts(base, grams, term="gram", count="n_occurrences")
        .where(F.col("n_occurrences") >= min_count)
        .orderBy(F.col("n_occurrences").desc(), F.col("gram"))
        .limit(k)
    )


def bpe_pair_counts(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Distributed adjacent-pair frequency count — the inner loop of BPE
    tokenizer training (count all adjacent symbol pairs, merge the most
    frequent, repeat). Output: the ``k`` hottest word-internal character
    pairs as (pair, cnt), count-desc with a deterministic pair tie-break.

    One :func:`_term_counts` stage, so the shuffle carries
    ~|alphabet|² partial rows per partition. Each BPE merge iteration at
    scale is exactly this job re-run over the re-tokenized symbol column;
    pairs spanning whitespace are dropped (BPE merges never cross
    pre-tokenization boundaries).
    """
    df = ensure_parallelism(df)
    t = F.lower(F.col(text_col))
    idx = F.sequence(F.lit(1), F.greatest(F.char_length(t) - 1, F.lit(1)))
    pairs = F.transform(idx, lambda i: t.substr(i, F.lit(2)))
    pair = F.col("pair")
    return (
        _term_counts(
            df, pairs, where=(F.char_length(pair) == 2) & ~pair.contains(" "),
            term="pair", count="cnt",
        )
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(k)
    )


def bpe_learn_merges(
    df: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """Learn the first ``n_merges`` BPE merges over the corpus — the
    actual tokenizer-training loop, distributed: documents explode to
    words (merges never cross pre-tokenization boundaries), each word
    becomes a space-joined character-symbol string, and every round runs

    1. ONE :func:`_term_counts` pair-count stage over the corpus,
    2. the argmax pair to the driver (two short strings — metadata scale,
       the same driver traffic every BPE trainer has),
    3. a boundary-guarded ``regexp_replace`` rewrite of the symbol strings
       (``(?<!\\S)l r(?!\\S)`` so the pair only matches whole symbols;
       left-to-right non-overlapping, exactly BPE's greedy application
       order).

    Returns the ordered merge table [(left, right, count)]. Ties break
    (count desc, left asc, right asc) so the learned vocabulary is
    deterministic across runs, partitionings and engines. Total cost:
    ``n_merges`` aggregate jobs over data that shrinks as merges apply —
    the identical shape at 100 TB, where each round's shuffle carries
    only distinct-pair partial counts.
    """
    syms = df.select(
        F.explode(tokens(F.col(text_col))).alias("w")
    ).select(F.array_join(F.split(F.col("w"), ""), " ").alias("s"))
    syms = syms.localCheckpoint()  # loop base: cut upstream lineage once
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        arr = F.split(F.col("s"), " ")
        pairs = F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(arr) - 1, F.lit(1))),
            lambda i: F.concat_ws(
                " ", F.try_element_at(arr, i), F.try_element_at(arr, i + 1)
            ),  # 1-symbol words: the null 2nd element drops the separator
            # and the contains(" ") filter below discards the row
        )
        top = (
            _term_counts(
                syms, pairs, where=F.col("p").contains(" "), term="p",
                count="cnt",
            )
            .orderBy(F.col("cnt").desc(), F.col("p").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, cnt = top[0].p, top[0].cnt
        left, right = pair.split(" ", 1)
        merges.append((left, right, cnt))
        # Boundary-guarded application: a literal replace of "l o" would
        # also fire across symbol boundaries once earlier merges create
        # multi-char symbols (['h','al','o'] -> "h al o" contains "l o").
        # The lookarounds pin both symbols to whole space-delimited tokens;
        # regexp_replace stays left-to-right non-overlapping = BPE greedy.
        pat = r"(?<!\S)" + re.escape(pair) + r"(?!\S)"
        repl = (left + right).replace("\\", "\\\\").replace("$", r"\$")
        syms = syms.select(
            F.regexp_replace(F.col("s"), F.lit(pat), F.lit(repl)).alias("s")
        ).localCheckpoint()
    return merges


# Unicode script classes: (name, Java regex for Spark, RE2 regex for the
# DuckDB oracle). Java spells scripts \p{IsLatin}; RE2 spells them
# \p{Latin} — same chars matched, different dialect names.
SCRIPT_CLASSES = [
    ("latin", r"[\p{IsLatin}]", r"[\p{Latin}]"),
    ("cyrillic", r"[\p{IsCyrillic}]", r"[\p{Cyrillic}]"),
    ("han", r"[\p{IsHan}]", r"[\p{Han}]"),
    ("arabic", r"[\p{IsArabic}]", r"[\p{Arabic}]"),
    ("digit", r"[0-9]", r"[0-9]"),
    ("space", r"\s", r"\s"),
]


def add_script_ratios(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode-script profiling: per-document character-class ratios
    (latin/cyrillic/han/arabic/digit/whitespace + other). The cheap
    writing-system detector that gates which language-ID model a corpus
    shard is routed to, and the standard mojibake/binary-junk screen
    (a 'latin' doc with 30% 'other' is suspect).

    Pure whole-stage-codegen column math: each ratio is two lengths and
    a regexp_replace — no UDF, no shuffle, trivially parallel at 100 TB."""
    df = ensure_parallelism(df)
    t = F.col(text_col)
    n = F.length(t)
    safe = F.when(n > 0, n).otherwise(F.lit(1))
    out = df
    covered = None
    for name, java_re, _ in SCRIPT_CLASSES:
        cnt = n - F.length(F.regexp_replace(t, java_re, ""))
        out = out.withColumn(
            f"{name}_ratio", F.round(cnt.cast("double") / safe, 4)
        )
        covered = cnt if covered is None else covered + cnt
    return out.withColumn(
        "other_ratio", F.round((n - covered).cast("double") / safe, 4)
    )


def add_unigram_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Unigram (Shannon) entropy per document, in bits — low entropy
    flags repetitive/templated/spammy text that ratio heuristics miss;
    the standard complement to repetition_signals.

    Computed as ``log2(n) - sum(c·log2(c))/n`` over the per-term counts
    c of :func:`_term_counts`, plus a per-doc aggregate. Rounded before
    output: libm log differs in the last ulp across engines, and 6
    decimals collapses that noise (same discipline as tfidf_top_terms).
    """
    tf = _term_counts(
        ensure_parallelism(df), tokens(F.col(text_col)), (id_col,), count="c"
    )
    per_doc = tf.groupBy(id_col).agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.log2("c")).alias("clog"),
    )
    return per_doc.select(
        id_col,
        F.col("n").alias("n_tokens"),
        F.round(F.log2("n") - F.col("clog") / F.col("n"), round_digits).alias(
            "entropy"
        ),
    )


def vocab_coverage(
    df: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary coverage curve point: with the top-``vocab_size``
    terms by corpus frequency, what fraction of all token occurrences
    is covered? The sizing tool for tokenizer vocab / OOV-rate budgets.

    Corpus term counts from :func:`_term_counts`, a rank window over
    that vocabulary-sized relation, and a two-row final aggregate.
    Returns one row:
    (vocab_size, n_terms, corpus_tokens, covered_tokens, coverage).
    """
    from pyspark.sql.window import Window

    tf = _term_counts(
        ensure_parallelism(df), tokens(F.col(text_col)), count="c"
    )
    ranked = tf.withColumn(
        "r",
        F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("term"))),
    )
    return ranked.agg(
        F.lit(vocab_size).alias("vocab_size"),
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("c").alias("corpus_tokens"),
        F.sum(F.when(F.col("r") <= vocab_size, F.col("c")).otherwise(0)).alias(
            "covered_tokens"
        ),
        F.round(
            F.sum(F.when(F.col("r") <= vocab_size, F.col("c")).otherwise(0))
            / F.sum("c"),
            6,
        ).alias("coverage"),
    )


def normalize_text(
    df: DataFrame, text_col: str = "text", form: str = "NFC"
) -> DataFrame:
    """Unicode normalization via an Arrow-batched pandas UDF — the
    canonical example of the UDF tier: Spark has no built-in unicode
    normalizer, so this is Python, but vectorized (one
    ``unicodedata.normalize`` pass per Arrow batch, never per-row
    JVM↔Python hops). Adds ``{text_col}_norm``.

    DuckDB's ``nfc_normalize`` implements the same Unicode standard, so
    the NFC form is oracle-checkable — a rare property for a UDF.
    """
    import unicodedata

    import pandas  # noqa: F401 — annotation target must be module-resolvable
    from pyspark.sql.functions import pandas_udf

    def _norm_impl(s):
        return s.map(
            lambda x: unicodedata.normalize(form, x) if x is not None else None
        )

    _norm_impl.__annotations__ = {
        "s": pandas.Series, "return": pandas.Series
    }
    _norm = pandas_udf(_norm_impl, "string")

    return df.withColumn(f"{text_col}_norm", _norm(F.col(text_col)))


def unigram_lm_bits(
    df: DataFrame,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Per-document cross-entropy (bits/token) under the corpus's own
    add-``alpha``-smoothed unigram language model — the CCNet/KenLM-style
    perplexity screen: documents far ABOVE the corpus average read as
    gibberish/OCR noise, far BELOW as boilerplate. The standard corpus
    quality filter that length/ratio heuristics can't replace.

    ``bits(doc) = sum_t tf_t · -log2((cnt_t + α) / (T + α·V)) / n_doc``
    where cnt_t is the corpus count of term t, T total tokens, V vocab.

    tf comes from :func:`_term_counts`, cnt_t is a SUM window over it,
    (T, V) a broadcast 1-row cross join, and the per-(doc, term) bits
    sum exactly as nano-bits.

    Output: (id, n_tokens, bits_per_token).
    """
    from pyspark.sql.window import Window

    tf = _term_counts(
        ensure_parallelism(df), tokens(F.col(text_col)), (id_col,)
    )
    totals = tf.agg(
        F.sum("tf").alias("total"),
        F.count_distinct("term").alias("vocab"),
    )
    scored = (
        tf.withColumn(
            "cnt", F.sum("tf").over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "term_bits",
            _to_nano(
                F.col("tf")
                * -F.log2(
                    (F.col("cnt") + F.lit(alpha))
                    / (F.col("total") + F.lit(alpha) * F.col("vocab"))
                )
            ),
        )
    )
    return _mean_bits(
        scored, id_col, "term_bits", "n_tokens", "bits_per_token", round_digits
    )


def bigram_lm_bits(
    df: DataFrame,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Per-document cross-entropy (bits/bigram) under the corpus's own
    add-``alpha``-smoothed BIGRAM language model — the order-sensitive
    companion to :func:`unigram_lm_bits`: word-salad documents score
    near-average on unigrams but far above it on bigrams, so the pair is
    the standard two-stage CCNet-style quality screen.

    ``bits(doc) = Σ_bg tf_bg · -log2((c(u,w)+α) / (c(u,·)+α·V)) / n_bg``
    with c(u,w) the corpus bigram count, c(u,·) the context total and V
    the unigram vocabulary size.

    tf counts (doc, prev, cur) with :func:`_term_counts`; corpus bigram
    and context counts are two window sums over it, V a broadcast 1-row
    cross join, and the per-bigram bits sum exactly as nano-bits.
    Documents with fewer than two tokens have no bigrams and are absent
    from the output (same contract as the oracle).
    """
    from pyspark.sql.window import Window

    df = ensure_parallelism(df)
    toks = tokens(F.col(text_col))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.struct(
            F.element_at(toks, i).alias("p"),
            F.element_at(toks, i + 1).alias("c"),
        ),
    )
    tf = _term_counts(
        df.where(F.size(toks) >= 2), bigrams, (id_col,), term="bg",
        fields=("p", "c"),
    )
    vocab = (
        df.select(F.explode(toks).alias("term"))
        .agg(F.count_distinct("term").alias("vocab"))
    )
    scored = (
        tf.withColumn("cnt", F.sum("tf").over(Window.partitionBy("p", "c")))
        .withColumn("ctx", F.sum("tf").over(Window.partitionBy("p")))
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "bg_bits",
            _to_nano(
                F.col("tf")
                * -F.log2(
                    (F.col("cnt") + F.lit(alpha))
                    / (F.col("ctx") + F.lit(alpha) * F.col("vocab"))
                )
            ),
        )
    )
    return _mean_bits(
        scored, id_col, "bg_bits", "n_bigrams", "bits_per_bigram", round_digits
    )


def bm25_search(
    df: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Top-``k`` documents by Okapi BM25 relevance to ``query`` — corpus
    search as a pure DataFrame program (no index build step; the
    "inverted index" IS the filtered (doc, term, tf) aggregate).

    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))``
    with ``idf(t) = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))``.

    The query splits by the documents' rule (:func:`tokens`: lowercase,
    ASCII whitespace only). tf is :func:`_term_counts` filtered to the
    query's terms before the shuffle, so the exchange carries only
    matching (doc, term) pairs — cost proportional to hit count, not
    corpus size. Document lengths come from a no-explode
    ``size(tokens)`` scan; df_t is a window over the filtered aggregate;
    per-term contributions sum exactly as nano-units, and the final
    score is rounded with a doc-id tiebreak for a deterministic top-k.
    """
    from pyspark.sql.window import Window

    # Java's ``\s`` is ASCII whitespace only; Python's needs re.ASCII
    # (``str.split`` would also split on NBSP and other Unicode spaces)
    qterms = sorted(
        set(filter(None, re.split(_WS, query.lower(), flags=re.ASCII)))
    )
    if not qterms:
        raise ValueError("query must contain at least one token")
    from pyspark import StorageLevel

    df = ensure_parallelism(df)
    # dual-consumer relation (corpus stats agg + the per-doc scoring
    # join): uncached, each consumer re-scanned and re-tokenized the
    # corpus (Catalyst compiles separate subtree copies — the same
    # finding as hybrid_rerank's max_bm25 branch). One narrow
    # (id, dl) row per document. Cache lifetime: the block lives for
    # the session (MEMORY_AND_DISK, evicted under pressure) — same
    # per-call contract as the n-gram overlap plans in dedup.py;
    # query-loop callers that care should spark.catalog.clearCache()
    # between batches.
    lens = df.select(
        F.col(id_col), token_count(F.col(text_col)).alias("dl")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    stats = lens.agg(
        F.sum("dl").alias("total_dl"), F.count(F.lit(1)).alias("n_docs")
    )
    tf = _term_counts(
        df, tokens(F.col(text_col)), (id_col,),
        where=F.col("term").isin(qterms),
    )
    scored = (
        tf.withColumn(
            "df_t", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn("avgdl", F.col("total_dl") / F.col("n_docs"))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df_t") + 0.5)
                / (F.col("df_t") + 0.5)
            ),
        )
        .withColumn(
            "term_score",
            _to_nano(
                F.col("idf")
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("term_score").alias("s"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    return (
        per_doc.select(
            id_col,
            F.col("n_terms_hit").cast("bigint").alias("n_terms_hit"),
            F.round(_from_nano(F.col("s")), round_digits).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def rake_keyphrases(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    max_phrase_len: int = 3,
    k: int = 20,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al.): candidate phrases are
    maximal runs of non-stopword tokens (length-capped), each scored by
    the sum of its words' degree/frequency ratios, corpus-wide top-k.

    Scale + determinism: phrase runs come from the gaps-and-islands
    row_number difference on one doc-partitioned exchange (no Python);
    word scores are INTEGER micro-units — ``floor(degree·10⁶ / freq)``
    via integer division — so every aggregate here sums exact integers,
    sidestepping the float summation-order divergence a naive
    sum-of-double-ratios has across engines. Top-k is a single
    TakeOrderedAndProject on (score DESC, phrase).

    Output: (phrase, n_words, n_occurrences, score_micro) — score in
    millionths of the classic RAKE score.
    """
    from pyspark.sql.window import Window

    stop = STOPWORDS[lang]
    # punctuation is a phrase BOUNDARY, not whitespace: it becomes a
    # break token that is excluded like a stopword, so token positions
    # still advance across it and the island grouping splits there
    brk = "zzrakebreakzz"
    toks = df.select(
        F.col(id_col),
        F.posexplode(
            tokens(F.regexp_replace(F.col(text_col), _PUNCT_CLASS, f" {brk} "))
        ).alias("pos", "word"),
    )
    runs = toks.where(~F.col("word").isin(stop + [brk]))
    w = Window.partitionBy(id_col).orderBy("pos")
    phrases = (
        runs.withColumn("island", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "island")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("word")))
            ).alias("ws")
        )
        .select(
            F.concat_ws(
                " ", F.transform(F.col("ws"), lambda s: s.word)
            ).alias("phrase"),
            F.size("ws").alias("n_words"),
        )
        .where(F.col("n_words") <= max_phrase_len)
    )
    from pyspark import StorageLevel

    # dual-consumer relation (word-score aggregate + the scoring join):
    # uncached, Catalyst compiled each consumer its own copy of the
    # whole posexplode→window→island-groupBy pipeline — the executed
    # plan showed the SAME 3 MB window exchange re-consumed three times
    # (~0.65 s of repeated post-exchange work each at sf0.1; at scale,
    # 3× the corpus phrase pass). Persisted, it is computed once.
    words = phrases.select(
        "phrase", "n_words", F.explode(F.split("phrase", " ")).alias("word")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    wscore = (
        words.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("n_words").alias("degree"),
        )
        .select(
            "word",
            F.expr("(degree * 1000000) DIV freq").alias("wscore"),
        )
    )
    # n_occurrences folds into the scoring groupBy: each phrase instance
    # contributes exactly n_words rows to ``words`` (inner join with
    # wscore keeps all of them — wscore is built FROM words), so
    # count(1) DIV n_words ≡ the old separate phrases.groupBy count —
    # integer-exact, one fewer phrase-pipeline consumer.
    return (
        words.join(wscore, "word")
        .groupBy("phrase", "n_words")
        .agg(
            F.sum("wscore").cast("bigint").alias("_total"),
            F.count(F.lit(1)).alias("_nrows"),
        )
        .withColumn("n_occurrences", F.expr("_nrows DIV n_words"))
        .select(
            "phrase",
            F.col("n_words").cast("int").alias("n_words"),
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
            F.expr("_total DIV n_occurrences").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), "phrase")
        .limit(k)
    )
