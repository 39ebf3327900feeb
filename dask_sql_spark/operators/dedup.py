"""Deduplication operators for large-scale training-data pipelines.

Five families (SURVEY.md §7 M6): exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup. All are shuffle-conscious DataFrame
compositions — no Python in the hot path, no driver-side materialization.

Scale design (100 TB):
- exact dedup is one hash-groupBy shuffle on a 64-bit key;
- MinHash/LSH shuffles (doc, shingle) pairs then (band, bucket) pairs —
  the classic shingle→minhash→band→bucket-join pipeline; candidate
  verification only touches bucket-mates, never the full cross product;
- SimHash uses block-banding (pigeonhole: ham ≤ k ⇒ some of k+1 blocks
  equal) so the self-join is per-block-bucket, not all-pairs;
- embedding near-dup brute-force is quadratic and only for small/verified
  sets — the scale path is the LSH variant in operators/similarity.py.

All hashes are md5-derived (operators/hashing.py) so results reproduce
bit-for-bit in the DuckDB oracle; swap in xxhash64 for raw speed when no
cross-engine check is needed.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dask_sql_spark.operators.hashing import (
    MINHASH_PERMS,
    MINHASH_PRIME,
    portable_hash64,
)
from dask_sql_spark.operators.text import tokens, word_ngrams
from dask_sql_spark.operators.util import cosine_sql, ensure_parallelism, ident


# --------------------------------------------------------------------- #
# exact                                                                 #
# --------------------------------------------------------------------- #
def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct content with the
    keeper (min id) and the duplicate count. Single shuffle on the content
    hash; at 100 TB group on the 60-bit hash, not the full text."""
    h = F.md5(F.col(text_col)).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def incremental_dedup(
    new_batch: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seen_hash_col: str = "content_hash",
) -> DataFrame:
    """Incremental-ingest dedup: survivors of a new batch against a
    historical fingerprint store — the nightly-append pattern at 100 TB,
    where re-deduping the whole corpus per ingest is a non-starter.

    Two steps, each a single shuffle on the 128-bit content hash:
    1. intra-batch exact dedup — groupBy(content_hash) keeps the min-id row
       (map-side partial agg applies);
    2. LEFT ANTI join against the store's hash column.

    ``seen`` carries only (content_hash): the store never needs full text,
    so at 100 TB it is a compact parquet table bucketed by hash — the anti
    join then co-partitions with step 1's shuffle output instead of
    re-shuffling history every night. The output doubles as the
    fingerprint delta: append it to the store to complete the cycle.
    Additive over the reference (no incremental-ingest operator there).
    """
    batch = (
        new_batch.select(
            F.col(id_col), F.md5(F.col(text_col)).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    store = seen.select(F.col(seen_hash_col).alias("content_hash")).distinct()
    return batch.join(store, "content_hash", "left_anti").select(
        id_col, "content_hash"
    )


def drop_exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep only the min-id row per distinct text (the dedup *apply* step)."""
    w = (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(w, on=id_col, how="left_semi")


# --------------------------------------------------------------------- #
# shingling (shared by minhash / jaccard)                               #
# --------------------------------------------------------------------- #
def shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document → (id, shingle).

    Tokenization = lowercase + whitespace split (identical in the SQL
    oracle, shared with :func:`~dask_sql_spark.operators.text.tokens`);
    grams via :func:`~dask_sql_spark.operators.text.word_ngrams` with
    ``keep_short=True`` — a doc shorter than n yields its single short
    gram.
    """
    df2 = ensure_parallelism(
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    )
    grams = word_ngrams(F.col("_t"), n, keep_short=True)
    return (
        df2.select(
            F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle")
        )
        .where(F.col("shingle") != "")
    )


# --------------------------------------------------------------------- #
# n-gram overlap: Jaccard and containment                               #
# --------------------------------------------------------------------- #
# Both measures read one relation, (id_a, id_b, common, sz_a, sz_b):
# |A∩B| and both shingle-set sizes for every pair that can reach the
# threshold. :func:`_overlap` builds it by one of two plans, picked by
# the threshold alone, and each measure applies its arithmetic to it once.
# - Bucket-count plan (:func:`_bucket_overlap`): count common shingles
#   per co-bucketed pair. Exact for every pair sharing a shingle.
# - Prefix plan (:func:`_prefix_overlap`, AllPairs/PPJoin): candidate
#   pairs come only from each doc's rarest shingles and are verified
#   against the full sets (:func:`_verify_pairs`).


def _shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, shingle) with each distinct shingle as its 60-bit hash: the
    join key of both plans, ~3× smaller to shuffle than the string. A
    cross-document hash collision would inflate ``common`` by 1; at 2^60
    key space that is negligible against corpus sizes up to ~2^25
    distinct shingles per bucketed join."""
    return shingles(df, id_col, text_col, n).select(
        F.col(id_col), portable_hash64(F.col("shingle")).alias("shingle")
    )


def _bucket_overlap(
    df: DataFrame, id_col: str, text_col: str, n: int, max_df: int | None
) -> DataFrame:
    """Bucket-count plan: the overlap row of EVERY pair sharing a shingle.

    ONE groupBy(shingle) collects the sorted doc-id list per shingle
    (lists longer than ``max_df`` dropped); co-shingle pairs come from an
    in-row pair explode of each list, counted by groupBy(id_a, id_b), and
    per-doc sizes from a flat explode of the same lists. One corpus
    shuffle and no verify join, so it is the cheap plan at small scale;
    its pair explode is the quadratic term the prefix plan removes.
    """
    lists = (
        _shingle_hashes(df, id_col, text_col, n)
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
    )
    if max_df is not None:
        # rows are distinct per (doc, shingle), so size(ids) is the
        # shingle's document frequency; the cap bounds every list at
        # max_df entries (a shingle in d docs is d²/2 pairs)
        lists = lists.where(F.size("ids") <= max_df)
    # PERSISTED: the sizes and the pairs branch both consume it, and
    # Catalyst/AQE does NOT reuse the exchange across the two (verified
    # in the executed plan: 0 ReusedExchange, 3 FileScans without the
    # cache) — uncached, the whole tokenize+md5+explode pipeline re-ran
    # per branch, 2.3× slower at sf1 and neutral at sf0.1. The cache
    # lives until session end; query-loop callers that care should
    # spark.catalog.clearCache() between batches.
    lists = lists.persist(StorageLevel.MEMORY_AND_DISK)
    # dual-consumer relation (sz_a and sz_b join sides): uncached, each
    # side re-ran the explode+groupBy pass over the cached lists — two
    # extra corpus-lists passes at scale, ~0.5 s at sf0.1 (r12). The
    # relation is one compact (id, sz) row per document.
    sizes = (
        lists.select(F.explode("ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("sz"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pair_structs = F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "b -> struct(a AS id_a, b AS id_b))))"
    )
    common = (
        lists.where(F.size("ids") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sza = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    szb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return common.join(sza, "id_a").join(szb, "id_b")


def _prefix_doc_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    t_eff: float,
    max_df: int | None,
) -> DataFrame:
    """Per-doc ordered shingle sets for the AllPairs/PPJoin prefix filter.

    Output: (id, set_, sz, plen) where ``set_`` is the doc's distinct
    shingle hashes sorted by GLOBAL order (ascending document frequency,
    shingle hash as total-order tiebreak), ``sz`` its size, and ``plen``
    the prefix length ``sz − ⌈t_eff·sz⌉ + 1``. Rarest shingles sort
    first, so prefixes index the most selective tokens (Chaudhuri et al.
    SSJoin / Bayardo et al. AllPairs). ``max_df`` drops hot shingles
    BEFORE sizes are computed, matching the bucket-count plan.

    The ceil argument is nudged down 1e-9 so float noise can only
    LENGTHEN the prefix (a too-short prefix would drop true pairs; a
    longer one only adds candidates that verification rejects).
    """
    from pyspark.sql import Window

    sh = _shingle_hashes(df, id_col, text_col, n)
    # document frequency via an unordered window over shingle: ONE
    # exchange of the (id, shingle) relation instead of groupBy + rejoin
    # (two exchanges of the same rows) — df attaches in place
    shf = sh.withColumn(
        "df_", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    if max_df is not None:
        shf = shf.where(F.col("df_") <= max_df)
    docs = shf.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("df_"), F.col("shingle")))
        ).alias("ord")
    )
    alpha = F.ceil(F.size("ord") * F.lit(t_eff) - F.lit(1e-9))
    return docs.select(
        F.col(id_col),
        F.expr("transform(ord, x -> x.shingle)").alias("set_"),
        F.size("ord").alias("sz"),
        F.greatest(F.size("ord") - alpha + F.lit(1), F.lit(1))
        .cast("int")
        .alias("plen"),
    )


def _prefix_emissions(docs: DataFrame, id_col: str, measure: str) -> DataFrame:
    """The prefix plan's candidate emission: one (id_a, id_b, sz_a, sz_b,
    pa, pb) row per shared bucketed shingle of a pair (id_a < id_b), with
    pa/pb the shingle's position in each doc's ordered set.

    Jaccard (both-sides prefix): J ≥ t bounds |A∩B| ≥ ⌈t·|A|⌉ for BOTH
    docs, so a qualifying pair's globally-smallest common shingle lies
    inside both prefixes (had it fallen outside A's, all its common
    tokens would sit in A's last ⌈t·|A|⌉−1 positions — impossible). Only
    prefix shingles enter the buckets; lists sort by (id, sz, pos), so
    the in-row i<j explode emits each pair once with id_a<id_b (ids are
    unique within a bucket, so sz/pos never decide the order).

    Containment (one-sided prefix): containment ≥ t only bounds the
    overlap by the SMALLER side (|A∩B| ≥ ⌈t·min(|A|,|B|)⌉), so a
    qualifying pair's smallest common shingle lies inside the smaller
    doc's prefix, while the larger doc contributes its FULL set. Every
    shingle enters the buckets flagged ``pfx`` (inside its doc's
    prefix); lists sort by (sz, id) and pair (i, j), i<j, is emitted
    only when the i (min-size) side's token is a prefix token. On size
    ties the bound holds for both docs, so checking i alone is lossless.
    """
    if measure == "jaccard":
        pre = docs.select(
            F.col(id_col).alias("id"),
            "sz",
            F.posexplode(F.expr("slice(set_, 1, plen)")).alias(
                "pos", "shingle"
            ),
        )
        entry = ("id", "sz", "pos")
        partners = "slice(m, i + 2, size(m) - i - 1)"
        ids = "a.id AS id_a, b.id AS id_b"
    else:
        pre = docs.select(
            F.col(id_col).alias("id"),
            "sz",
            "plen",
            F.posexplode("set_").alias("pos", "shingle"),
        ).select(
            "id",
            "sz",
            "pos",
            "shingle",
            (F.col("pos") < F.col("plen")).alias("pfx"),
        )
        entry = ("sz", "id", "pfx", "pos")
        # the empty branch is slice(m, 1, 0) — an empty array of m's own
        # struct type, keeping both CASE arms type-identical for flatten
        partners = (
            "CASE WHEN a.pfx THEN slice(m, i + 2, size(m) - i - 1) "
            "ELSE slice(m, 1, 0) END"
        )
        ids = "least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b"
    pair_structs = F.expr(
        f"flatten(transform(m, (a, i) -> transform({partners}, "
        f"b -> struct({ids}, a.sz AS sz_a, b.sz AS sz_b, "
        "a.pos AS pa, b.pos AS pb))))"
    )
    return (
        pre.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct(*entry))).alias("m"))
        .where(F.size("m") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.*")
    )


def _length_ok(t_eff: float) -> Column:
    """Jaccard's length filter on an emission row: J is bounded by the
    size ratio, so a pair needs min(|A|,|B|) ≥ t·max(|A|,|B|)."""
    need = F.greatest("sz_a", "sz_b") * F.lit(t_eff) - F.lit(1e-9)
    return F.least("sz_a", "sz_b") >= need


def _positional_ok(measure: str, t_eff: float) -> Column:
    """PPJoin positional filter (Xiao et al. WWW'08, adapted to one global
    token order) on an emission row: a token shared at positions
    (pa, pb) bounds the overlap by ``min(pa,pb) + 1 + min(|A|−pa−1,
    |B|−pb−1)`` — common tokens ordered before it number at most
    min(pa, pb) because every doc uses the SAME total order. The row
    survives when that bound reaches the measure's required overlap:
    ``⌈t·(|A|+|B|)/(1+t)⌉`` for Jaccard, ``⌈t·min(|A|,|B|)⌉`` for
    containment. Lossless: every emission of a true pair carries a bound
    ≥ its actual overlap ≥ the requirement. The −1e-9 nudge can only
    LOWER the requirement, so float noise cannot drop a true pair."""
    if measure == "jaccard":
        need = (F.col("sz_a") + F.col("sz_b")) * F.lit(t_eff / (1.0 + t_eff))
    else:
        need = F.least("sz_a", "sz_b") * F.lit(t_eff)
    bound = (
        F.least("pa", "pb")
        + 1
        + F.least(
            F.col("sz_a") - F.col("pa") - 1, F.col("sz_b") - F.col("pb") - 1
        )
    )
    return bound >= F.ceil(need - F.lit(1e-9))


def _verify_pairs(cand: DataFrame, docs: DataFrame, id_col: str) -> DataFrame:
    """Exact-overlap verification of candidate pairs: join both sides'
    full shingle sets back on and count |A∩B| JVM-side via
    ``array_intersect`` (hash-set build, O(|A|+|B|) per pair). Output:
    (id_a, id_b, common, sz_a, sz_b), the bucket-count plan's contract."""
    da = docs.select(
        F.col(id_col).alias("id_a"),
        F.col("set_").alias("set_a"),
        F.col("sz").alias("sz_a"),
    )
    db = docs.select(
        F.col(id_col).alias("id_b"),
        F.col("set_").alias("set_b"),
        F.col("sz").alias("sz_b"),
    )
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("set_a", "set_b"))
            .cast("long")
            .alias("common"),
            "sz_a",
            "sz_b",
        )
    )


# slack for the two float boundaries prefix pruning must respect: the
# final predicate is round(sim, 6) >= t — rounding moves sim by at most
# 5e-7, so pruning uses t_eff = t − 1e-6 (any pair that passes after
# rounding satisfies sim >= t_eff); 1e-9 absorbs double multiply noise.
_ROUND6_SLACK = 1e-6


def _prefix_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    max_df: int | None,
    measure: str,
) -> DataFrame:
    """Prefix plan: the overlap rows of the candidate pairs that survive
    :func:`_prefix_emissions` and the measure's filters — a superset of
    the pairs whose ``measure`` reaches ``threshold``, verified exactly.
    Per-emission pruning is lossless, so the distinct candidate set
    keeps every true pair. Measured at sf10/500k docs (SCALING.md r12):
    candidate pairs drop 25.5× for Jaccard at t=0.8 — the operator's
    dominant cost at 5M docs was a 26 GB candidate-pair shuffle, which
    this bounds by prefix-bucket occupancy instead of full-bucket
    occupancy."""
    t_eff = max(threshold - _ROUND6_SLACK, 0.0)
    docs = _prefix_doc_sets(df, id_col, text_col, n, t_eff, max_df).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    keep = _positional_ok(measure, t_eff)
    if measure == "jaccard":
        keep = _length_ok(t_eff) & keep
    cand = (
        _prefix_emissions(docs, id_col, measure)
        .where(keep)
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_pairs(cand, docs, id_col)


# Thresholds at and above which each measure runs the prefix plan, from
# the measured volume model (SCALING.md r12): per-doc emission fraction
# ≈ (1−t), so Jaccard candidate pairs shrink ≈ (1−t)⁻² (both-sides
# prefix) and containment's ≈ (1−t)⁻¹ (the prefix applies to the
# smaller side only) — validated at sf1/sf10 (Jaccard t=0.12 → 1.27×,
# t=0.8 → 25.5× measured vs 1.29×/25× predicted). Below ~4× reduction
# the pruning cannot pay for the df-ordered doc-set build + verify join
# the prefix plan adds (sf10 t=0.12: 270 s prefix vs 60 s bucket-count
# for 1.27×); above it the 100 TB candidate-shuffle headroom dominates
# (at t=0.8 the single node pays ~2× wall at sf10 for a 25× smaller
# candidate shuffle, the trade that keeps the operator alive at 5M+
# docs where the bucket-count candidate stage is measured-infeasible).
_PREFIX_FROM = {
    "jaccard": 0.5,  # (1−t)⁻² ≥ 4
    "containment": 0.75,  # (1−t)⁻¹ ≥ 4
}


def _overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    max_df: int | None,
    measure: str,
) -> DataFrame:
    """(id_a, id_b, common, sz_a, sz_b) for a superset of the pairs whose
    ``measure`` reaches ``threshold``: the prefix plan at or above the
    measure's ``_PREFIX_FROM`` cutoff, the bucket-count plan below it.
    A zero threshold always runs the bucket-count plan (its prefixes
    would be the full sets, so verification would be pure overhead)."""
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    if max_df is not None and max_df < 1:
        raise ValueError(f"max_df must be None or >= 1, got {max_df}")
    if threshold >= _PREFIX_FROM[measure]:
        return _prefix_overlap(
            df, id_col, text_col, n, threshold, max_df, measure
        )
    return _bucket_overlap(df, id_col, text_col, n, max_df)


def _jaccard_rows(overlap: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard) of the overlap rows with Jaccard ≥ threshold."""
    return (
        overlap.withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _containment_rows(overlap: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, containment, direction) of the overlap rows with
    containment ≥ threshold."""
    c_ab = F.round(F.col("common") / F.col("sz_a"), 6)
    c_ba = F.round(F.col("common") / F.col("sz_b"), 6)
    return (
        overlap.withColumn("containment", F.greatest(c_ab, c_ba))
        .withColumn(
            "direction",
            F.when(c_ab == c_ba, F.lit("mutual"))
            .when(c_ab > c_ba, F.lit("a_in_b"))
            .otherwise(F.lit("b_in_a")),
        )
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment", "direction")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """All document pairs with shingle-set Jaccard ≥ threshold:
    (id_a, id_b, jaccard), id_a < id_b, jaccard rounded to 6 places.

    The plan follows the threshold: at ``threshold ≥ 0.5`` the
    AllPairs/PPJoin prefix plan (each doc emits only its
    ``|S| − ⌈t·|S|⌉ + 1`` rarest shingles, emissions pass a length and a
    positional filter, and candidates are verified exactly), below it
    the bucket-count plan — see ``_PREFIX_FROM`` for the measurement
    behind the cutoff. Both give the same pairs and values.

    ``max_df`` is the stopword-gram blowup guard: shingles appearing in
    more than max_df documents are dropped BEFORE pairing (a shingle in
    d docs contributes d²/2 pairs — one stopword 3-gram in 1M docs is
    5×10¹¹ rows). Per-doc sizes are computed on the filtered shingle set
    so Jaccard stays internally consistent (the oracle CTE applies the
    same filter). At 100 TB always set max_df; None keeps exact semantics.

    Raises ``ValueError`` unless ``0 ≤ threshold ≤ 1`` and ``max_df`` is
    None or ≥ 1.
    """
    return _jaccard_rows(
        _overlap(df, id_col, text_col, n, threshold, max_df, "jaccard"),
        threshold,
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Document pairs where the SMALLER shingle set is ≥ ``threshold``
    contained in the other: ``max(|A∩B|/|A|, |A∩B|/|B|)`` — the
    asymmetric companion to :func:`ngram_jaccard_pairs`. Jaccard misses
    quotation/excerpt relationships (a 50-token quote inside a 5000-token
    page has tiny Jaccard but containment ≈ 1); training pipelines use
    containment to catch wrapped or excerpted duplicates that
    symmetric measures can't.

    The plan follows the threshold: at ``threshold ≥ 0.75`` the one-sided
    prefix plan (only the smaller doc's prefix is pruned, no length
    filter applies), below it the bucket-count plan. The one-sided
    prefix prunes ≈ (1−t)⁻¹, so its ~4× break-even sits higher than
    Jaccard's 0.5 cutoff (``_PREFIX_FROM``).

    Output: (id_a, id_b, containment, direction) where direction marks
    which side is the contained one ('a_in_b' when |A| is the
    denominator of the max, 'b_in_a' otherwise; 'mutual' on exact ties —
    deterministic). ``max_df`` hot-shingle cap and ``ValueError`` on bad
    parameters as in :func:`ngram_jaccard_pairs`.
    """
    return _containment_rows(
        _overlap(df, id_col, text_col, n, threshold, max_df, "containment"),
        threshold,
    )


# --------------------------------------------------------------------- #
# MinHash + LSH                                                         #
# --------------------------------------------------------------------- #
def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Wide minhash signature: one row per document with columns
    mh0..mh{num_perm-1} = min over shingles of h_i(s) = (a·H(s)+b) mod p.

    H is the portable 60-bit md5 hash reduced mod p; (a, b) are the fixed
    MINHASH_PERMS constants, so the DuckDB oracle reproduces every value.

    Scale shape (r12): the whole signature is an IN-ROW projection —
    each doc's distinct shingles live in one array column, so every
    permutation min is an ``array_min(transform(...))`` fold and NO
    shuffle exists between the scan and the band explode (the previous
    groupBy form shuffled one num_perm-wide partial row per (partition,
    doc); guide §2.4 — remove shuffles outright). Values are identical:
    min over the same multiset, hashed by the same md5 chain. The hash
    array is its own projection column, which CollapseProject keeps
    un-inlined (non-cheap expression consumed num_perm times), so the
    md5 pass still runs once per shingle, not once per permutation.
    Docs with zero non-empty shingles are absent, exactly like the
    groupBy form. Raises ``ValueError`` unless ``1 ≤ num_perm ≤
    len(MINHASH_PERMS)``.
    """
    if not 1 <= num_perm <= len(MINHASH_PERMS):
        raise ValueError(
            f"minhash needs 1 <= num_perm <= {len(MINHASH_PERMS)}, got "
            f"num_perm={num_perm}"
        )
    # the empty-doc screen sits AT THE SCAN on the token array (a doc
    # yields zero shingles iff it has zero non-empty tokens — keep_short
    # grams of 1-2 token docs are non-empty concats). Filtering later on
    # the hash array looks equivalent but is a performance trap: the
    # optimizer pushes the filter below the repartition by SUBSTITUTING
    # the whole gram+md5 chain into the condition, where per-element
    # gram access re-evaluates the tokenizer — measured 6× slower
    # (O(tokens²) per doc) before this form pinned the predicate to _t.
    df2 = ensure_parallelism(
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t")).where(
            F.size("_t") > 0
        )
    )
    grams = word_ngrams(F.col("_t"), shingle_n, keep_short=True)
    arr = F.filter(F.array_distinct(grams), lambda g: g != F.lit(""))
    hs = F.transform(arr, lambda s: portable_hash64(s) % MINHASH_PRIME)
    # the num_perm folds ship as ONE selectExpr: the F.transform lambda
    # machinery costs ~15 py4j round trips per permutation (~0.5 s of
    # driver wall per plan BUILD at num_perm=16, re-paid on every bench
    # pass — r13 cProfile), where one selectExpr is a single call and
    # the JVM parses the folds in-process. Expression semantics are
    # token-identical: {a}/{b}/p are int32 literals in both forms, so
    # int*bigint→bigint arithmetic and the array_min fold match the old
    # Column form bit-for-bit (oracle-hash-verified at 3 SFs).
    sig_exprs = [
        f"array_min(transform(_hs, h -> ({a} * h + {b}) % {MINHASH_PRIME}))"
        f" AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS[:num_perm])
    ]
    return df2.select(F.col(id_col), hs.alias("_hs")).selectExpr(
        ident(id_col), *sig_exprs
    )


def _check_banding(num_perm: int, bands: int) -> None:
    if not (
        1 <= bands <= num_perm <= len(MINHASH_PERMS) and num_perm % bands == 0
    ):
        raise ValueError(
            f"minhash banding needs 1 <= bands <= num_perm <= "
            f"{len(MINHASH_PERMS)} with bands dividing num_perm, got "
            f"num_perm={num_perm}, bands={bands}"
        )


def minhash_band_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """(id, band, bucket) LSH band signatures — the compact near-dup
    fingerprint a store keeps per document (bands × ~40 bytes, never the
    text). Shared by :func:`minhash_lsh_pairs` (self-join) and
    :func:`incremental_near_dedup` (batch-vs-store join). Pass ``sigs``
    (a :func:`minhash_signatures` result) to reuse an already-built
    signature frame instead of recomputing the shingle pipeline.

    Raises ``ValueError`` unless ``1 ≤ bands ≤ num_perm ≤
    len(MINHASH_PERMS)`` and ``bands`` divides ``num_perm``: every band
    takes ``num_perm // bands`` whole rows of the signature."""
    _check_banding(num_perm, bands)
    rows_per_band = num_perm // bands
    sig = (
        sigs
        if sigs is not None
        else minhash_signatures(df, id_col, text_col, num_perm, shingle_n)
    )
    # one selectExpr instead of the nested struct/concat_ws Column tree
    # (~50 py4j round trips per build — same rationale and equivalence
    # as the signature folds above: int32 band literals, identical
    # concat_ws('_', CAST(mh AS STRING)...) buckets)
    band_structs = ", ".join(
        "named_struct('band', {b}, 'bucket', concat_ws('_', {parts}))".format(
            b=b,
            parts=", ".join(
                f"CAST(mh{b * rows_per_band + j} AS STRING)"
                for j in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sig.selectExpr(
        ident(id_col), f"explode(array({band_structs})) AS bb"
    ).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def incremental_near_dedup(
    new_batch: DataFrame,
    seen_buckets: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup companion to :func:`incremental_dedup`: survivors of a new
    batch against a historical LSH band-bucket store, the nightly-append
    pattern where re-deduping the whole corpus per ingest is a
    non-starter.

    A batch document drops if (a) ANY of its band buckets collides with
    the store — a suspected near-dup of history — or (b) it loses the
    intra-batch keeper rule (same bucket, higher id; identical greedy
    rule to :func:`minhash_lsh_pairs`-based cleaning). Returns the
    surviving documents' (id, band, bucket) rows — exactly the delta to
    append to the store to complete the cycle.

    Scale shape: the store carries (band, bucket) only; the batch-vs-store
    check is a LEFT SEMI join on (band, bucket) — co-partitioned with the
    store's layout when the store is bucketed by those keys — and the
    intra-batch pass is the standard bucket self-join, Σ bucket², never
    batch × history. Documents yielding no shingles (empty/whitespace
    text) produce no buckets and pass through untouched — compose with
    :func:`incremental_dedup` for the exact-hash tier.
    """
    batch = minhash_band_buckets(
        new_batch, id_col, text_col, num_perm, bands, shingle_n
    ).persist(StorageLevel.MEMORY_AND_DISK)
    store = seen_buckets.select("band", "bucket").distinct()
    hist_hits = (
        batch.join(store, ["band", "bucket"], "left_semi")
        .select(id_col)
        .distinct()
    )
    a = batch.alias("a")
    b = batch.alias("b")
    losers = (
        a.join(b, on=["band", "bucket"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    dropped = hist_hits.union(losers).distinct()
    return batch.join(dropped, on=id_col, how="left_anti")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    num_perm/bands rows per band; documents agreeing on ALL minhashes in
    any band land in the same bucket and become a candidate pair. With
    r = num_perm/bands rows per band, P(candidate) = 1-(1-s^r)^bands — the
    standard S-curve. Bucket join is per (band, signature) — never N².
    Banding parameters are checked as in :func:`minhash_band_buckets`.
    """
    # one (doc, band) row per band — tiny; persisted because the bucket
    # self-join reads it twice (else the whole minhash pipeline runs 2×).
    # Plain persist, deliberately NOT pre-repartitioned on the join key:
    # a sized repartition("band", "bucket")-before-persist forced a
    # full-width shuffle + cache of this tiny relation and measured 1.34×
    # slower in round 4 and 1.25× slower in round 7 (SCALING.md); AQE
    # plans the self-join fine from the unpartitioned cache.
    band_sigs = minhash_band_buckets(
        df, id_col, text_col, num_perm, bands, shingle_n, sigs=sigs
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a = band_sigs.alias("a")
    b = band_sigs.alias("b")
    return (
        a.join(b, on=["band", "bucket"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


# --------------------------------------------------------------------- #
# SimHash                                                               #
# --------------------------------------------------------------------- #
def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """(id, simhash) — Charikar simhash over whitespace tokens.

    Per bit position j: sum over tokens of (+1 if bit j of H(token) else
    −1); simhash bit j = 1 iff the sum > 0. Implemented by exploding the
    (token-hash × bit-position) grid as DataFrame ops; tokens are *not*
    deduplicated (multiplicity weights, standard simhash).

    ``bits`` may be up to 64: the fingerprint packs into one BIGINT, with
    bit 63 carried as the two's-complement sign bit (a bit PATTERN, not a
    magnitude — XOR/bit_count/block extraction are sign-agnostic).
    SCALING.md's measured deployment rule says ≥64 bits at 100 TB corpus
    scale; round-10 made that width executable (``1 << 63`` used to
    overflow the signed literal). The token hash is 60-bit
    (portable_hash64), so bits 60-63 of the fingerprint are
    deterministically 0 — harmless padding that keeps the cross-engine
    oracle exact.
    """
    if not 1 <= bits <= 64:
        raise ValueError(
            f"bits must be in [1, 64] (BIGINT fingerprint), got {bits}"
        )
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    # hash per token OCCURRENCE and aggregate in ONE groupBy: the md5
    # runs map-side before the partial aggregate, so the only shuffle
    # carries one bits-wide partial row per (partition, doc). The
    # previous two-shuffle form (groupBy(id, tok) distinct-count first,
    # halving the hashing) moved the full (id, tok, cnt) relation
    # through an extra exchange — measured 1.4× slower at sf0.1, and
    # the exchange, not the hash, is the 100 TB bottleneck.
    tok_h = (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(toks).alias("tok"))
        .withColumn("h", portable_hash64(F.col("tok")))
    )
    # Lane-packed aggregation (r12): sum BIT COUNTS, two 32-bit lanes per
    # BIGINT accumulator, plus one token count n — ⌈bits/2⌉+1 aggregate
    # buffers instead of ``bits`` CASE-WHEN ±1 sums. Bit j of the
    # fingerprint is s_j > 0 with s_j = 2·c_j − n, so the test becomes
    # 2·c_j > n — integer-exact, bit-identical output (A/B checksummed at
    # sf0.1), measured ~1.25× faster on the signature stage (the
    # aggregate-buffer update count, not the hashing, was the per-row
    # cost). Lane headroom: the packed signed-BIGINT sum (low lane up
    # to n plus high lane c·2³²) overflows at n ≥ 2³¹ token occurrences
    # PER DOCUMENT, and under the engine's ANSI default that overflow
    # THROWS rather than corrupting — a >2-billion-token single
    # document is beyond any real corpus row (and would break the
    # token explode far earlier).
    nlanes = (bits + 1) // 2
    aggs = [F.count(F.lit(1)).alias("n")]
    for kk in range(nlanes):
        j0, j1 = 2 * kk, 2 * kk + 1
        e = f"(shiftright(h, {j0}) & 1)"
        if j1 < bits:
            e += f" + shiftleft(shiftright(h, {j1}) & 1, 32)"
        aggs.append(F.sum(F.expr(e)).alias(f"p{kk}"))
    sums = tok_h.groupBy(id_col).agg(*aggs)
    # the bits-term fingerprint assembly ships as ONE selectExpr — the
    # old chained Column form (F.when per bit, + per term) cost ~11 py4j
    # round trips per bit per plan build (r13 cProfile: build time is
    # re-paid on every bench pass; guide §1.2). The SQL text is the
    # same expression tree: CASE WHEN 2·c_j > n THEN 1<<j ELSE 0, summed
    # left-associatively over exact BIGINTs. Bit 63's weight is
    # Long.MIN_VALUE in two's complement — shiftleft(1L, 63) produces
    # exactly that bit pattern where a -9223372036854775808 literal
    # would parse as decimal; shiftleft constant-folds for every j.
    terms = []
    for j in range(bits):
        kk, half = divmod(j, 2)
        terms.append(
            f"(CASE WHEN (shiftright(p{kk}, {32 * half}) & 4294967295)"
            f" * 2 > n THEN shiftleft(CAST(1 AS BIGINT), {j})"
            f" ELSE CAST(0 AS BIGINT) END)"
        )
    return sums.selectExpr(
        ident(id_col),
        "(CAST(0 AS BIGINT) + " + " + ".join(terms) + ") AS simhash",
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with simhash Hamming distance ≤ max_hamming.

    Scale path: split the simhash into (max_hamming+1) blocks — any pair
    within distance k must agree exactly on ≥1 block (pigeonhole), so the
    self-join runs per (block index, block value) bucket instead of N².
    """
    blocks = max_hamming + 1
    block_bits = bits // blocks
    # blocks× rows per doc; persisted AFTER the block explode because the
    # bucket self-join reads it twice. Plain persist, NOT pre-partitioned
    # on the bucket key — same finding as minhash_lsh_pairs: the full-
    # width repartition-before-persist of a tiny relation measured ~1.27×
    # slower than plain persist + AQE join planning in the driver-style
    # harness; a sized repartition(n, ...) is the knob for a real large
    # corpus, pure overhead at bench scale.
    sh = simhash(df, id_col, text_col, bits)
    exploded = (
        sh.select(
            id_col,
            "simhash",
            F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("blk"),
        )
        .withColumn(
            "blk_val",
            F.expr(
                f"shiftright(simhash, blk * {block_bits})"
                f" & {(1 << block_bits) - 1}"
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    # hamming filter BEFORE the dedup distinct: the bucket join emits
    # Σ bucket² candidate rows (tens of millions at 50k docs with 8-bit
    # blocks), almost all of which fail the hamming bound — filtering
    # map-side right after the join means the distinct's exchange
    # carries only the true pairs (each ≤ blocks× duplicated), not the
    # full candidate stream
    return (
        a.join(b, on=["blk", "blk_val"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))),
        )
        .where(F.col("hamming") <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "hamming",
        )
        .distinct()
    )


# --------------------------------------------------------------------- #
# embedding cosine near-dup                                             #
# --------------------------------------------------------------------- #
def cosine(a: str, b: str) -> Column:
    """Cosine similarity of two array<float/double> columns, named by
    top-level column name, JVM-side via zip_with + aggregate (no UDF).

    Zero-norm vectors yield NULL (``try_divide``), not an error: under
    the engine's ANSI session default a plain ``/`` raised
    DIVIDE_BY_ZERO, so ONE zero embedding aborted an entire corpus-scale
    ANN/near-dup job (round-9 audit). NULL is the right value semantics
    too — cosine is undefined at zero norm, NULL ranks last under the
    top-k's ``desc`` ordering and fails every ``>= threshold`` screen,
    so degenerate vectors drop out instead of polluting results.

    The fold ships as one ``F.expr`` SQL string — a single py4j call,
    where Column lambdas cost ~60 round trips per call site at plan
    build (r13). Alias a computed vector or a struct field to a plain
    column name first; dotted names raise ``ValueError``.
    """
    return F.expr(cosine_sql(ident(a), ident(b)))


def embedding_near_dupes(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_size: int = 2048,
) -> DataFrame:
    """Pairs with cosine ≥ threshold — blocked all-pairs with a vectorized
    numpy kernel.

    Row-at-a-time ``aggregate`` lambdas are interpreted per element and
    collapse at N² pairs; instead the id space is cut into blocks and every
    (block_a ≤ block_b) pair is scored by ONE ``applyInPandas`` task doing
    a BLAS matmul on normalized matrices. Work distributes as
    nblocks·(nblocks+1)/2 independent tasks; each row is shipped nblocks
    times (pick ``block_size`` so blocks fit executor memory). Still
    quadratic by nature — the 100 TB path is LSH bucketing first
    (operators/similarity.py), then this exact kernel within buckets.
    """
    import pandas as pd
    from pyspark.sql import types as T

    base = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # block index via dense rank over ids would shuffle; ids are assumed
    # roughly dense — block on id DIV block_size (fine for any id space,
    # block sizes just vary)
    base = base.withColumn("blk", (F.col("id") / block_size).cast("int"))
    # block-pair grid built as a DataFrame cross-join so it stays on the
    # executors — at N=10⁹ rows there are ~500k blocks → 1.2×10¹¹ pairs,
    # which must never be driver-side Python objects
    blk_df = base.select("blk").distinct()
    pairs = (
        blk_df.select(F.col("blk").alias("blk_a"))
        .crossJoin(blk_df.select(F.col("blk").alias("blk_b")))
        .where(F.col("blk_a") <= F.col("blk_b"))
        .select(
            (F.col("blk_a").cast("long") * 100_000 + F.col("blk_b")).alias(
                "pair_id"
            ),
            "blk_a",
            "blk_b",
        )
    )

    side_a = (
        base.join(F.broadcast(pairs), base.blk == pairs.blk_a)
        .select("pair_id", F.lit(0).alias("side"), "id", "v")
    )
    side_b = (
        base.join(F.broadcast(pairs), base.blk == pairs.blk_b)
        .select("pair_id", F.lit(1).alias("side"), "id", "v")
    )
    both = side_a.unionByName(side_b)

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
        ]
    )

    def _score(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        ma = np.stack(a["v"].to_numpy())
        mb = np.stack(b["v"].to_numpy())
        ma = ma / np.linalg.norm(ma, axis=1, keepdims=True)
        mb = mb / np.linalg.norm(mb, axis=1, keepdims=True)
        sims = ma @ mb.T
        ia = a["id"].to_numpy()
        ib = b["id"].to_numpy()
        hit = (sims >= threshold) & (ia[:, None] < ib[None, :])
        ra, rb = np.nonzero(hit)
        return pd.DataFrame({"id_a": ia[ra], "id_b": ib[rb]})

    return (
        both.groupBy("pair_id")
        .applyInPandas(_score, out_schema)
        .select(
            F.col("id_a").alias("id_a"), F.col("id_b").alias("id_b")
        )
        .distinct()
    )


def span_dedup(
    df: DataFrame,
    width: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sub-document exact dedup: remove duplicated token SPANS across the
    whole corpus, keeping each span's first occurrence (ordered by
    (doc, position)) and reassembling the surviving text per document.

    This is the span-level companion to document-level exact dedup —
    training pipelines use it to strip boilerplate passages repeated
    across many otherwise-distinct pages.

    Plan: tokenize → fixed-``width`` chunk explode (array expressions,
    no Python), ONE shuffle partitioning chunks by their text for the
    first-occurrence window, then a per-doc aggregate that sorts kept
    chunks back into position with ``array_sort`` — no driver-side state.
    Output: (id, clean_text, n_spans, n_kept).
    """
    from pyspark.sql.window import Window

    from dask_sql_spark.operators.llmprep import chunk_documents

    chunks = chunk_documents(
        ensure_parallelism(df), chunk_tokens=width, id_col=id_col,
        text_col=text_col,
    )
    w = Window.partitionBy("chunk_text").orderBy(id_col, "chunk_idx")
    flagged = chunks.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("chunk_idx"), F.col("chunk_text"))
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(kept_struct)).alias("kept"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        )
        .select(
            id_col,
            F.concat_ws(
                " ", F.transform(F.col("kept"), lambda s: s.chunk_text)
            ).alias("clean_text"),
            "n_spans",
            "n_kept",
        )
    )


# --------------------------------------------------------------------- #
# fuzzy edit-distance                                                   #
# --------------------------------------------------------------------- #
def fuzzy_levenshtein_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 8,
    seg_width: int = 20,
    n_segments: int = 3,
) -> DataFrame:
    """Near-identical document pairs under a bounded Levenshtein edit
    distance, found with PassJoin-style prefix-segment blocking instead
    of an all-pairs verify.

    Candidate generation is the pigeonhole trick: the first
    ``n_segments * seg_width`` chars are cut into ``n_segments`` fixed
    windows; strings differing only by ≤ ``max_dist`` substitutions must
    agree on at least one window when ``max_dist < n_segments``-ish
    budgets hold, so the self-join runs per (segment-index, segment-text)
    bucket, never across the whole corpus. Insertions/deletions shift
    later windows, so this is RECALL-APPROXIMATE blocking (like LSH
    banding) — exactness is restored only within the candidate set by
    the native ``levenshtein`` verify. A `|len_a − len_b| ≤ max_dist`
    length filter (a true lower bound on edit distance) prunes buckets
    before the quadratic verify touches them.

    Scale (100 TB): shuffle volume is one (segment-key, doc) explode —
    ``n_segments`` rows per doc — and the verify cost is
    Σ bucket² · O(len²) only on length-compatible bucket-mates.
    ``levenshtein`` is a JVM built-in (no Python in the hot path) and
    exists identically in DuckDB, which makes the whole pipeline
    value-hash checkable cross-engine.

    Output: (id_a, id_b, dist) with id_a < id_b, dist ≤ max_dist.
    """
    segs = F.expr(
        f"transform(sequence(0, {n_segments - 1}), i -> "
        f"struct(i AS i, substring(lower({text_col}), 1 + i * {seg_width},"
        f" {seg_width}) AS s))"
    )
    sdf = (
        ensure_parallelism(df)
        .select(
            F.col(id_col),
            F.col(text_col),
            F.length(text_col).alias("len"),
            F.explode(segs).alias("g"),
        )
        .where(F.col("g.s") != "")
        .select(id_col, text_col, "len", "g.i", "g.s")
    )
    a = sdf.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"),
        F.col("len").alias("len_a"), "i", "s",
    )
    b = sdf.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"),
        F.col("len").alias("len_b"), "i", "s",
    )
    cand = (
        a.join(b, ["i", "s"])
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
        )
        .select("id_a", "id_b", "text_a", "text_b")
        .distinct()
    )
    # thresholded verify: with the bound passed in, Spark's levenshtein
    # early-aborts in O(len·max_dist) instead of filling the full
    # O(len²) matrix, returning -1 above the bound — 1.8× on the whole
    # pipeline at sf1. Distances within the bound are exact, so the
    # DuckDB oracle (full distance, same ≤ filter) matches bitwise.
    return (
        cand.withColumn(
            "dist", F.levenshtein("text_a", "text_b", max_dist)
        )
        .where((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("id_a", "id_b", "dist")
    )


def pair_evidence(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Forensics for LSH candidate pairs: per pair, the number of
    agreeing minhash permutations, the signature-estimated Jaccard
    (n_match / num_perm — unbiased minhash estimator), and the TRUE
    shingle Jaccard. Dedup-pipeline debugging reads this to tune
    (num_perm, bands) — a wide estimate-vs-truth gap at your operating
    threshold means the S-curve is in the wrong place.

    Cost: the signature aggregate is computed ONCE and shared by the
    band-bucket pair join and the agreement counts; true Jaccard joins the threshold-0 co-shingle counts
    RESTRICTED to candidate pairs, so the extra work is one bucket-join
    pass, never all-pairs. n_match/num_perm is a dyadic ratio —
    cross-engine exact with num_perm a power of two.
    """
    # the banding error covers num_perm too: raise it before the
    # signatures are built and persisted
    _check_banding(num_perm, bands)
    # ONE signature build feeds both the band-bucket pair join and the
    # per-pair agreement counts (persisted: two consumers)
    sigs = minhash_signatures(df, id_col, text_col, num_perm, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, num_perm, bands, shingle_n, sigs=sigs
    )
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(num_perm)],
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(num_perm)],
    )
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        for i in range(num_perm)
    )
    # true Jaccard only needs the candidate documents: semi-join the
    # corpus down BEFORE the threshold-0 co-shingle pass, so the pair
    # explosion is bounded by the candidate set (per-doc shingle sets —
    # and hence Jaccard — are independent of the surrounding corpus)
    cand_docs = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionAll(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sub = df.join(cand_docs, id_col, "left_semi")
    truth = ngram_jaccard_pairs(
        sub, id_col, text_col, n=shingle_n, threshold=0.0
    ).join(pairs, ["id_a", "id_b"])
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_match", n_match.cast("int"))
        .withColumn(
            "est_jaccard", F.col("n_match") / F.lit(float(num_perm))
        )
        .join(truth, ["id_a", "id_b"], "left")
        .select(
            "id_a", "id_b", "n_match", "est_jaccard",
            F.coalesce("jaccard", F.lit(0.0)).alias("true_jaccard"),
        )
    )
