"""Similarity search over embedding columns (array<float>).

Two tiers (SURVEY.md §7 M6):

- :func:`brute_force_topk` — exact cosine top-k, the correctness baseline.
  All math is JVM-side (zip_with/aggregate); ranking is a per-query window.
- :func:`lsh_topk` — random-hyperplane LSH bucketing as the scale path:
  sign-bit signatures computed against a fixed set of hyperplanes, shuffle
  on (signature) buckets, exact rerank only within buckets. At 1000
  executors the bucket join replaces the full N×M cross product.

Hyperplanes are derived deterministically from a seed via numpy and baked
into the plan as literals, so the computation is reproducible and entirely
Catalyst-visible (no UDF, no python in the hot path).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dask_sql_spark.operators.dedup import cosine
from dask_sql_spark.operators.util import (
    cosine_sql,
    dbl,
    dot_sql,
    ensure_parallelism,
    ident,
    let,
    norm_sql,
)


def _exact_sum(col: Column, scale: float) -> Column:
    """Rounding-neutral exact sum of a double column: scale to integer
    units with ROUND — a single IEEE op both Spark (BigDecimal HALF_UP)
    and DuckDB (std::round) resolve identically for every double below
    2^52, ties rounding away from zero in both — then SUM exactly and
    divide back. Replaces double→DECIMAL casts, whose tie rounding proved
    engine-build-dependent under the round-3 correctness driver.

    Headroom bound: the BIGINT accumulator holds ~9.2e18/scale of
    absolute magnitude per group — ~9.2e6 unit-magnitude values at
    scale=1e12, which every caller here respects by construction
    (per-vector folds are dimension-bounded; centroid groups at corpus
    scale must drop to scale=1e6, or pre-aggregate per shard, before
    approaching the bound). This engine's sessions run Spark 4 ANSI
    mode, so crossing the bound is a LOUD error, never a silent wrap —
    while DuckDB promotes to HUGEINT and keeps going, so a wrapped
    Spark sum could never be caught by the gate; ANSI is what makes the
    BIGINT form safe. (A DECIMAL(38,0) accumulator removes the bound
    entirely but measured ~2x slower on the centroid hot path —
    Tungsten sums 128-bit decimals outside the primitive fast path — so
    the bounded BIGINT form is deliberate.)"""
    return F.sum(F.round(col * scale).cast("long")).cast("double") / scale


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """row_number over (query, score desc, id) — deterministic tie-break."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("id_b").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("id_b").alias("neighbor_id"), "rank")
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus.

    ``queries`` is a (id, vector) DataFrame (often a filtered slice of
    ``emb``). The query side is broadcast — top-k search with a small query
    set against a huge corpus is a broadcast-nested-loop by design, scanned
    once, no shuffle of the corpus.

    Kernel note (round-10, measured at sf100 then cross-checked in
    clean processes): Spark 4's ``aggregate``/``zip_with`` fold runs
    this scan at ~1-2 µs per 64-dim pair — an Arrow/numpy pandas-UDF
    kernel was TRIED and measured SLOWER at every shape (dim 64: near
    parity; dim 1024: 3× slower — Arrow serialization of both vector
    operands dominates), so the JVM fold, which DuckDB's
    ``list_dot_product`` also replays bit-for-bit for the oracle, is
    the production kernel, not just the gate kernel. SCALING.md
    round-10 addendum 2 records the numbers and the measurement
    pitfall that briefly suggested otherwise.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("vq"),
    )
    c = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("vb"),
    )
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("query_id") != F.col("id_b"))
        .withColumn("cos", cosine("vq", "vb"))
    )
    return _rank_topk(scored, k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


# (analyzed-plan semanticHash, vec_col) -> dim, so repeated plan
# construction over the same source never relaunches the probe job
_DIM_CACHE: dict[tuple[int, str], int] = {}


def embedding_dim(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> int:
    """Embedding dimensionality without a per-call Spark job where
    avoidable: explicit ``dim=`` wins, then ``{"dim": N}`` column metadata
    on the vector field, then a one-row probe memoized on the analyzed
    plan's semanticHash (so building the same query twice costs one job,
    not two).  Spark array columns don't carry length in the type, hence
    the probe fallback at all."""
    if dim is not None:
        return int(dim)
    md = df.schema[vec_col].metadata or {}
    if "dim" in md:
        return int(md["dim"])
    try:
        key = (df._jdf.queryExecution().analyzed().semanticHash(), vec_col)
    except Exception:  # Spark Connect or API drift: probe uncached
        key = None
    if key is not None and key in _DIM_CACHE:
        return _DIM_CACHE[key]
    d = len(df.select(vec_col).first()[0])
    if key is not None:
        _DIM_CACHE[key] = d
    return d


def signature_col(vec: str, planes: np.ndarray) -> Column:
    """Sign-bit LSH signature of the vector column named ``vec`` against
    fixed hyperplanes, as a single integer — pure Catalyst expressions.

    The whole signature is one ``F.expr`` SQL string — a single py4j
    call the JVM parses, where the old Column composition built hundreds
    of Column objects through py4j (measured r12: 0.13 s vs 0.57 s warm
    build per column at 8×64). Plane components are exact DOUBLE
    literals (:func:`~dask_sql_spark.operators.util.dbl`), so a
    non-finite plane raises ``ValueError``."""
    v = ident(vec)
    terms = []
    for j, plane in enumerate(planes):
        arr = "array(" + ",".join(map(dbl, plane)) + ")"
        terms.append(f"IF({dot_sql(v, arr)} > 0.0D, {1 << j}, 0)")
    return F.expr(" + ".join(terms))


def _collect_codebook(cent_df: DataFrame) -> list[tuple[int, list[float]]]:
    """Materialize the (cell, centroid) codebook to the driver as plain
    Python rows, the centroid cast to the documented ARRAY<DOUBLE> (a
    float32 codebook folds as the same doubles a float64 one would).
    The codebook is DRIVER-SIZED BY CONSTRUCTION (n_cells entries —
    index metadata, the same class of bounded collect as
    :func:`ivf_search`'s probed-cell set, never corpus rows)."""
    rows = cent_df.selectExpr(
        "CAST(cell AS INT)", "CAST(centroid AS ARRAY<DOUBLE>)"
    ).collect()
    return sorted((r[0], list(r[1])) for r in rows)


def _codebook_sql(cent_rows: list[tuple[int, list[float]]]) -> str:
    """SQL literal ``array<struct<nc:int, vc:array<double>, nb:double>>``
    for an in-row scan over the codebook: nc = -cell (so lexicographic
    struct MAX breaks cosine ties toward the SMALLEST cell id), vc the
    centroid, nb its precomputed norm. Exact DOUBLE literals round-trip
    the IEEE doubles, and nb replays Spark's own sequential ``acc + v*v``
    fold + sqrt in Python doubles — identical operations, identical bits
    — so dropping the per-row centroid-norm folds changes no value. A
    NaN/inf component raises ``ValueError`` here, at plan build."""
    items = []
    for cell, vec in cent_rows:
        acc = 0.0
        for x in vec:
            acc = acc + x * x
        try:
            arr = "array(" + ",".join(map(dbl, vec)) + ")"
            nb = dbl(math.sqrt(acc))
        except ValueError as e:
            raise ValueError(f"IVF codebook: centroid of cell {cell}: {e}") from None
        items.append(f"named_struct('nc', {-cell}, 'vc', {arr}, 'nb', {nb})")
    return "array(" + ", ".join(items) + ")"


def _cell_scores_sql(vec: str, cent_rows: list[tuple[int, list[float]]]) -> str:
    """``array<struct<acos:double, nc:int>>`` — the vector's cosine
    against every codebook centroid, computed IN-ROW (guide §2.4: no
    fan-out rows, no ranking exchange, no rejoin). The arithmetic is the
    exact :func:`dask_sql_spark.operators.dedup.cosine` fold
    (zip_with dot, sequential ``acc + v*v`` norms, try_divide), with the
    vector's own norm bound ONCE via :func:`let` (interpreted HOFs have
    no CSE — r12/r13 MMR finding) and the centroid norms folded at
    plan-build time (see _codebook_sql).

    Ordering equivalence with the old ``row_number() OVER (ORDER BY
    acos DESC, cell ASC)`` windows: struct comparison comes with
    null-field-smallest and NaN-largest semantics — exactly the window's
    ``DESC NULLS LAST`` with NaN-first — and nc = -cell turns the
    ASC cell tie-break into a struct MAX / descending sort."""
    v = ident(vec)
    return let(
        norm_sql(v),
        "nv",
        f"transform({_codebook_sql(cent_rows)}, ct -> named_struct("
        f"'acos', try_divide({dot_sql(v, 'ct.vc')}, nv * ct.nb), 'nc', ct.nc))",
    )


def _assign_cells(
    c: DataFrame, cent_rows: list[tuple[int, list[float]]]
) -> DataFrame:
    """Assign each (id_b, vb) corpus vector to its max-cosine centroid
    cell (deterministic tie-break: smallest cell id — the same decision
    as ORDER BY acos DESC, cell ASC).

    Shape (r13; guide §2.4 remove shuffles outright): the assignment is
    a pure IN-ROW projection — ``array_max`` over the per-row
    _cell_scores_sql array against the collected codebook literal. The
    corpus flows scan → project(cell) with NO exchange at all. The r11
    narrow-rank form (fan-out rows → window → rejoin by id) still
    shuffled the narrow fan AND re-shuffled the full vector payload
    through the rejoin's sort-merge join at build scale; this removes
    both, and with them 2 of the 3 driver jobs the old plan needed
    (profile_query r13: ann_ivf_topk 7 jobs → see OPTIMIZATION_r13.md).

    Duplicate ``id_b`` rows (a contract violation — uniqueness is
    validated by :func:`ivf_build_index`) now each keep their own row
    and own cell instead of all inheriting one arbitrary dup's cell."""
    if not cent_rows:
        # empty codebook: the old crossJoin produced zero rows
        return (
            c.select("id_b", "vb")
            .withColumn("cell", F.lit(0).cast("int"))
            .where(F.lit(False))
        )
    best = f"array_max({_cell_scores_sql('vb', cent_rows)})"
    return c.select(
        "id_b", "vb", F.expr(f"CAST(-({best}.nc) AS INT)").alias("cell")
    )


def _rank_query_cells(
    q: DataFrame, cent_rows: list[tuple[int, list[float]]], n_probe: int
) -> DataFrame:
    """(query_id, vq, cell) — each query's n_probe nearest cells by
    centroid cosine, deterministic tie-break on cell id. In-row form
    (r13): descending ``sort_array`` over the per-row codebook scores,
    slice the top n_probe, explode — no crossJoin fan-out, no window
    exchange (ordering equivalence in _cell_scores_sql's docstring)."""
    if not cent_rows or n_probe <= 0:
        return (
            q.select("query_id", "vq")
            .withColumn("cell", F.lit(0).cast("int"))
            .where(F.lit(False))
        )
    top = (
        f"slice(sort_array({_cell_scores_sql('vq', cent_rows)}, false), "
        f"1, {int(n_probe)})"
    )
    return q.select(
        "query_id", "vq", F.explode(F.expr(top)).alias("pc")
    ).select("query_id", "vq", F.expr("CAST(-(pc.nc) AS INT)").alias("cell"))


def ivf_build_index(
    emb: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    centroids: DataFrame | None = None,
    files_per_cell: int | None = None,
) -> None:
    """Build a persistent IVF index: the corpus written ONCE to
    ``{index_path}/corpus`` as parquet **partitioned by cell**, plus the
    centroid codebook at ``{index_path}/centroids``.

    This is the deployment shape :func:`ivf_topk`'s docstring describes —
    assignment (the corpus × n_cells cosine fold) is paid exactly once,
    at build time; every subsequent :func:`ivf_search` reads ONLY the
    probed cells via parquet partition pruning (PartitionFilters in the
    scan, plan-asserted in tests/test_plans.py). At 100 TB a search
    touches n_probe/n_cells of the data instead of re-deriving the
    assignment per call — the round-10 verdict's one superlinear point
    (sf100 exponent 1.27) becomes a one-off build cost.

    ``centroids`` (cell INT, centroid ARRAY<DOUBLE>) fixes the codebook
    (deterministic, engine-replayable assignment — the production
    serve-from-trained-codebook path); omitted, spark.ml KMeans trains
    one (distributed fit, engine-specific labels). Doubles roundtrip
    parquet bit-exactly, so a search over the index is bitwise identical
    to the in-memory :func:`ivf_topk` on the same codebook.

    ``id_col`` must be unique (validated here, once): the assignment
    rejoins the winning cell by id, so a duplicated id would fan out and
    break the every-row-in-exactly-one-cell index invariant.
    """
    c = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("vb"),
    )
    spark = emb.sparkSession
    # one-off build-time contract check — fail loudly rather than persist
    # a corrupt index (cost: one narrow groupBy, amortized over every
    # search the index ever serves; the vector column is pruned from it)
    dup = (
        c.groupBy("id_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"ivf_build_index: id column {id_col!r} must be unique; "
            f"found duplicated id {dup[0]['id_b']!r} ({dup[0]['n']} rows)"
        )
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = c.withColumn("features", array_to_vector(F.col("vb")))
        model = KMeans(
            k=n_cells, seed=seed, featuresCol="features", predictionCol="cell"
        ).fit(feat)
        corpus = model.transform(feat).select("id_b", "vb", "cell")
        cent_df = spark.createDataFrame(
            [
                (i, [float(x) for x in ctr])
                for i, ctr in enumerate(model.clusterCenters())
            ],
            "cell INT, centroid ARRAY<DOUBLE>",
        )
    else:
        cent_df = centroids.selectExpr(
            "CAST(cell AS INT) AS cell",
            "CAST(centroid AS ARRAY<DOUBLE>) AS centroid",
        )
        corpus = _assign_cells(c, _collect_codebook(cent_df))
    # partitionBy(cell): each cell becomes a hive partition directory,
    # so ivf_search's cell predicate prunes at FILE LISTING time — the
    # unprobed (n_cells - n_probe)/n_cells of a 100 TB corpus is never
    # listed, opened, or scanned.
    #
    # Layout: the default writes directly (each task opens a writer per
    # cell it sees — files ≤ write-tasks × n_cells). files_per_cell
    # adds a (cell, salt) repartition that bounds layout at
    # files_per_cell files per cell; it is OPT-IN because the extra
    # exchange measured 8× slower end-to-end on the sf100 local-mode
    # harness (118 s direct vs 978 s with the 16-reducer exchange —
    # a pathological few-fat-reducers shuffle-read pattern), and a
    # fragmented-but-pruned index reads fine. Run it where layout
    # matters (object stores billing per request, file-count quotas).
    if files_per_cell is not None:
        corpus = corpus.repartition(
            F.col("cell"),
            F.pmod(F.xxhash64("id_b"), F.lit(files_per_cell)),
        )
    corpus.write.mode("overwrite").partitionBy("cell").parquet(
        f"{index_path}/corpus"
    )
    cent_df.write.mode("overwrite").parquet(f"{index_path}/centroids")


def ivf_insert(
    emb_new: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    check_ids: bool = False,
) -> None:
    """Incrementally append new vectors to an existing
    :func:`ivf_build_index` index WITHOUT a full rebuild — the natural
    index-staleness answer at 100 TB, where re-assigning the whole
    corpus per ingest batch is a non-starter.

    Each new vector is assigned to its cell against the PERSISTED
    codebook (the same :func:`_assign_cells` max-cosine rule the build
    used, so insert-then-search is bitwise identical to
    build-from-scratch on the union), then appended into the
    cell-partitioned corpus: new parquet files land inside the existing
    ``cell=N`` partition directories, so :func:`ivf_search`'s partition
    pruning sees them with no metadata rebuild. Cost is linear in the
    BATCH (batch × n_cells assignment fold + one batch-sized write) —
    the resident corpus is never read.

    Intra-batch id uniqueness is validated (same contract as build);
    uniqueness AGAINST the resident corpus is the caller's contract by
    default because checking it means scanning every resident id —
    pass ``check_ids=True`` to pay that scan (columnar: ids only, the
    vector column is pruned) and fail on collisions.

    Appends are not transactional (plain parquet, no table format): a
    search racing a mid-flight insert can see a subset of the new files.
    Stage inserts into a fresh index directory + rename where that
    matters. Centroids never move — inserting does not retrain the
    codebook; periodically rebuild if drift degrades probe recall.
    """
    spark = emb_new.sparkSession
    c = emb_new.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("vb"),
    )
    dup = (
        c.groupBy("id_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"ivf_insert: id column {id_col!r} must be unique within the "
            f"batch; found duplicated id {dup[0]['id_b']!r} "
            f"({dup[0]['n']} rows)"
        )
    if check_ids:
        resident = spark.read.parquet(f"{index_path}/corpus").select("id_b")
        hit = c.select("id_b").join(resident, "id_b").limit(1).collect()
        if hit:
            raise ValueError(
                f"ivf_insert: id {hit[0]['id_b']!r} already present in "
                f"the index at {index_path!r}"
            )
    cent_rows = _collect_codebook(spark.read.parquet(f"{index_path}/centroids"))
    corpus = _assign_cells(c, cent_rows)
    corpus.write.mode("append").partitionBy("cell").parquet(
        f"{index_path}/corpus"
    )


def ivf_search(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 3,
) -> DataFrame:
    """Serve top-k from a persistent :func:`ivf_build_index` index,
    scanning ONLY the probed cells.

    The probed-cell set (union over queries, ≤ n_cells integers — index
    metadata, not data) is resolved on the driver so the corpus scan
    carries a literal ``cell IN (...)`` partition predicate: Catalyst
    prunes the unprobed partition directories before a single corpus
    byte is read. Rerank within the probed cells is the same JVM cosine
    fold + per-query row_number as :func:`brute_force_topk`.
    """
    cent_rows = _collect_codebook(spark.read.parquet(f"{index_path}/centroids"))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("vq"),
    )
    q_cells = _rank_query_cells(q, cent_rows, n_probe)
    # bounded collect: at most n_cells distinct ints (the codebook is
    # driver-sized by construction) — never corpus rows
    probed = sorted(
        r[0] for r in q_cells.select("cell").distinct().collect()
    )
    corpus = spark.read.parquet(f"{index_path}/corpus").where(
        F.col("cell").isin(probed)
    )
    scored = (
        corpus.join(F.broadcast(q_cells), on="cell")
        .where(F.col("query_id") != F.col("id_b"))
        .withColumn("cos", cosine("vq", "vb"))
    )
    return _rank_topk(scored, k)


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 3,
    seed: int = 42,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans partitions the corpus
    into cells; each query probes its ``n_probe`` nearest cells and does
    exact cosine rerank within them only.

    This convenience form re-derives the cell assignment per call — a
    corpus × n_cells cosine fold — so it is the EXPLORATION shape. The
    100 TB deployment shape is the executable pair
    :func:`ivf_build_index` (assign once, corpus written partitioned by
    cell) + :func:`ivf_search` (partition-pruned probe: a query touches
    n_probe/n_cells of the data). Recall rises with n_probe;
    n_probe = n_cells degenerates to exact search.

    Pass ``centroids`` (cell INT, centroid ARRAY<DOUBLE>) to skip the
    KMeans fit and use a fixed codebook — corpus rows are then assigned
    to their max-cosine centroid. This is how a production index serves
    queries against an already-trained codebook, and it makes the whole
    pipeline deterministic (an engine-independent oracle can replay the
    assignment; spark.ml's KMeans cell labels are engine-specific).
    """
    c = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("vb"),
    )
    spark = emb.sparkSession

    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = c.withColumn("features", array_to_vector(F.col("vb")))
        kmeans = KMeans(
            k=n_cells, seed=seed, featuresCol="features", predictionCol="cell"
        )
        model = kmeans.fit(feat)
        corpus = model.transform(feat).select("id_b", "vb", "cell")
        # the codebook is already a driver-side list — no Spark frame,
        # no collect needed for the in-row query-cell ranking
        cent_rows = sorted(
            (i, [float(x) for x in ctr])
            for i, ctr in enumerate(model.clusterCenters())
        )
    else:
        cent_rows = _collect_codebook(centroids)
        # in-row assignment (scan → project, no exchange); the
        # repartition only fires when the scan is under-parallel (small
        # local files) — at scale the scan's own splits carry it
        corpus = _assign_cells(ensure_parallelism(c), cent_rows)

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("vq"),
    )
    # rank the query's cells by centroid cosine; keep the top n_probe
    q_cells = _rank_query_cells(q, cent_rows, n_probe)
    scored = (
        corpus.join(F.broadcast(q_cells), on="cell")
        .where(F.col("query_id") != F.col("id_b"))
        .withColumn("cos", cosine("vq", "vb"))
    )
    return _rank_topk(scored, k)


def embedding_near_dupes_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
    kernel: str = "blas",
) -> DataFrame:
    """All-pairs cosine near-dup at scale: hyperplane LSH bucketing, exact
    numpy-matmul kernel WITHIN buckets only (the scale path that
    dedup.embedding_near_dupes's documented-quadratic kernel defers to).

    Multiprobe: every vector lands in its own bucket plus all 1-bit-flip
    buckets, so a pair whose signatures differ on ≤1 plane still meets
    ((n_planes+1)× row duplication, deduped at the end). At cos ≥ 0.95 and
    8 planes that lifts pair recall from ~0.43 to ~0.81; raise recall
    further with fewer planes or 2-bit probes. Work is Σ bucket²— never
    N² — and each bucket's scoring is one BLAS matmul task.

    ``kernel``: ``"blas"`` (default) scores each bucket with one numpy
    matmul per Arrow batch — the throughput path. ``"fold"`` scores via
    the Catalyst zip_with/aggregate cosine instead: same bucketing, same
    pair set, but every float op is a sequential IEEE fold an external
    engine can replay bit-for-bit (the cross-engine-gateable path; BLAS
    blocked summation is not bitwise replayable at the threshold
    boundary). test_pipeline_ops pins that both kernels emit the same
    pairs on the test corpus.
    """
    import pandas as pd
    from pyspark.sql import types as T

    planes = _hyperplanes(embedding_dim(emb, vec_col, dim), n_planes, seed)

    c = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # signatures INLINE on the corpus row (r12): the previous broadcast
    # plane-table join existed because the literal expression was
    # slow to BUILD; with signature_col's one-string F.expr form that
    # cost is gone, and inlining deletes both the plane-fan-out
    # groupBy(id) exchange and the sigs-rejoin join from the plan —
    # the corpus now flows scan → project(sig) → probe explode with no
    # shuffle before the bucket self-join. Values identical (same
    # zip_with fold per plane, bits summed as 1<<j; sig is a join-
    # internal key, never an output column). Long sig type preserved
    # for bit-parity with the old shiftleft(CAST(1 AS BIGINT)) path.
    sig_long = signature_col("v", planes).cast("long")
    probes = F.array(
        F.col("sig"),
        *[F.col("sig").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
    )
    buckets = c.withColumn("sig", sig_long).withColumn(
        "bucket", F.explode(probes)
    )

    if kernel == "fold":
        # candidate ids dedupe BEFORE scoring (a pair can meet in up to
        # n_planes+1 probe buckets), then ONE fold per unique pair over
        # pre-normalized vectors — cosine collapses to a single dot
        # product instead of dot+two norms per candidate
        a = buckets.alias("a")
        b = buckets.alias("b")
        cands = (
            a.join(b, on="bucket")
            .where(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
            )
            .distinct()
        )
        nrm = F.sqrt(
            F.aggregate(
                F.zip_with(F.col("v"), F.col("v"), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        normed = c.withColumn("_n", nrm).select(
            "id",
            F.transform(F.col("v"), lambda x: x / F.col("_n")).alias("vn"),
        )
        return (
            cands.join(
                normed.select(
                    F.col("id").alias("id_a"), F.col("vn").alias("va")
                ),
                "id_a",
            )
            .join(
                normed.select(
                    F.col("id").alias("id_b"), F.col("vn").alias("vb")
                ),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.round(
                    F.aggregate(
                        F.zip_with(
                            F.col("va"), F.col("vb"), lambda x, y: x * y
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    6,
                ).alias("cos"),
            )
            .where(F.col("cos") >= threshold)
        )

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def _pairs(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        m = np.stack(pdf["v"].to_numpy())
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        ids = pdf["id"].to_numpy()
        sims = m @ m.T
        ia, ib = np.nonzero((sims >= threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame(
            {"id_a": ids[ia], "id_b": ids[ib], "cos": np.round(sims[ia, ib], 6)}
        )

    return (
        buckets.groupBy("bucket").applyInPandas(_pairs, out_schema).distinct()
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k: random-hyperplane bucketing, exact rerank
    within the query's bucket. Recall grows with fewer planes / multiple
    probes; this implementation also probes all buckets at Hamming
    distance 1 (flip each bit) to soften boundary effects.
    """
    planes = _hyperplanes(embedding_dim(emb, vec_col, dim), n_planes, seed)

    c = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("vb"),
    ).withColumn("sig", signature_col("vb", planes))

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("vq"),
    ).withColumn("qsig", signature_col("vq", planes))
    # multiprobe: the bucket itself + all 1-bit flips
    probes = F.array(
        F.col("qsig"), *[F.col("qsig").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)]
    )
    q = q.withColumn("sig", F.explode(probes))

    scored = (
        c.join(F.broadcast(q), on="sig")
        .where(F.col("query_id") != F.col("id_b"))
        .withColumn("cos", cosine("vq", "vb"))
    )
    return _rank_topk(scored, k)


# driver-side collect bound for semantic_contaminated's bench side: eval
# sets are fixed-size; anything bigger is a misuse, not a scale-up
MAX_BENCH_ROWS = 200_000


def semantic_contaminated(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination: (corpus_id, bench_id)
    pairs whose cosine meets the threshold — the semantic twin of
    ``text.contaminated_docs`` (shingle overlap), catching paraphrased
    test-set leakage that exact n-gram matching misses.

    The benchmark side is collected once to the driver (an eval set is
    tiny and FIXED-SIZE next to the training corpus — guarded at
    ``max_bench_rows``) and shipped to executors inside the mapInPandas
    closure; the corpus is scanned once, narrow, no shuffle.  Per Arrow
    batch the scoring is ONE BLAS matmul (batch × dim @ dim × n_bench)
    instead of per-pair Catalyst array folds — measured ~20× faster at
    sf1 with identical pair membership (cosine values differ only in
    final ulps, far below any sane threshold's resolution).  To drop the
    leaked docs, LEFT ANTI join the corpus on ``corpus_id``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    rows = bench.select(id_col, vec_col).limit(MAX_BENCH_ROWS + 1).collect()
    if len(rows) > MAX_BENCH_ROWS:
        raise ValueError(
            f"bench side exceeds {MAX_BENCH_ROWS} rows; "
            "semantic_contaminated expects a fixed-size eval set"
        )
    bench_ids = np.array([r[0] for r in rows])
    B = np.array([r[1] for r in rows], dtype="float64")
    B = B / np.linalg.norm(B, axis=1, keepdims=True)

    out_schema = T.StructType(
        [
            T.StructField("corpus_id", corpus.schema[id_col].dataType),
            T.StructField("bench_id", bench.schema[id_col].dataType),
        ]
    )

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            M = M / np.linalg.norm(M, axis=1, keepdims=True)
            ia, ib = np.nonzero(M @ B.T >= threshold)
            yield pd.DataFrame(
                {
                    "corpus_id": pdf[id_col].to_numpy()[ia],
                    "bench_id": bench_ids[ib],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(_score, out_schema)


def hybrid_rerank(
    docs: DataFrame,
    emb: DataFrame,
    query: str,
    query_emb: DataFrame,
    k: int = 10,
    candidates: int = 50,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    text_col: str = "text",
) -> DataFrame:
    """Two-stage retrieval: BM25 candidate generation over the corpus,
    then embedding-cosine rerank of ONLY the candidate set —
    ``final = alpha·(bm25/max_bm25) + (1−alpha)·cos(query_vec, doc_vec)``.
    The standard hybrid lexical+semantic ranker for RAG / curation
    pipelines. Output: (id, bm25_norm, cos_sim, final_score) top-k.

    Scale shape: stage 1 is :func:`~dask_sql_spark.operators.text.
    bm25_search` (exchange carries only query-term hits); the ≤
    ``candidates`` survivors and the single-row query vector broadcast
    against the embeddings table, so the expensive cosine math runs on
    exactly ``candidates`` rows no matter the corpus size. Scores are
    rounded (cos at 9, final at 6) for cross-engine determinism.
    """
    from dask_sql_spark.operators.text import bm25_search

    cands = bm25_search(
        docs, query, k=candidates, id_col=id_col, text_col=text_col
    ).select(id_col, "score")
    e = emb.select(
        F.col(emb_id_col).alias(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    q = F.broadcast(
        query_emb.select(F.col(vec_col).cast("array<double>").alias("__vq"))
    )
    # max_bm25 as a global window over the ≤``candidates``-row relation,
    # not a separate .agg() branch: cands is a TakeOrdered subplan and
    # Catalyst compiles each DataFrame reference its own copy, so the
    # agg form ran the whole BM25 pipeline (3 corpus scans) TWICE per
    # query (guide §2.4 — duplicated subtree; verified 2× FileScan
    # count in the before plan). The window moves ≤ candidates rows
    # through one partition — free at any corpus size.
    cands = cands.withColumn(
        "__m", F.max("score").over(Window.partitionBy())
    )
    scored = (
        F.broadcast(cands)
        .join(e, id_col)
        .crossJoin(q)
        .withColumn("bm25_norm", F.round(F.col("score") / F.col("__m"), 9))
        .withColumn("cos_sim", F.round(cosine("__v", "__vq"), 9))
    )
    return (
        scored.select(
            id_col,
            "bm25_norm",
            "cos_sim",
            F.round(
                F.lit(alpha) * F.col("bm25_norm")
                + F.lit(1.0 - alpha) * F.col("cos_sim"),
                6,
            ).alias("final_score"),
        )
        .orderBy(F.col("final_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def centroid_similarity(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 9,
) -> DataFrame:
    """Embedding-quality analytics: cosine similarity of every vector to
    its label's centroid — the standard screen for mislabeled / outlier
    embeddings before training. Output: (id, label, cos_centroid).

    Cross-engine determinism is the hard part: double summation is
    order-dependent, so every reduction (centroid components, dot
    product, norms) routes through exact integer-scaled BIGINT sums
    (:func:`_exact_sum`) before returning to double, and the final
    cosine is rounded. Plan shape: posexplode
    (rows × dim), a (label, pos) centroid aggregate that AQE broadcasts
    back, then a per-id aggregate — all map-side-combinable.

    Scale path note: for throughput at 100 TB, the blocked-BLAS
    ``applyInPandas`` kernel in operators/dedup.py is the fast variant;
    this one is the exactly-reproducible relational form.
    """
    ex = df.select(
        id_col,
        label_col,
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    ).withColumn("val", F.col("val").cast("double"))
    cent = ex.groupBy(label_col, "pos").agg(
        (_exact_sum(F.col("val"), 1e12) / F.count(F.lit(1))).alias("cval")
    )
    joined = ex.join(F.broadcast(cent), [label_col, "pos"])
    per_vec = joined.groupBy(id_col, label_col).agg(
        _exact_sum(F.col("val") * F.col("cval"), 1e12).alias("dot"),
        _exact_sum(F.col("val") * F.col("val"), 1e12).alias("nv"),
        _exact_sum(F.col("cval") * F.col("cval"), 1e12).alias("nc"),
    )
    return per_vec.select(
        id_col,
        label_col,
        F.round(
            F.col("dot") / F.sqrt(F.col("nv") * F.col("nc")), round_digits
        ).alias("cos_centroid"),
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = ("label",),
    round_digits: int = 9,
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column —
    the standard 4× memory/IO reduction before ANN indexing or vector
    export. Output: (id, *keep_cols, qvec ARRAY<INT> in [-127, 127],
    scale, n_sat, max_err, sum_err).

    Per vector: ``scale = max(|x|)``, ``step = scale/127``, each element
    ``q = floor(x/step + 0.5)`` (half-up, engine-portable — both Spark
    and DuckDB floor doubles identically, unlike their round()
    half-even/half-away split). Reconstruction error columns are audit
    output: ``max_err ≤ step/2`` by construction; ``sum_err`` routes
    through an exact integer-scaled BIGINT reduction so it is
    bit-reproducible cross-engine (same discipline as
    :func:`centroid_similarity`).

    Scale shape: narrow transform only — no shuffle, no UDF; every
    element op is whole-stage-codegen array math. At 100 TB this is a
    pure map over the corpus, trivially parallel.
    """
    v = F.col(vec_col).cast("array<double>")
    out = df.select(
        id_col,
        *keep_cols,
        v.alias("_vd"),
        F.array_max(F.transform(v, F.abs)).alias("_scale"),
    ).withColumn(
        "_step",
        F.when(F.col("_scale") > 0, F.col("_scale") / F.lit(127.0)).otherwise(
            F.lit(1.0)
        ),
    )
    # the audit folds ship as F.expr SQL text over the bound _vd/_step
    # columns — the old nested-lambda Column form cost ~500 py4j round
    # trips per plan build (r13, guide §1.2). Literal care: 0.5D/1.0E12
    # are DOUBLE (a bare SQL 0.5 parses as DECIMAL and would change the
    # arithmetic); floor(double) is BIGINT in both forms; otherwise the
    # SQL is token-identical to the old lambdas and the gate hashes
    # pin equality.
    q_sql = "floor({x} / _step + 0.5D)"
    err_sql = "abs({x} - " + q_sql + " * _step)"
    return out.select(
        id_col,
        *keep_cols,
        F.expr(
            "transform(_vd, x -> CAST("
            + q_sql.format(x="x")
            + " AS INT))"
        ).alias("qvec"),
        F.round(F.col("_scale"), round_digits).alias("scale"),
        F.expr(
            "CAST(size(filter(_vd, x -> abs("
            + q_sql.format(x="x")
            + ") = 127)) AS BIGINT)"
        ).alias("n_sat"),
        F.expr(
            "round(array_max(transform(_vd, x -> "
            + err_sql.format(x="x")
            + f")), {round_digits})"
        ).alias("max_err"),
        F.expr(
            "round(CAST(aggregate(transform(_vd, x -> "
            "CAST(round(" + err_sql.format(x="x") + " * 1.0E12) AS BIGINT)"
            "), CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE)"
            f" / 1.0E12, {round_digits})"
        ).alias("sum_err"),
    )


def quantized_brute_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """int8-quantized cosine top-k: rank by the INTEGER dot product of
    :func:`quantize_embeddings` codes (descaled by the two per-vector
    scales). The memory-bandwidth play at corpus scale — the scan reads
    1/4 the bytes of float32 and the kernel is integer SIMD; recall vs
    the exact kernel is pinned in tests.

    Cross-engine note: the int dot product is EXACT in any engine (no
    float summation order), so unlike the float kernels this
    approximate index is fully oracle-checkable: score =
    dot_int · (scale_a/127) · (scale_b/127) / (|qa|·|qb|), every factor
    deterministic. Same broadcast-query plan shape as
    :func:`brute_force_topk`.
    """
    quant = quantize_embeddings(emb, id_col=id_col, vec_col=vec_col, keep_cols=())
    q = queries.select(F.col(id_col).alias("query_id")).join(
        quant.select(
            F.col(id_col).alias("query_id"),
            F.col("qvec").alias("qa"),
            F.col("scale").alias("sa"),
        ),
        "query_id",
    )
    c = quant.select(
        F.col(id_col).alias("id_b"),
        F.col("qvec").alias("qb"),
        F.col("scale").alias("sb"),
    )

    def _idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    scored = (
        c.join(F.broadcast(q))
        .where(F.col("query_id") != F.col("id_b"))
        .withColumn(
            "cos",
            F.round(
                _idot(F.col("qa"), F.col("qb")).cast("double")
                * (F.col("sa") / 127.0)
                * (F.col("sb") / 127.0)
                / F.sqrt(
                    _idot(F.col("qa"), F.col("qa")).cast("double")
                    * (F.col("sa") / 127.0) * (F.col("sa") / 127.0)
                    * _idot(F.col("qb"), F.col("qb")).cast("double")
                    * (F.col("sb") / 127.0) * (F.col("sb") / 127.0)
                ),
                9,
            ),
        )
    )
    return _rank_topk(scored, k)


def mmr_rerank(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_candidates: int = 20,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: per query, greedily select
    ``k`` results maximizing ``lam·rel(d) − (1−lam)·max_{s∈S} sim(d, s)``
    — the classic Carbonell-Goldstein diversification used to keep
    retrieved context windows (RAG) and eval panels from collapsing onto
    near-duplicate passages.

    Plan shape: candidate generation is the broadcast cosine scan of
    :func:`brute_force_topk` truncated at ``n_candidates`` (swap in
    :func:`lsh_topk` buckets upstream at 100 TB — the rerank below only
    ever touches ``n_candidates`` rows per query). The greedy loop is
    unrolled into ``k`` lazy DataFrame steps (argmax via a per-query
    row_number window, then an anti-join removes the pick); all arithmetic
    stays in JVM fold expressions, which DuckDB's sequential
    ``list_dot_product`` reproduces bit-for-bit, so selection order is
    value-gated cross-engine with no rounding. Keep ``lam`` dyadic
    (0.5, 0.25…) so ``1−lam`` is IEEE-exact in both engines.

    Output: (query_id, selected_id, step) with step 1..k in selection
    order; step 1 is the plain relevance argmax.

    Memory bound (§5): the rerank packs each query's candidate rows into
    ONE aggregation row of ``n_candidates × dim`` doubles, so
    ``n_candidates`` must stay a rerank-sized input (10²-10³), never a
    corpus cardinality — guarded below rather than left to an executor
    OOM.
    """
    if k < 1:
        raise ValueError(f"mmr_rerank: require k >= 1, got {k}")
    if not 1 <= n_candidates <= 100_000:
        raise ValueError(
            "mmr_rerank: n_candidates must be a bounded rerank input "
            f"(1..100000), got {n_candidates} — the per-query candidate "
            "set is packed into a single aggregation row"
        )
    one_minus = 1.0 - lam
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("vq"),
    )
    c = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("vb"),
    )
    wrel = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("id_b").asc()
    )
    # rank WITHOUT the vector payload, rejoin vb for the survivors: the
    # candidate window partitions by query_id (few partitions), and
    # carrying the 64-double vb through that exchange put gigabytes into
    # a handful of reducers — measured 225 s vs 9 s for the identical
    # scan+window with a narrow row (round-10 sf100 profile). The
    # rejoin is one more column-pruned corpus scan against the
    # broadcast ~(queries × n_candidates)-row survivor set.
    cand_ids = (
        c.join(F.broadcast(q))
        .where(F.col("query_id") != F.col("id_b"))
        .withColumn("cos", cosine("vq", "vb"))
        .select("query_id", "id_b", "cos")
        .withColumn("rk", F.row_number().over(wrel))
        .where(F.col("rk") <= n_candidates)
        .select("query_id", "id_b", "cos")
    )
    cand = c.join(F.broadcast(cand_ids), "id_b").select(
        "query_id", "id_b", "cos", "vb"
    )
    # The greedy loop runs as ONE higher-order-function expression over
    # the per-query candidate array (≤ n_candidates rows), not as k
    # unrolled join+window+localCheckpoint steps: the unrolled chain
    # cost (k−1) localCheckpoints ≈ 0.25-0.5 s of physical planning
    # EACH plus ~25 driver-scheduled jobs per call (measured r12,
    # guide §1.2/§5 — driver work, tasks were never the cost), and at
    # scale k extra shuffles. Arithmetic is expression-for-expression
    # the one the unrolled form ran — same zip_with/aggregate cosine
    # folds, msim as a running max (greatest ≡ MAX aggregate for
    # doubles incl. NaN-largest/NULL-skipped), same
    # lam·cos − (1−lam)·msim, argmax with Spark's own comparison
    # semantics (NaN > any, NaN = NaN) and NULL-scores-last to match
    # the windows' `desc` NULLS LAST — so selection is bit-identical
    # (oracle-gated). Precondition (unchanged): candidate ids non-NULL,
    # unique per query.
    def _best(l: str, r: str, score: str) -> str:
        # True iff l wins over r under (score DESC NULLS LAST, id ASC) —
        # NaN handled by Spark's own > / = (NaN largest, NaN = NaN)
        return (
            f"CASE WHEN {l}.{score} IS NULL AND {r}.{score} IS NULL "
            f"THEN {l}.id_b < {r}.id_b "
            f"WHEN {l}.{score} IS NULL THEN false "
            f"WHEN {r}.{score} IS NULL THEN true "
            f"WHEN {l}.{score} > {r}.{score} THEN true "
            f"WHEN {l}.{score} < {r}.{score} THEN false "
            f"ELSE {l}.id_b < {r}.id_b END"
        )

    idt = cand.schema["id_b"].dataType.simpleString()
    msim_upd = (
        "IF(acc.lastvb IS NULL, cu.msim, "
        f"greatest(cu.msim, {cosine_sql('cu.vb', 'acc.lastvb')}))"
    )
    # Interpreted HOF evaluation has NO common-subexpression elimination:
    # every textual splice of a subexpression re-runs it (r12 verdict —
    # the O(n·dim) msim cosine fold ran ~14× per step through the
    # rem2/pick duplication). Each shared value is therefore bound ONCE
    # per step with ``let``. Arithmetic is unchanged
    # expression-for-expression, so selection stays bit-identical
    # (oracle-gated).
    #
    # per-iteration candidate view: running msim (bound once per
    # candidate as ``m``), and the step's ranking key — plain relevance
    # at step 1, lam·cos − (1−lam)·msim after
    rem2 = "transform(acc.rem, cu -> " + let(
        msim_upd,
        "m",
        "named_struct('id_b', cu.id_b, 'cos', cu.cos, 'vb', cu.vb, "
        f"'msim', m, 'key', IF(st = 1, cu.cos, {dbl(lam)} * cu.cos - "
        f"{dbl(one_minus)} * m))",
    ) + ")"
    pick = (
        "aggregate(slice(R, 2, size(R) - 1), "
        "element_at(R, 1), "
        f"(b2, c2) -> IF({_best('c2', 'b2', 'key')}, c2, b2))"
    )
    new_state = (
        "named_struct("
        "'sel', concat(acc.sel, array(named_struct("
        "'id_b', p.id_b, 'step', st))), "
        "'lastvb', p.vb, "
        "'rem', transform(filter(R, r2 -> r2.id_b != p.id_b), "
        "r3 -> named_struct('id_b', r3.id_b, 'cos', r3.cos, 'vb', r3.vb, "
        "'msim', r3.msim)))"
    )
    step_body = (
        f"IF(size(acc.rem) = 0, acc, {let(rem2, 'R', let(pick, 'p', new_state))})"
    )
    acc_init = (
        "named_struct("
        f"'sel', CAST(array() AS ARRAY<STRUCT<id_b: {idt}, step: INT>>), "
        "'lastvb', CAST(NULL AS ARRAY<DOUBLE>), "
        "'rem', transform(C, c0 -> named_struct("
        "'id_b', c0.id_b, 'cos', c0.cos, 'vb', c0.vb, "
        "'msim', CAST(NULL AS DOUBLE))))"
    )
    sel_sql = (
        f"aggregate(sequence(1, {k}), {acc_init}, "
        f"(acc, st) -> {step_body}, fin -> fin.sel)"
    )
    packed = cand.groupBy("query_id").agg(
        F.collect_list(F.struct("id_b", "cos", "vb")).alias("C")
    )
    return packed.select(
        "query_id", F.explode(F.expr(sel_sql)).alias("p")
    ).select(
        "query_id",
        F.col("p.id_b").alias("selected_id"),
        F.col("p.step").alias("step"),
    )


def centroid_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 9,
) -> DataFrame:
    """Embedding drift monitor: per label, the cosine between the label's
    centroid in snapshot A and in snapshot B — THE cheap production check
    that a re-embedded / newly ingested corpus still lives in the same
    space (drift_cos ≈ 1 healthy; a dip flags encoder or pipeline
    regressions before anything downstream retrains).

    Same exact integer-scaled reduction discipline as
    :func:`centroid_similarity` (:func:`_exact_sum`): centroid
    components from BIGINT micro-unit sums, dot/norms likewise, one
    rounded output.
    Plan: each side is one (label, pos) aggregate after posexplode; the
    final join is label×dim sized — broadcastable at any corpus scale.
    """

    def cent(df: DataFrame, out: str) -> DataFrame:
        ex = df.select(
            label_col, F.posexplode(F.col(vec_col)).alias("pos", "val")
        ).withColumn("val", F.col("val").cast("double"))
        return ex.groupBy(label_col, "pos").agg(
            (_exact_sum(F.col("val"), 1e12) / F.count(F.lit(1))).alias(out)
        )
    joined = cent(df_a, "ca").join(cent(df_b, "cb"), [label_col, "pos"])
    per_label = joined.groupBy(label_col).agg(
        _exact_sum(F.col("ca") * F.col("cb"), 1e12).alias("dot"),
        _exact_sum(F.col("ca") * F.col("ca"), 1e12).alias("na"),
        _exact_sum(F.col("cb") * F.col("cb"), 1e12).alias("nb"),
        F.count(F.lit(1)).cast("int").alias("n_dims"),
    )
    return per_label.select(
        label_col,
        "n_dims",
        F.round(
            F.col("dot") / F.sqrt(F.col("na") * F.col("nb")), round_digits
        ).alias("drift_cos"),
    )
