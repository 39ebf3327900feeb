"""Structured Streaming surface (additive — the reference has no streaming
at all, SURVEY.md §2.10; plans are all batch LogicalPlans,
reference src/sql/logical.rs:300-375).

Thin, Spark-idiomatic helpers for the common stream shapes a data pipeline
needs: windowed aggregation with watermarks, streaming dedup, and a
sessionization operator via ``applyInPandasWithState``-free composition
(session_window is native since Spark 3.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
    unit_scale: int = 1_000_000,
) -> DataFrame:
    """Tumbling (or sliding) windowed counts with late-data watermark.

    ``total_value`` accumulates as integer units of ``1/unit_scale``
    (default micro-units): each value is quantized to
    ``ROUND(value * unit_scale)`` and summed as BIGINT, so the running
    state is bit-reproducible in any micro-batch arrival order and never
    drifts like a float accumulator. The trade-offs of the quantization:
    magnitudes below ``0.5/unit_scale`` vanish, and per-window totals
    must stay under ~9.2e18/unit_scale (int64) — raise or lower
    ``unit_scale`` to move the precision/headroom split. NULL values are
    skipped (SQL SUM semantics); rows still count toward ``n``.
    """
    win = (
        F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.round(F.col("value") * unit_scale).cast("long"))
                .cast("double")
                / float(unit_scale)
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n",
            "total_value",
        )
    )


def sessionized(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    unit_scale: int = 1_000_000,
) -> DataFrame:
    """Session windows (gap-based) per key — native session_window.

    ``total_value`` uses the same ``ROUND(value * unit_scale)`` BIGINT
    quantization as :func:`windowed_counts` (exact, order-independent
    state; sub-``0.5/unit_scale`` magnitudes vanish; ~9.2e18/unit_scale
    per-session headroom — tune via ``unit_scale``).
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("s"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * unit_scale).cast("long"))
                .cast("double")
                / float(unit_scale)
            ).alias("total_value"),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def dedup_stream(
    stream: DataFrame,
    id_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup within the watermark horizon
    (dropDuplicates over keys + event time)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates(id_cols)


def incremental_dedup_stream(
    stream: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    seen_hash_col: str = "content_hash",
) -> DataFrame:
    """Streaming half of the incremental-ingest dedup cycle
    (operators/dedup.py:incremental_dedup is the batch half): arriving
    documents are LEFT ANTI joined against the *static* historical
    fingerprint store, so only never-seen content flows downstream.

    Stream-static anti joins are stateless on the stream side — no
    watermark state grows with the corpus; the store is re-read per
    micro-batch (broadcast when small, else a shuffled join against the
    store's bucketed layout). Within-batch repeats are left to the
    downstream batch dedup (or chain :func:`dedup_stream` for exact
    event-key repeats); appending each batch's survivor hashes back to
    the store closes the loop via ``foreachBatch``.
    """
    from pyspark.sql import functions as F

    hashed = stream.withColumn("content_hash", F.md5(F.col(text_col)))
    store = seen.select(F.col(seen_hash_col).alias("content_hash"))
    return hashed.join(store, "content_hash", "left_anti")


def stateful_running_totals(
    stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    threshold: float | None = None,
    unit_scale: int = 1_000_000,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running event count + value total carried across micro-batches, with an
    optional threshold-crossing flag.

    This is the shape no native operator expresses (session_window and
    dropDuplicates cover their cases above): arbitrary user state per key,
    updated per batch, emitted as one row per key per trigger. State is a
    two-field struct, so the state store stays O(distinct keys); at 100 TB
    of stream history the state size is bounded by cardinality, not volume.

    ``total_value`` carries the same ``ROUND(value * unit_scale)`` BIGINT
    quantization as :func:`windowed_counts`: values are rounded half away
    from zero (matching Spark/DuckDB ``ROUND``, not pandas' half-even) to
    integer units before summing, NULL/NaN values are skipped (SQL SUM
    semantics — their rows still count toward ``n_events``), magnitudes
    below ``0.5/unit_scale`` vanish, and per-key lifetime totals must stay
    under ~9.2e18/unit_scale.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            stream.schema[key_col],
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("crossed", T.BooleanType()),
        ]
    )
    # state total carries integer micro-units: a float accumulator in
    # long-lived stream state drifts (and depends on micro-batch
    # arrival order); the integer sum is exact forever
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("total_u", T.LongType())]
    )

    def _update(key, pdfs, state: GroupState):
        n, total_u = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)  # COUNT(*) semantics: NULL-value rows still count
            vals = pd.to_numeric(pdf[value_col], errors="coerce").to_numpy(
                dtype="float64"
            )
            vals = vals[np.isfinite(vals)]  # SUM skips NULL/NaN
            scaled = vals * unit_scale
            # half away from zero, matching F.round / SQL ROUND (pandas
            # .round() is half-even and diverges on exact .5 unit ties).
            # Implemented as an EXACT fractional-part comparison, not
            # floor(abs+0.5): for a double just below a tie (e.g.
            # 0.49999999999999994) abs+0.5 carries up to 1.0 in IEEE
            # arithmetic and floor would round it, while F.round
            # (BigDecimal HALF_UP on the exact decimal expansion) does
            # not. abs(x) - floor(abs(x)) is exact for |x| < 2^52
            # (Sterbenz), so the >= 0.5 test agrees with HALF_UP on
            # every representable double.
            a = np.abs(scaled)
            fl = np.floor(a)
            units = np.sign(scaled) * (fl + (a - fl >= 0.5))
            total_u += int(units.astype("int64").sum())
        state.update((n, total_u))
        total = total_u / float(unit_scale)
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n_events": [n],
                "total_value": [total],
                "crossed": [threshold is not None and total >= threshold],
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        _update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def memory_sink_query(df: DataFrame, name: str, output_mode: str = "complete"):
    """Run a streaming DataFrame into an in-memory table (testing sink)."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
    right_prefix: str = "right_",
) -> DataFrame:
    """Watermarked stream-stream inner join: each left event pairs with
    right events of the same key arriving in ``[left.ts, left.ts +
    within]``. Both sides carry watermarks and the join condition bounds
    event time on both ends — the two requirements Spark needs to evict
    join state instead of buffering streams forever (the canonical
    micro-batch interval join; append output mode only).
    """
    l = left.alias("l")
    r = right.alias("r")
    lts, rts = F.col(f"l.{ts_col}"), F.col(f"r.{ts_col}")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (rts >= lts)
        & (rts <= lts + F.expr(f"INTERVAL {within}"))
    )
    joined = (
        l.withWatermark(ts_col, watermark)
        .join(r.withWatermark(ts_col, watermark), cond, "inner")
    )
    keep_left = [F.col(f"l.{c}").alias(c) for c in left.columns]
    keep_right = [
        F.col(f"r.{c}").alias(right_prefix + c)
        for c in right.columns
        if c != key_col
    ]
    return joined.select(*keep_left, *keep_right)


def upsert_sink_query(
    stream: DataFrame,
    context,
    table: str,
    keys: list[str],
    checkpoint_dir: str | None = None,
):
    """Streaming upsert: apply each micro-batch to a registry table as a
    MERGE (update matches on ``keys``, insert the rest) via
    ``foreachBatch`` — the lakehouse CDC-apply pattern without Delta.
    Returns the started StreamingQuery.

    Each batch is first deduplicated to one row per key (a batch can
    carry several updates for one key; ANSI MERGE would fan out): the row
    whose non-key columns sort greatest, ``desc`` over each in turn. Batch
    order follows the source (a file source: modification time), and a
    later batch wins whatever its values.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    def _apply(batch: DataFrame, _epoch: int) -> None:
        if not batch.columns:
            return
        w = Window.partitionBy(*keys).orderBy(
            *[F.col(c).desc() for c in batch.columns if c not in keys]
        )
        last = (
            batch.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        target = context._get_table(table)
        cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        joined = target.alias("t").join(
            last.select(*target.columns).alias("s"), F.expr(cond), "left_anti"
        )
        context.create_table(table, joined.unionByName(
            last.select(*target.columns)
        ))

    writer = stream.writeStream.outputMode("update").foreachBatch(_apply)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def transform_with_state_totals(
    stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key running totals on the Spark-4 ``transformWithStateInPandas``
    API — the successor to ``applyInPandasWithState`` (above) with typed
    state handles (ValueState/ListState/MapState), timers and TTL.

    Functionally the same operator as :func:`stateful_running_totals`;
    kept as the modern-API twin because the new engine requires the
    RocksDB state store, whose changelog checkpointing + disk spill is
    what makes 100 TB-scale state (billions of keys) practical — the
    HDFS-backed store of the old API keeps all state on the JVM heap.

    Requires ``spark.sql.streaming.stateStore.providerClass`` =
    ``...RocksDBStateStoreProvider`` on the session, and the
    ``protobuf`` Python package (the transformWithState Python runner
    speaks protobuf to the JVM — import-gated in tests; absent in this
    container, exercised wherever protobuf is installed).
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = (
        f"{key_col} BIGINT, n_events BIGINT, total_value DOUBLE"
    )

    class _RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n BIGINT, total DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._totals.exists():
                n, total = self._totals.get()
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf[value_col].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {key_col: [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return stream.groupBy(key_col).transformWithStateInPandas(
        _RunningTotals(), out_schema, "Update", "None"
    )
