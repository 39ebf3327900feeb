"""Structured Streaming surface tests (additive — reference has no
streaming, SURVEY §2.10). Uses a file stream over a temp parquet dir and
the memory sink; deterministic."""

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:01", "2024-01-01 00:05", "2024-01-01 00:55",
                 "2024-01-01 01:40", "2024-01-01 00:07", "2024-01-01 02:00"]
            ),
            "user_id": [1, 1, 1, 1, 2, 2],
            "event_type": ["click", "view", "click", "view", "click", "view"],
            "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(str(d / "data"))
    return str(d / "data")


def _run_stream(spark, stream_df, name, mode="complete"):
    from dask_sql_spark.streaming.core import memory_sink_query

    q = memory_sink_query(stream_df, name, output_mode=mode)
    q.processAllAvailable()
    out = spark.sql(f"SELECT * FROM {name}").collect()
    q.stop()
    return out


def test_windowed_counts(spark, stream_dir):
    from dask_sql_spark.streaming.core import windowed_counts

    src = spark.readStream.schema(
        "ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"
    ).parquet(stream_dir)
    agg = windowed_counts(src, window="1 hour", watermark="2 hours")
    rows = _run_stream(spark, agg, "win_counts")
    by_key = {(str(r.window_start), r.event_type): r.n for r in rows}
    assert by_key[("2024-01-01 00:00:00", "click")] == 3
    assert by_key[("2024-01-01 01:00:00", "view")] == 1


def test_sessionized(spark, stream_dir):
    from dask_sql_spark.streaming.core import sessionized

    src = spark.readStream.schema(
        "ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"
    ).parquet(stream_dir)
    sess = sessionized(src, gap="30 minutes")
    rows = _run_stream(spark, sess, "sessions")
    u1 = sorted(
        [(r.n_events, r.total_value) for r in rows if r.user_id == 1]
    )
    # user 1: (00:01,00:05) one session, 00:55 alone, 01:40 alone
    assert u1 == [(1, 3.0), (1, 4.0), (2, 3.0)]


def test_stream_dedup(spark, stream_dir):
    from dask_sql_spark.streaming.core import dedup_stream

    src = spark.readStream.schema(
        "ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"
    ).parquet(stream_dir)
    dd = dedup_stream(src, ["user_id", "event_type"])
    rows = _run_stream(spark, dd, "dedup_out", mode="append")
    assert len(rows) == 4  # 2 users × 2 event types


def test_stateful_running_totals(spark, stream_dir):
    from dask_sql_spark.streaming.core import stateful_running_totals

    src = spark.readStream.schema(
        "ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"
    ).parquet(stream_dir)
    totals = stateful_running_totals(src, threshold=10.0)
    rows = _run_stream(spark, totals, "running_totals", mode="update")
    # last emission per key carries the final running state
    last = {}
    for r in rows:
        last[r.user_id] = r
    assert last[1].n_events == 4 and last[1].total_value == 10.0
    assert last[1].crossed is True
    assert last[2].n_events == 2 and last[2].total_value == 11.0
    assert last[2].crossed is True


def test_stateful_running_totals_multi_batch(spark, tmp_path):
    """State persists across micro-batches: a second file arriving later
    continues the running totals instead of restarting them."""
    import pandas as pd

    from dask_sql_spark.streaming.core import memory_sink_query, stateful_running_totals

    d = tmp_path / "src2"
    d.mkdir()
    pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01 00:00"]).astype("datetime64[us]"),
            "user_id": [7],
            "value": [2.0],
        }
    ).to_parquet(d / "a.parquet")
    src = spark.readStream.schema("ts TIMESTAMP, user_id BIGINT, value DOUBLE").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(d))
    q = memory_sink_query(
        stateful_running_totals(src, threshold=5.0), "running2", output_mode="update"
    )
    q.processAllAvailable()
    pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01 00:10"]).astype("datetime64[us]"),
            "user_id": [7],
            "value": [4.0],
        }
    ).to_parquet(d / "b.parquet")
    q.processAllAvailable()
    rows = spark.sql("SELECT * FROM running2 ORDER BY n_events").collect()
    q.stop()
    assert [(r.n_events, r.total_value, r.crossed) for r in rows] == [
        (1, 2.0, False),
        (2, 6.0, True),
    ]


def test_stream_stream_interval_join(spark, stream_dir):
    from dask_sql_spark.streaming.core import stream_stream_join

    schema = "ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"
    src = spark.readStream.schema(schema).parquet(stream_dir)
    clicks = src.where(F.col("event_type") == "click")
    views = src.where(F.col("event_type") == "view")
    rows = _run_stream(
        spark,
        stream_stream_join(clicks, views, within="1 hour"),
        "ssj_out",
        mode="append",
    )
    pairs = sorted((r.user_id, r.ts.minute, r.right_ts.minute) for r in rows)
    # user 1: click 00:01 → view 00:05; click 00:55 → view 01:40.
    # user 2: view 02:00 is >1h after click 00:07 → excluded.
    assert pairs == [(1, 1, 5), (1, 55, 40)]


def test_streaming_upsert_sink(spark, tmp_path):
    import pandas as pd

    from dask_sql_spark import Context
    from dask_sql_spark.streaming.core import upsert_sink_query

    c = Context(spark=spark)
    c.create_table(
        "ups_target",
        pd.DataFrame({"k": [1, 2], "v": [10.0, 20.0], "seq": [0, 0]}),
    )
    src = tmp_path / "ups_src"
    src.mkdir()
    pd.DataFrame({"k": [2, 3], "v": [21.0, 30.0], "seq": [1, 1]}).to_parquet(
        src / "b1.parquet"
    )
    pd.DataFrame({"k": [3, 3], "v": [31.0, 32.0], "seq": [2, 3]}).to_parquet(
        src / "b2.parquet"
    )
    # the file source orders new files by modification time, and two
    # files written back to back can tie: make b2 strictly the later batch
    b1_mtime = os.stat(src / "b1.parquet").st_mtime
    os.utime(src / "b2.parquet", (b1_mtime + 10, b1_mtime + 10))
    stream = (
        spark.readStream.schema("k BIGINT, v DOUBLE, seq BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = upsert_sink_query(stream, c, "ups_target", keys=["k"])
    q.processAllAvailable()
    q.stop()
    rows = {r.k: (r.v, r.seq) for r in c.sql("SELECT * FROM ups_target").collect()}
    assert rows[1] == (10.0, 0)      # untouched
    assert rows[2] == (21.0, 1)      # updated by batch 1
    assert rows[3][1] == 3           # last update per key wins (seq 3)
    assert rows[3][0] == 32.0


def test_transform_with_state_totals_multi_batch(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 typed-state API) carries
    ValueState across micro-batches on the RocksDB state store."""
    import pandas as pd

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState's Python runner speaks protobuf to the "
        "JVM; package not installed in this container",
    )

    from dask_sql_spark.streaming.core import (
        memory_sink_query,
        transform_with_state_totals,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        d = tmp_path / "tws"
        d.mkdir()
        pd.DataFrame(
            {
                "ts": pd.to_datetime(["2024-01-01 00:00"]).astype("datetime64[us]"),
                "user_id": [7],
                "value": [2.0],
            }
        ).to_parquet(d / "a.parquet")
        src = spark.readStream.schema(
            "ts TIMESTAMP, user_id BIGINT, value DOUBLE"
        ).option("maxFilesPerTrigger", 1).parquet(str(d))
        q = memory_sink_query(
            transform_with_state_totals(src), "tws_out", output_mode="update"
        )
        q.processAllAvailable()
        pd.DataFrame(
            {
                "ts": pd.to_datetime(["2024-01-01 00:10"]).astype("datetime64[us]"),
                "user_id": [7],
                "value": [4.0],
            }
        ).to_parquet(d / "b.parquet")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM tws_out ORDER BY n_events").collect()
        q.stop()
        assert [(r.n_events, r.total_value) for r in rows] == [
            (1, 2.0),
            (2, 6.0),
        ]
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_incremental_dedup_stream_anti_joins_static_store(
    spark, tmp_path_factory
):
    """Arriving docs stream against a static fingerprint store: seen
    content is dropped, fresh content flows through."""
    import pandas as pd

    from dask_sql_spark.streaming.core import incremental_dedup_stream

    d = tmp_path_factory.mktemp("inc_dedup_src")
    pdf = pd.DataFrame(
        {
            "doc_id": [10, 11, 12],
            "text": ["already seen", "fresh one", "fresh two"],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(str(d / "data"))
    store = spark.createDataFrame(
        [("already seen",)], "t STRING"
    ).selectExpr("md5(t) AS content_hash")

    src = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(
        str(d / "data")
    )
    out = incremental_dedup_stream(src, store)
    rows = _run_stream(spark, out, "inc_dedup_out", mode="append")
    assert sorted(r.doc_id for r in rows) == [11, 12]


def test_stateful_running_totals_null_values_and_tie_rounding(
    spark, tmp_path
):
    """Round-5 regression guards: (a) NULL/NaN values are skipped like
    SQL SUM (the row still counts toward n_events) instead of killing
    the stream with a non-finite-cast error; (b) exact .5 micro-unit
    ties round half AWAY from zero, matching F.round / SQL ROUND, not
    pandas' half-even."""
    import pandas as pd

    from dask_sql_spark.streaming.core import stateful_running_totals

    d = tmp_path / "nulls"
    d.mkdir()
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 2, 3],
            # user 1: one real value + one NULL; user 2: a .5 micro-unit
            # tie (0.0000005 -> 1 micro-unit half-away, 0 half-even);
            # user 3: negative tie (-0.0000005 -> -1 micro-unit)
            "value": [1.25, None, 0.0000005, -0.0000005],
        }
    )
    pdf.to_parquet(str(d / "part.parquet"))
    src = spark.readStream.schema("user_id BIGINT, value DOUBLE").parquet(
        str(d)
    )
    rows = _run_stream(
        spark,
        stateful_running_totals(src, threshold=1.0),
        "null_tie_totals",
        mode="update",
    )
    by_user = {r.user_id: r for r in rows}
    assert by_user[1].n_events == 2  # NULL row still counted
    assert by_user[1].total_value == 1.25  # NULL skipped from the sum
    assert by_user[2].total_value == 0.000001  # half away from zero
    assert by_user[3].total_value == -0.000001  # symmetric for negatives


def test_stateful_running_totals_boundary_double(spark, tmp_path):
    """The double just below a .5 tie (nextafter(0.5, 0)) must round DOWN
    like F.round's HALF_UP on the exact decimal expansion — the
    floor(abs+0.5) idiom carries up to 1.0 in IEEE arithmetic and would
    disagree with the windowed SQL paths on the same stream."""
    import numpy as np
    import pandas as pd

    from dask_sql_spark.streaming.core import stateful_running_totals

    d = tmp_path / "boundary"
    d.mkdir()
    pd.DataFrame(
        {"user_id": [1], "value": [float(np.nextafter(0.5, 0))]}
    ).to_parquet(str(d / "part.parquet"))
    src = spark.readStream.schema("user_id BIGINT, value DOUBLE").parquet(
        str(d)
    )
    rows = _run_stream(
        spark,
        stateful_running_totals(src, threshold=1.0, unit_scale=1),
        "boundary_totals",
        mode="update",
    )
    assert rows[0].total_value == 0.0


def test_windowed_counts_drops_late_data_past_watermark(spark, tmp_path):
    """Round-9 streaming audit: append mode finalizes a window once the
    watermark passes its end, and an event arriving AFTER that is
    dropped, not double-counted. Deterministic: each file is fully
    processed (processAllAvailable) before the next is written, so the
    watermark sequence is fixed — batch 1 advances event-time max to
    12:00 (watermark 11:30), batch 2's 10:05 straggler is behind the
    watermark and its 10:00–10:10 window already final."""
    import pandas as pd

    from dask_sql_spark.streaming.core import memory_sink_query, windowed_counts

    d = tmp_path / "late_src"
    d.mkdir()
    pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 12:00"]
            ).astype("datetime64[us]"),
            "event_type": ["view", "view"],
            "value": [1.0, 1.0],
        }
    ).to_parquet(d / "a.parquet")
    src = spark.readStream.schema(
        "ts TIMESTAMP, event_type STRING, value DOUBLE"
    ).option("maxFilesPerTrigger", 1).parquet(str(d))
    q = memory_sink_query(
        windowed_counts(src, window="10 minutes", watermark="30 minutes"),
        "late_counts",
        output_mode="append",
    )
    q.processAllAvailable()
    # straggler for the already-finalized 10:00-10:10 window
    pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01 10:05"]).astype("datetime64[us]"),
            "event_type": ["view"],
            "value": [100.0],
        }
    ).to_parquet(d / "b.parquet")
    q.processAllAvailable()
    rows = spark.sql(
        "SELECT * FROM late_counts WHERE window_start = '2024-01-01 10:00'"
    ).collect()
    q.stop()
    # exactly one finalized emission, counting only the on-time event
    assert [(r.n, r.total_value) for r in rows] == [(1, 1.0)]
