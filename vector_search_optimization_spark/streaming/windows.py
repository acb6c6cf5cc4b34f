"""Structured Streaming over the events table.

The reference is entirely batch (SURVEY §2.12) — this module is the engine
extension for streaming ingestion at lake scale. Each streaming query has a
batch twin in __spark_entry__ (evt_tumbling_window / evt_sessions) whose
results the DuckDB oracle checks; the streaming versions are pytest-driven
through the file source + memory sink (processAllAvailable drives a bounded
backlog to completion synchronously).

Watermarks bound state: late events beyond the watermark are dropped, so
state per window/session is finite regardless of stream length.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, dir_path: str) -> DataFrame:
    """File-source stream of the events table (one parquet = bounded
    backlog; in production this is the kafka/delta source).

    ts encoding is detected from the parquet footer (a cheap batch-schema
    peek), matching sources.readers.load_table: TIMESTAMP(NANOS) footers
    surface as long under nanosAsLong and are truncated to micros; plain
    TIMESTAMP(MICROS) footers stream through as-is.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch_ts = dict(
        spark.read.parquet(os.path.join(dir_path, "events.parquet")).dtypes
    ).get("ts")
    nanos = batch_ts == "bigint"
    raw = (
        spark.readStream.schema(
            _events_schema(T.LongType() if nanos else T.TimestampType())
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir_path)
    )
    if nanos:
        raw = raw.withColumn(
            # integer division — the double round-trip is off by 1µs for
            # ~12% of arbitrary ns values (see sources.readers.load_table)
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return raw


def tumbling_window_agg(events: DataFrame) -> DataFrame:
    """1-hour tumbling-window counts/sums per event_type with a 2-hour
    late-data bound."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_window_agg(events: DataFrame) -> DataFrame:
    """Sliding-window event rate per type: 1-hour windows every 15
    minutes, so each event lands in 4 overlapping windows."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
        )
    )


def sessionized_counts_stream(events: DataFrame) -> DataFrame:
    """Session windows per user via the native session_window operator —
    the streaming twin of the batch lag+cumsum sessionization
    (__spark_entry__.evt_sessions)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )


def running_user_stats_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count + value sum,
    emitted per micro-batch via applyInPandasWithState.

    The reference has no stateful streaming (SURVEY §2.12); this is the
    engine-extension pattern for operators windowing can't express —
    arbitrary per-key state. State is one (count, sum) row per user and
    never times out: a ProcessingTimeTimeout state hangs
    ``processAllAvailable()`` on a bounded backlog, and NoTimeout keeps
    bounded-backlog runs (tests, reprocessing) deterministic.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 4)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def asof_click_purchase_stream(events: DataFrame) -> DataFrame:
    """Streaming point-in-time join: each purchase is matched to the same
    user's most recent prior-or-simultaneous click, with one (last_click
    timestamp) row of state per user — the streaming twin of the batch
    union+window as-of join (__spark_entry__.evt_asof_join, which carries
    the DuckDB ASOF JOIN oracle).

    Within a micro-batch the user's rows are sorted by event time before
    the state walk, so replaying a bounded backlog reproduces the batch
    result exactly; across micro-batches the carried state preserves the
    as-of semantics for clicks seen in earlier batches. Late events
    beyond upstream watermarking would mis-order across batches — in
    production pair this with withWatermark on the source, as the window
    queries do.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("lag_s", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("last_click_sec", T.LongType())])

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        last = state.get[0] if state.exists else None
        out_user, out_event, out_lag = [], [], []
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # a null ts would become NaN in the float 'sec' column and crash
        # int(sec) — terminating the whole streaming query; the batch
        # twin's ASOF join just skips such rows, so drop them here too
        pdf = pdf.dropna(subset=["sec"])
        # event-time order; clicks before purchases at equal timestamps
        # (a simultaneous click counts as prior — same tiebreak as batch)
        pdf = pdf.sort_values(
            ["ts", "is_buy"], ignore_index=True, kind="stable"
        )
        for sec, is_buy, event_id in zip(
            pdf["sec"], pdf["is_buy"], pdf["event_id"]
        ):
            if is_buy:
                out_user.append(key[0])
                out_event.append(int(event_id))
                out_lag.append(None if last is None else int(sec) - last)
            else:
                last = int(sec)
        if last is not None:
            state.update((last,))
        yield pd.DataFrame(
            {
                "user_id": out_user,
                "event_id": out_event,
                "lag_s": pd.array(out_lag, dtype="Int64"),
            }
        )

    relevant = events.where(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.unix_timestamp("ts").alias("sec"),
        (F.col("event_type") == "purchase").alias("is_buy"),
    )
    return relevant.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def first_seen_dedup_stream(df: DataFrame) -> DataFrame:
    """Streaming exact dedup: emit each content fingerprint's FIRST
    occurrence, drop every later duplicate — one boolean of state per
    distinct fingerprint, the stream twin of the batch
    min-per-fingerprint dedup (operators.dedup.dedup_exact shape).

    Within a micro-batch the earliest id wins (sorted walk); across
    micro-batches the seen-state suppresses re-emission. On an ordered
    replay (sources.replay_datasource) the emitted set is exactly the
    batch groupBy(fp).min(id)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("fp", T.LongType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("seen", T.ByteType())])

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        pdf = pd.concat(list(pdfs), ignore_index=True)
        if state.exists or pdf.empty:
            yield pd.DataFrame({"fp": [], "event_id": []})
            return
        state.update((1,))
        first = pdf["event_id"].min()
        yield pd.DataFrame({"fp": [key[0]], "event_id": [int(first)]})

    return df.groupBy("fp").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
