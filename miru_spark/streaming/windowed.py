"""Structured Streaming operators.

The reference has no streaming query engine — its "streaming" is the WAL sip
loop feeding the indexer (miru-api/.../wal/MiruWALClient.java:20-126,
MiruSipTracker). Two Spark-native streaming shapes cover that surface:

* ``streaming_waveform`` — the Analytics waveform as a watermarked windowed
  count over an event stream (late data handled by the watermark; the
  reference instead remapped late timestamps monotonically,
  LabTimeIndex.nextId — see SURVEY.md §2.7).
* ``streaming_index_sip`` — incremental posting-list maintenance: new docs
  micro-batched through the same flat_postings pass and appended as index
  segments via foreachBatch (the WAL sip → index path; checkpointLocation
  is the sip cursor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def streaming_waveform(
    spark: SparkSession,
    path: str,
    schema,
    ts_col: str = "ts",
    group_field: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
    reader_options: dict[str, str] | None = None,
):
    """readStream → watermarked tumbling-window counts. Caller attaches the
    sink (memory sink + processAllAvailable in tests). ``reader_options``
    passes through to the file source (e.g. maxFilesPerTrigger=1 for a
    deterministic per-file micro-batch replay)."""
    reader = spark.readStream.format("parquet").schema(schema)
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    events = reader.load(path)
    # watermarks need TIMESTAMP (with tz); parquet NTZ timestamps are cast
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(group_field).alias("group_value"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket"), "group_value", "n")
    )


def streaming_sip_dedup(
    stream: DataFrame,
    key_col: str,
    version_col: str,
    out_cols: list[str] | None = None,
):
    """Custom stateful operator — the reference's sip tracker
    (miru-service/.../partition/MiruSipTracker.java:12-27): WAL replays
    deliver activities more than once, and the tracker keeps a per-partition
    seen set of (time, version) pairs so replayed rows are suppressed and
    only strictly newer versions index.

    Spark restatement: ``applyInPandasWithState`` with per-key GroupState =
    the highest version already emitted. Each micro-batch emits only rows
    whose version exceeds the state (deduped within the batch), then
    advances the state — exactly-once dedup across batches, state bounded
    at one long per key."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_cols = out_cols or [f.name for f in stream.schema.fields]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in stream.schema.fields if f.name in out_cols
    )

    def dedup(key, pdfs, state):
        seen = state.get[0] if state.exists else -1
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows[rows[version_col] > seen]
        if len(rows):
            rows = rows.sort_values(version_col).drop_duplicates(subset=[version_col])
            state.update((int(rows[version_col].max()),))
            yield rows[out_cols]

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            dedup, out_schema, "seen long", "append", GroupStateTimeout.NoTimeout
        )
    )


def streaming_unread(
    stream: DataFrame,
    stream_col: str,
    doc_col: str,
    kind_col: str = "kind",
    seq_col: str | None = None,
):
    """Incremental unread tracking — the reference's MiruUnreadTrackingIndex
    maintained as a custom stateful streaming operator: ``applyUnread``
    (an inbox append sets the doc's unread bit) and ``applyRead`` (a read
    event clears every unread doc ≤ its watermark)
    (m-plugin/index/MiruUnreadTrackingIndex.java).

    Input rows: ``kind_col`` = 'add' (doc appended to the stream's inbox) or
    'read' (``doc_col`` = the read watermark — docs ≤ it become read).
    ``seq_col`` orders events within a batch (defaults to doc order).
    Per-key GroupState = the unread doc-id array + the read watermark —
    bounded by the stream's inbox size, exactly like the reference's
    per-stream bitmap. Emits one row per (stream, batch): the unread count
    and watermark after the batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def track(key, pdfs, state):
        if state.exists:
            unread_list, last_read = state.get
            unread = np.array(unread_list, dtype=np.int64)
        else:
            unread, last_read = np.empty(0, dtype=np.int64), -1
        rows = pd.concat(list(pdfs), ignore_index=True)
        order = rows[seq_col] if seq_col else rows[doc_col]
        rows = rows.iloc[np.argsort(order.to_numpy(), kind="stable")]
        for kind, doc in zip(rows[kind_col], rows[doc_col]):
            if kind == "read":
                last_read = max(last_read, int(doc))
                unread = unread[unread > last_read]
            elif int(doc) > last_read:
                unread = np.union1d(unread, np.int64(doc))
        state.update(([int(x) for x in unread], int(last_read)))
        yield pd.DataFrame(
            {
                "stream": [key[0]],
                "n_unread": [len(unread)],
                "last_read": [int(last_read)],
            }
        )

    return stream.groupBy(stream_col).applyInPandasWithState(
        track,
        "stream string, n_unread long, last_read long",
        "unread array<long>, last_read long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_index_sip(
    spark: SparkSession,
    source_path: str,
    schema,
    index_dir: str,
    text_col: str = "text",
    dense_id_col: str = "doc_id",
    capacity: int = 1 << 20,
):
    """Incremental index maintenance: each micro-batch of new docs becomes an
    appended segment wave (foreachBatch = exactly-once via the streaming
    checkpoint — the sip cursor)."""
    from miru_spark.operators import build as B

    stream = spark.readStream.format("parquet").schema(schema).load(source_path)

    def _index_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        docs = B.prepare_docs(batch_df, text_col, dense_id_col, None, capacity)
        flat = B.flat_postings(docs, text_col)
        packed = B.packed_from_flat(flat)
        packed.write.mode("overwrite").parquet(f"{index_dir}/segments/epoch={epoch_id}")
        B.doc_meta(docs, flat).write.mode("overwrite").parquet(
            f"{index_dir}/doclens/epoch={epoch_id}"
        )

    return (
        stream.writeStream.foreachBatch(_index_batch)
        .option("checkpointLocation", f"{index_dir}/_stream_checkpoint")
        .trigger(availableNow=True)
    )
