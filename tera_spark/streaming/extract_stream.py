"""Structured Streaming variant of the extraction stage.

The reference has no streaming semantics (SURVEY.md §1.3); the graft adds
an incremental ingest path: new transcript files land in a directory,
``readStream`` picks them up, the *same* extraction + linking operators run
per micro-batch (foreachBatch — the batch functions are reused verbatim, so
batch/stream parity is by construction), and mention rows append to the
checkpoint table. A watermark on ``ts`` bounds state for the windowed
mention-rate aggregate.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from tera_spark.checkpoints import checkpoint_scope
from tera_spark.pipeline.extract import extract_mentions
from tera_spark.pipeline.link import link_mentions, prepare_lexicon

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def stream_mentions(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    lexicon: DataFrame,
):
    """File-source stream → extraction+linking per micro-batch → parquet
    append. Returns the StreamingQuery (caller stops it). Each micro-batch
    releases its own checkpoints. A raw lexicon is prepared once for the
    whole stream and released when the query terminates; a
    ``PreparedLexicon`` passed in stays the caller's to ``release()``."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )

    # Lexicon-side blocking state is micro-batch-invariant: shingle/hot
    # computation happens ONCE here, every micro-batch reuses the
    # checkpointed tables (round-1 "what's wrong" #5).
    prepared = prepare_lexicon(lexicon)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # link_mentions' checkpoints are this micro-batch's alone: released
        # once its rows are written
        with checkpoint_scope():
            mentions = extract_mentions(batch_df)
            linked, _ = link_mentions(mentions, prepared)
            linked.write.mode("append").parquet(output_dir)

    return _start(
        spark,
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True),
        lexicon,
        prepared,
    )


class _ReleaseOnTermination(StreamingQueryListener):
    """Releases a stream's own ``PreparedLexicon`` when its query
    terminates, then removes itself. Added before the query starts and told
    the query's id after (``watch``), so a query that ends before
    ``start()`` returns is not missed."""

    def __init__(self, spark: SparkSession, prepared) -> None:
        self._spark, self._prepared = spark, prepared
        self._lock = threading.Lock()
        self._id = None
        self._ended: set[str] = set()  # queries that ended before watch()

    def watch(self, query_id) -> None:
        with self._lock:
            self._id = str(query_id)
            ended = self._id in self._ended
        if ended:
            self._finish()

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            if self._id is None:
                self._ended.add(str(event.id))
                return
            if str(event.id) != self._id:
                return
        self._finish()

    def _finish(self) -> None:
        self._prepared.release()
        self._spark.streams.removeListener(self)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        pass


def _start(spark: SparkSession, writer, lexicon, prepared):
    """``writer.start()``; when ``prepared`` was prepared from the raw
    ``lexicon`` for this stream, it is released once the query terminates
    (or here, if it fails to start)."""
    if prepared is lexicon:
        return writer.start()
    listener = _ReleaseOnTermination(spark, prepared)
    spark.streams.addListener(listener)
    try:
        query = writer.start()
    except BaseException:
        spark.streams.removeListener(listener)
        prepared.release()
        raise
    listener.watch(query.id)
    return query


def stream_kg_ingest(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    lexicon: DataFrame,
    compact_every: int | None = None,
    max_files_per_trigger: int = 8,
):
    """Structured Streaming ingest into a LIVE knowledge graph: transcript
    files land in ``input_dir``, each micro-batch is applied to the
    completed pipeline output at ``out_dir`` as one atomic incremental
    batch (pipeline/incremental.py), so every table under ``out_dir`` is
    queryable mid-stream through ``read_live`` and the graph stays
    delta-maintained — no re-run, no rebuild.

    Exactly-once across failures, by composition of three idempotency
    layers rather than sink transactions (parquet has none):

    1. a crashed apply leaves no ``_COMMITTED`` marker — the batch dir is
       invisible to readers and swept on retry;
    2. a replayed epoch (Spark restarts from ``checkpoint_dir`` and
       re-delivers the last non-checkpointed micro-batch) hits the
       seen-conversation guard — every conv already committed is dropped,
       a fully-applied replay is a no-op;
    3. batch ids are the epoch id, so lineage/metrics rows are scoped per
       micro-batch (``<stage>@e<epoch>``) and never collide.

    Input contract: files must be conversation-atomic (a conversation's
    turns never straddle files that could land in different micro-batches
    — the natural shape of per-conversation export files). The
    seen-conversation guard that makes replays no-ops would otherwise
    drop the tail of a conversation whose head committed earlier.

    ``compact_every``: fold committed batches into the base every N
    epochs (bounds read_live's batch-union cost on long streams; compact
    is stop-the-world but foreachBatch is serial, so mid-stream is a safe
    point). Returns the StreamingQuery (caller awaits/stops it). A raw
    lexicon is prepared once and released when the query terminates; a
    ``PreparedLexicon`` passed in stays the caller's."""
    import os

    from tera_spark.pipeline.incremental import (
        _MANIFEST,
        committed_batches,
        compact,
        run_pipeline_incremental,
    )

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    prepared = prepare_lexicon(lexicon)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if os.path.exists(os.path.join(out_dir, _MANIFEST)):
            # a previous compact_every fold died mid-swap; compact() is
            # self-recovering and finishes it before this epoch applies
            compact(spark, out_dir)
        run_pipeline_incremental(
            spark, batch_df, prepared, out_dir, batch_id=f"e{epoch_id:06d}"
        )
        if compact_every and len(committed_batches(out_dir)) >= compact_every:
            compact(spark, out_dir)

    return _start(
        spark,
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True),
        lexicon,
        prepared,
    )


def conversation_progress(stream: DataFrame):
    """Custom stateful operator (applyInPandasWithState): per-conversation
    running progress — cumulative turns and last turn_idx seen — updated
    per micro-batch. State is keyed by conv_id (the same bucketing key as
    the batch pipeline, so state locality matches storage locality);
    ProcessingTimeTimeout ages out idle conversations."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "conv_id string, turns_total long, last_turn_idx int"
    state_schema = "turns_total long, last_turn_idx int"

    def update(key, pdfs, state: GroupState):
        total, last = (state.get if state.exists else (0, -1))
        for pdf in pdfs:
            total += len(pdf)
            if len(pdf):
                last = max(last, int(pdf["turn_idx"].max()))
        state.update((total, last))
        state.setTimeoutDuration(60 * 60 * 1000)
        yield pd.DataFrame(
            {"conv_id": [key[0]], "turns_total": [total], "last_turn_idx": [last]}
        )

    return stream.groupBy("conv_id").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.ProcessingTimeTimeout
    )


def stream_dedup_exact(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup for a document/turn stream: content is keyed by
    ``md5(normalized text)`` — the SAME normalization (lowercase, collapse
    whitespace, trim) and key as the batch ``dedup.exact_dedup``, so a
    stream-then-batch pipeline dedups consistently — and duplicates are
    dropped with ``dropDuplicatesWithinWatermark``: the state store keeps
    one entry per content hash only until the event-time watermark passes
    it, so state is bounded by (arrival rate × watermark) instead of
    growing with the corpus forever. At 100 TB/day ingest this is the only
    viable streaming dedup shape: exact global dedup needs an external
    keyed store, while within-watermark dedup handles the dominant
    duplicate mode (re-crawls / re-sends arriving close together) with
    bounded RocksDB state.

    Rows with NULL text pass through unexamined. ``md5(NULL)`` is NULL and
    ``dropDuplicatesWithinWatermark`` groups NULL keys as equal (would
    collapse distinct NULL-text rows), so the key is coalesced with a
    per-row unique fallback that can never collide with an md5 hex digest.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    keyed = stream.withColumn(
        "_content_key",
        F.coalesce(
            F.md5(norm),
            # unique per row, and ':' never appears in md5 hex output
            F.concat_ws(":", F.lit("null-text"), F.col("conv_id"), F.col("turn_idx")),
        ),
    )
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_content_key"])
        .drop("_content_key")
    )


def windowed_mention_rate(
    spark: SparkSession, input_dir: str, window: str = "10 minutes"
) -> DataFrame:
    """Streaming DataFrame: count of quantity/code/term mentions per
    (window, role) with watermarking. Start with ``.writeStream`` or test
    via ``availableNow`` + memory sink."""
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    wm = stream.withWatermark("ts", "20 minutes")
    from tera_spark.pipeline.extract import mentions_udf

    exploded = wm.select(
        "ts", "role", F.explode(mentions_udf(F.col("text"))).alias("_m")
    )
    return exploded.groupBy(F.window("ts", window), "role", F.col("_m.kind").alias("kind")).agg(
        F.count(F.lit(1)).alias("n")
    )


def stream_sessionize(
    stream: DataFrame,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
):
    """Streaming gap sessionization (applyInPandasWithState +
    EventTimeTimeout): the streaming twin of the batch
    ``events.sessionize`` — same merge rule (inter-event gap ≤
    ``gap_seconds`` joins a session, > splits), emitted as CLOSED
    sessions (key, session_start, session_end, n_events).

    A session closes two ways:
    - data-driven: a later event for the key arrives beyond the gap —
      the open session is emitted in that same micro-batch;
    - timeout-driven: the event-time watermark passes
      session_end + gap (``state.setTimeoutTimestamp``) — idle keys
      emit without waiting for their next event, and state is freed, so
      the state store is bounded by ACTIVE sessions only (the property
      that survives 10^12 turns; an unbounded open-session map does
      not).

    Within a micro-batch, events are sorted by event time before
    merging, so bounded-late arrivals (inside the watermark) land in
    the right session; the watermark bounds how late. State is keyed by
    the same bucket key as the batch pipeline — state locality matches
    storage locality.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # Key type follows the input schema — a long user_id key must come
    # back as long, not a hardcoded string.
    key_type = stream.schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, session_start timestamp, "
        "session_end timestamp, n_events long"
    )
    state_schema = "s long, e long, n long"
    gap_us = int(gap_seconds) * 1_000_000

    def update(key, pdfs, state: GroupState):
        closed = []
        if state.hasTimedOut:
            s, e, n = state.get
            closed.append((s, e, n))
            state.remove()
        else:
            open_ = state.get if state.exists else None
            ts_new = []
            for pdf in pdfs:
                if len(pdf):
                    ts_new.extend(
                        int(v) // 1000
                        for v in pd.to_datetime(pdf[ts_col]).astype("int64")
                    )
            for t in sorted(ts_new):
                if open_ is None:
                    open_ = (t, t, 1)
                elif t > open_[1] + gap_us:
                    closed.append(open_)
                    open_ = (t, t, 1)
                else:
                    open_ = (min(open_[0], t), max(open_[1], t), open_[2] + 1)
            if open_ is not None:
                state.update(open_)
                # close when the watermark passes end + gap
                state.setTimeoutTimestamp((open_[1] + gap_us) // 1000)
        if closed:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                    "n_events": [n for _, _, n in closed],
                }
            )

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
