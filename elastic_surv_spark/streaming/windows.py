"""Structured Streaming operators over the events stream.

The reference has NO streaming operators (SURVEY §2.10) — despite the
"ElasticSearch streaming" framing, all its reads are batch. This module is
the north-star streaming surface: the same window expressions as the batch
queries (``F.window`` / ``F.session_window``), now with watermarks for late
data, so the batch correctness gate and the streaming path share semantics
by construction.

Harness wiring: ``readStream`` over the events parquet with an explicit
schema + ``maxFilesPerTrigger`` (micro-batched replay), memory sink +
``processAllAvailable()`` for deterministic tests. At scale the source
becomes Kafka/files-on-object-store; nothing else changes.

Late data: watermark 1 hour — rows later than (max event time − 1h) are
dropped from open aggregates; append-mode outputs only finalized windows.

Custom stateful operators (beyond built-in windows) use
``applyInPandasWithState`` — see ``stateful_running_max`` (per-user running
peak value with timeout-based state expiry).
"""

from __future__ import annotations

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


# Bounded-replay certification setting: take every file in ONE micro-batch,
# so event-time order across files can't advance the watermark past late rows
# and results equal the batch twin regardless of the testdata's file layout
# (also ~one batch of fixed streaming overhead instead of one per file).
# Certification queries pass this EXPLICITLY; the library default stays
# incremental so real consumers keep genuine micro-batch/watermark behavior.
CERT_ONE_BATCH = 10_000


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
    ts_is_nanos: bool | None = None,
) -> DataFrame:
    """File-stream source over events parquet.

    The physical type of ``ts`` varies by harness data generation
    (TIMESTAMP(NANOS) → long via nanosAsLong; naive micros → TIMESTAMP_NTZ;
    UTC-adjusted micros → TIMESTAMP). A streaming source needs the schema up
    front, so we probe it with a batch schema read (footer-only, no data
    scan) and normalize ``ts`` to TimestampType fields-as-UTC — the same
    contract ``sources.parquet.load_table`` gives batch plans. Passing the
    wrong schema silently corrupts event time (a nanos÷1000 rebuild applied
    to micros collapses the stream into ~2 days of 1970), so auto-detection
    is the default; ``ts_is_nanos`` remains as an explicit override."""
    import os

    from elastic_surv_spark.session import set_confs
    from elastic_surv_spark.sources.parquet import PARQUET_READ_CONFS, ntz_to_utc_ts

    set_confs(spark, PARQUET_READ_CONFS)

    def _reader(schema):
        r = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", max_files_per_trigger
        )
        # The file-stream source only accepts directories; a single-file
        # path becomes (parent dir + glob filter).
        if os.path.isfile(path):
            return r.option("pathGlobFilter", os.path.basename(path)).parquet(
                os.path.dirname(path)
            )
        return r.parquet(path)

    if ts_is_nanos is None:
        batch_type = spark.read.parquet(path).schema["ts"].dataType
    else:
        batch_type = T.LongType() if ts_is_nanos else T.TimestampType()
    if isinstance(batch_type, T.LongType):
        raw = _reader(_events_schema(T.LongType()))
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(batch_type, T.TimestampNTZType):
        raw = _reader(_events_schema(T.TimestampNTZType()))
        return raw.withColumn("ts", ntz_to_utc_ts("ts"))
    return _reader(_events_schema(T.TimestampType()))


def hourly_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour windows — streaming twin of events_hourly_windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts_stream(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Sliding windows (1 hour, slide 15 min) with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            "n_events",
        )
    )


def dedup_keys_stream(
    events: DataFrame, keys: list[str], within_watermark: str | None = None
) -> DataFrame:
    """Streaming exact deduplication on ``keys``: first arrival of each key
    combination is emitted, later duplicates dropped. Exact mode keeps one
    state row per DISTINCT key — bounded by key cardinality, not stream
    length, and globally equivalent to batch DISTINCT (first-arrival == any
    arrival once projected to the keys), so the batch oracle certifies it.
    For unbounded keyspaces pass ``within_watermark`` to switch to
    ``dropDuplicatesWithinWatermark``: state evicts as event time passes,
    at the cost of re-emitting keys recurring beyond the horizon (exact-
    within-horizon semantics — the 100 TB/day posture when keys are
    ever-growing, e.g. event ids)."""
    if within_watermark is not None:
        return (
            events.withWatermark("ts", within_watermark)
            .dropDuplicatesWithinWatermark(keys)
            .select(*keys)
        )
    return events.dropDuplicates(keys).select(*keys)


def interval_join_stream(
    events: DataFrame, lower_seconds: int = 3600, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join with a time-interval condition: each
    purchase matches the same user's views in [purchase − lower, purchase].

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark evicts join state once the watermark passes — state
    is O(events per watermark horizon), the production posture for
    stream-stream joins. Emits matched pairs; equivalent to the batch
    range join on a bounded replay."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("v_event_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
            F.col("value"),
        )
        .withWatermark("v_ts", watermark)
    )
    joined = purchases.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lower_seconds} SECONDS"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "inner",
    )
    return joined.select(
        "p_event_id",
        "v_event_id",
        "user_id",
        F.round(F.col("value"), 4).alias("view_value"),
    )


def session_window_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Native session windows (gap-based) — streaming twin of the batch
    sessionize operator (same 30-minute gap semantics)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )


def stream_static_enrich(
    events: DataFrame, dim: DataFrame, dim_key: str, seg_col: str
) -> DataFrame:
    """Stream-static enrichment join + running aggregate: every micro-batch
    joins against a broadcast snapshot of a static dimension (no state, no
    watermark needed — the stream side never waits for the dim side), then
    feeds a keyed aggregation. The canonical "enrich events with reference
    data" production pattern; at 100 TB/day the dim broadcast is per-batch
    and the only stateful operator is the final aggregate (one row per
    segment). Globally equivalent to the batch join+groupBy, so the plain
    SQL twin is its oracle under complete output mode."""
    enriched = events.join(
        F.broadcast(dim.select(F.col(dim_key).alias("user_id"), seg_col)),
        "user_id",
    )
    return enriched.groupBy(F.col(seg_col).alias("segment")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("sum_value"),
    )


def _event_epoch_ms(ts_max, session_tz: str) -> int:
    """Epoch milliseconds of a batch-max event time as seen inside a
    state function. Arrow delivers event-time columns as NAIVE pandas
    timestamps rendered in ``spark.sql.session.timeZone``; ``.value`` on
    the naive value is epoch-correct only when that zone is UTC, so the
    value is localized back to the session zone first (already-aware
    values pass through). Keeps the event-time-timeout base exact under
    ANY session timezone instead of depending on get_spark's UTC pin
    (ADVICE r12 #4).

    DST edges are handled deterministically instead of raising (ADVICE
    r13 #1 — the defaults are ``ambiguous='raise'``/``nonexistent=
    'raise'``, a crash path for any fall-back or spring-forward hour
    under a DST session zone): an AMBIGUOUS wall time (fall-back hour,
    two instants) resolves to the EARLIER instant (``ambiguous=True`` =
    treat as DST), a NONEXISTENT wall time (spring-forward gap — only
    reachable if the upstream renderer itself produced an impossible
    wall time) shifts forward to the first valid instant. Both choices
    are monotone within a batch, so the timeout base never jumps
    backward across the edge; pinned by tests.

    The cost of the ambiguous→earlier choice, stated plainly (ADVICE r14
    #2): an event that actually occurred in the SECOND (standard-time)
    pass of the fall-back hour is stamped with the first-pass instant —
    up to one hour EARLY relative to its true epoch — so an event-time
    timeout keyed on this base can fire up to one hour LATE for state
    touched only by second-pass events during that hour. Wall-order
    monotonicity (the property the stateful operators need) holds
    regardless; the skew is bounded by the DST offset, occurs one hour
    per zone-year, and only DELAYS eviction — it never loses or
    duplicates events. The fall-back-edge test pins both the earlier
    instant and the one-hour bound."""
    import pandas as pd

    t = pd.Timestamp(ts_max)
    if t.tzinfo is None:
        t = t.tz_localize(
            session_tz, ambiguous=True, nonexistent="shift_forward"
        )
    return int(t.value // 1_000_000)


def stateful_running_max(
    events: DataFrame,
    watermark: str = "1 hour",
    state_ttl_ms: int = 3_600_000,
) -> DataFrame:
    """Custom stateful operator: per-user running max event value via
    ``applyInPandasWithState`` (state = (peak double, n long); REAL
    event-time timeout). A user whose last activity falls ``state_ttl_ms``
    behind the watermark has their state evicted — without it the store
    grows one row per ever-seen user forever (the pre-r11 version passed
    NoTimeout while claiming expiry — review finding). Update-mode
    consumers already hold the user's latest peak, so eviction emits
    nothing; a reappearing user simply restarts their running max.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id long, peak double, n long"
    state_schema = "peak double, n long"
    # Arrow hands the state function NAIVE timestamps rendered in the
    # session timezone, so epoch math on .value is only correct if the
    # naive value is localized back to THAT zone — capture it here rather
    # than rely on get_spark pinning spark.sql.session.timeZone=UTC (the
    # r12 shape took .value raw, silently shifting the timeout base by
    # the zone offset under any non-UTC session; ADVICE r12 #4).
    session_tz = events.sparkSession.conf.get(
        "spark.sql.session.timeZone", "UTC"
    )

    def _epoch_ms(ts_max) -> int:
        return _event_epoch_ms(ts_max, session_tz)

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        peak, n = state.get if state.exists else (float("-inf"), 0)
        max_ev_ms = 0
        for pdf in pdfs:
            if len(pdf):
                peak = max(peak, float(pdf["value"].max()))
                n += len(pdf)
                max_ev_ms = max(max_ev_ms, _epoch_ms(pdf["ts"].max()))
        state.update((peak, n))
        # expire once the watermark passes this key's quiet period. The
        # base is max(watermark, this batch's max event time): during the
        # FIRST micro-batch the watermark is still 0, so wm + ttl would be
        # ~epoch + ttl — every first-batch key would be evicted as soon as
        # the watermark advanced, silently restarting its running max long
        # before the advertised quiet period (ADVICE r11 #1). The chosen
        # timestamp always exceeds the current watermark, as the API
        # requires, since ttl > 0.
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(wm, max_ev_ms) + state_ttl_ms)
        yield pd.DataFrame({"user_id": [key[0]], "peak": [peak], "n": [n]})

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stateful_transitions(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Per-user event-sequence transitions via ``applyInPandasWithState``:
    state carries the user's latest (event-time-ordered) event so each
    micro-batch emits the (prev_type, event_type) pairs it completes —
    keyed sequence analytics, the stateful pattern session/funnel/journey
    trackers are built from.

    Rows inside a batch are sorted by (ts, event_id) per user before
    pairing; the carried state stitches the boundary between batches.
    Exactly equal to the batch lag-window when batches arrive in event-time
    order (trivially true for the bounded one-batch certification replay).
    Rows at or before a key's stored boundary are DROPPED, not mispaired —
    the O(1)-state analog of a watermark discard; an out-of-order producer
    that must not lose rows needs a watermark-deep buffer in state instead.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "prev_type string, event_type string"
    state_schema = "last_us long, last_id long, last_type string"

    def update(key, pdfs, state: GroupState):
        batch = pd.concat(list(pdfs), ignore_index=True)
        if not len(batch):
            return
        batch["_us"] = batch["ts"].astype("int64")
        batch = batch.sort_values(["_us", "event_id"], kind="mergesort")
        if state.exists:
            last_us, last_id, _ = state.get
            # Late-data guard: rows at or before the stored boundary would
            # be paired out of order — drop them (the O(1)-state analog of
            # a watermark discard) instead of emitting a wrong transition.
            keep = (batch["_us"] > last_us) | (
                (batch["_us"] == last_us) & (batch["event_id"] > last_id)
            )
            batch = batch[keep]
            if not len(batch):
                return
        types = batch["event_type"].tolist()
        prevs = types[:-1]
        curs = types[1:]
        if state.exists:
            prevs = [state.get[2]] + types[:-1]
            curs = types
        last = batch.iloc[-1]
        state.update((int(last["_us"]), int(last["event_id"]), str(last["event_type"])))
        if prevs:
            yield pd.DataFrame({"prev_type": prevs, "event_type": curs})

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Drive a streaming plan to completion against the bounded source and
    return the materialized sink table (test harness)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def run_to_parquet(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> None:
    """Checkpointed exactly-once parquet sink: the file-sink transaction log
    plus the source offsets in ``checkpoint_dir`` make restarts idempotent —
    a rerun over the same (bounded) source commits NOTHING new, and a reader
    of ``out_dir`` sees only committed files. This is the production landing
    path (swap the directory for object storage; nothing else changes)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_to_es(
    stream_df: DataFrame,
    base_url: str,
    index: str,
    checkpoint_dir: str,
    id_col: str | None = None,
    output_mode: str = "append",
    batch_docs: int = 500,
) -> None:
    """Checkpointed streaming ES sink: ``foreachBatch`` → the jar-free
    distributed bulk writer (sources/elastic.py:bulk_write_es) — the
    streaming twin of the reference's ``pandas_to_eland`` upload path
    (reference README.md:65-78), for pipelines that land enriched events
    or windowed aggregates back in the index they came from.

    Delivery contract: Structured Streaming replays a failed micro-batch
    from the checkpointed offsets, so the sink is at-least-once at the
    batch level; pass ``id_col`` (any deterministic row key — e.g. an event
    id, or a window-start/group-key concat for ``update``-mode aggregates)
    and replays become upserts instead of duplicates — the standard
    idempotent-sink recipe for external stores without transactional
    commits. Every micro-batch fans out per-partition bulk streams with
    per-item 429 retry/backoff, so a back-pressured cluster slows the
    stream instead of killing it. A restart over an unchanged bounded
    source commits nothing new (offsets already consumed)."""
    from elastic_surv_spark.sources.elastic import bulk_write_es

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        bulk_write_es(batch_df, base_url, index, id_col=id_col, batch_docs=batch_docs)

    q = (
        stream_df.writeStream.outputMode(output_mode)
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def document_pipeline_stream(
    docs: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    lang_col: str = "lang",
    quality_threshold: float = 0.5,
    window_size: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the flagship batch pipeline
    (plans/queries.py:llm_data_pipeline_e2e): continuous training-data
    ingest — quality filter → exact content dedup → token counting →
    per-(window, lang) corpus stats — as ONE watermarked streaming plan.

    Stage posture at scale: the quality filter and token counter are
    map-only JVM column expressions (no state, no Python); dedup keys on
    the 8-byte ``xxhash64(text)`` content fingerprint inside the watermark
    horizon (``dropDuplicatesWithinWatermark`` — state evicts with event
    time, the only bounded choice for an ever-growing corpus; fingerprints
    shuffle, never text); the tail is a standard watermarked tumbling
    aggregate. Append output mode: each window finalizes exactly once when
    the watermark passes, so the sink sees closed corpus-stat rows (feed
    them to :func:`run_to_es` keyed on window_start|lang for idempotent
    upserts).
    """
    from elastic_surv_spark.functions.text import quality_score, token_count

    return (
        docs.withWatermark(ts_col, watermark)
        .filter(quality_score(F.col(text_col)) >= quality_threshold)
        .withColumn("_fp", F.xxhash64(F.col(text_col)))
        .dropDuplicatesWithinWatermark(["_fp"])
        .select(
            F.col(ts_col),
            F.col(lang_col),
            token_count(F.col(text_col)).alias("_n_tokens"),
        )
        .groupBy(F.window(ts_col, window_size).alias("w"), F.col(lang_col))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_n_tokens").cast("long").alias("n_tokens"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col(lang_col),
            "n_docs",
            "n_tokens",
        )
    )
