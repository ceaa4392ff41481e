"""Structured Streaming variant of the stream-stats pipeline (SURVEY §2.9).

The reference has no true streaming: ``media_events`` is an append-only
event table processed in daily incremental batches, with the 9-day
partition-overwrite window acting as the late-data policy
(``atinternet_smarttag_streams_daily_v4.sql:1-22,75,101`` — late events
≤ 8 days old are picked up because their partition is recomputed; older
ones silently dropped).  This module maps that policy onto Spark
Structured Streaming:

- the 9-day reprocess window  →  ``withWatermark(ts, '8 days')``
  (state for a day is closed once the watermark passes it — the same
  "≤ 8 days late counts, older is dropped" contract);
- the daily partition grain   →  a 1-day tumbling ``F.window``;
- the batch runner            →  ``readStream`` over the same
  date-partitioned parquet layout the incremental sink writes.

The transformation is written against the *unified* DataFrame API: the
same function runs on a static DataFrame (where ``withWatermark`` is a
no-op) — that batch path is what the driver's DuckDB oracle checks —
and on a streaming DataFrame (exercised in tests via an
``availableNow`` file-source run that must produce byte-identical
results to the batch path).

Streaming-legal aggregations only: no exact COUNT(DISTINCT) in a
streaming agg (Spark restriction) — the engine's exact-distinct lives
in the batch path; ``approx_count_distinct`` is the documented
streaming substitute (kept out of the oracle-checked columns).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import functions as E
from .io import PLAUSIBLE_MAX_EVENT_WALL, credible_clock, load_table
from .session import configure

WATERMARK = "8 days"  # == the reference's replay window minus the current day

# Event-time rebase: Spark initializes the global watermark at epoch 0
# and it only moves forward, so any event whose (instant) time is
# pre-1970 is "late" FROM THE FIRST BATCH and silently dropped by every
# watermarked operator (found by the pre-1970 random-corpus probe: a
# 1965-69 feed kept 5 of 913 groups through the incremental sink).
# Shifting every event-time instant by a constant +29200 days (~80
# years) puts the engine's epoch-0 floor at wall-clock ~1890 — below
# any real computing-era archive — while keeping rebased instants far
# under pandas' datetime64[ns] year-2262 ceiling (wall ≤ ~2182), which
# the applyInPandasWithState kernel path must respect (Arrow coerces
# kernel inputs to ns).  A WHOLE-day constant keeps F.window day /
# hour / minute buckets aligned (windows align to the epoch; the shift
# is an exact multiple of every bucket width used here), and constant
# offsets cancel in every difference, gap, and range-join condition —
# only the two face readouts below compensate.
EPOCH_REBASE_DAYS = 29200

# Future-skew quarantine bound for STREAMING inputs only.  Spark's
# global watermark is max(event time) − delay and only moves forward,
# so ONE corrupt far-future clock (a 9999-12-30 event — the
# `futuredates` random-corpus probe) fast-forwards the watermark past
# every legitimate event and the stream silently drops ALL valid data
# from the next micro-batch on — the worst failure mode a 100 TB
# pipeline has, because nothing crashes.  Events at or past this bound
# are quarantined at the streaming edge (they also cannot be "on time"
# under any physical clock).  Batch paths keep exact pass-through
# semantics: there is no watermark to poison, both engines agree on
# far-future timestamps natively, and silently dropping rows from a
# batch query would itself be the bug.
#
# The bound's value doubles as the Arrow-safety proof for the stateful
# kernel: EventTimeTimeout requires the watermark column (ts_evt) to
# SURVIVE into the applyInPandasWithState input (dropping it raises
# "Event-time timeout not supported without watermark" — probed), and
# PySpark coerces kernel-input timestamps to datetime64[ns], which
# overflows at 2262-04-11.  2180 + the 80-year EPOCH_REBASE keeps
# every admitted ts_evt face at ≤ ~2260 — under the cliff with margin.
# The batch layer shares the same bound for run-date anchoring
# (io.PLAUSIBLE_MAX_EVENT_WALL), so "credible clock" means one thing
# engine-wide.
PLAUSIBLE_MAX_WALL = PLAUSIBLE_MAX_EVENT_WALL


def _quarantine_future(events: DataFrame) -> DataFrame:
    """Drop watermark-poisoning future events from a STREAMING input.

    Applied only when ``events.isStreaming`` (see PLAUSIBLE_MAX_WALL).
    NULL event times are quarantined too: a watermarked operator would
    NULL-group them while the state timeout arithmetic cannot order
    them — the rejects path is where a production stream routes both.
    """
    if not events.isStreaming:
        return events
    return events.filter(credible_clock("ts"))


def quarantine_rejects(events: DataFrame) -> DataFrame:
    """The dead-letter complement of :func:`_quarantine_future`.

    Everything the streaming operators quarantine — future-dated
    events at/past PLAUSIBLE_MAX_WALL plus NULL event times — so a
    caller can route rejects to a dead-letter sink and alert on their
    rate instead of having them silently vanish.  Works on both batch
    and streaming inputs (a batch caller audits the same predicate the
    stream applies).
    """
    return events.filter(~credible_clock("ts") | F.col("ts").isNull())


def _ntz_instant(col: str = "ts") -> F.Column:
    """Wall-clock → watermarkable instant, DST-free and pre-1970-safe.

    Streaming watermarks require TIMESTAMP (with-timezone) event time;
    the corpus event time is TIMESTAMP_NTZ wall clock.  A session-TZ
    cast or ``from_utc_timestamp(cast(ts), current_timezone())`` is
    DST-dependent: around a Europe/Amsterdam transition the shifted
    gap between two events differs by ±60 min from the wall-clock gap
    (spring-forward wall times don't exist and get bumped), so an
    interval join or session gap evaluated on shifted instants would
    diverge from the batch twin / DuckDB oracle, which both use raw
    NTZ arithmetic (round-5 ADVICE on ``attributed_conversions``).

    ``E.ntz_instant`` instead re-bases the wall-clock epoch micros
    onto the UTC epoch instant (pure subtraction — no zone consulted):
    the instant's UTC face equals the NTZ wall clock exactly for every
    timestamp (transitions included), so instant differences ==
    wall-clock differences and ``F.window`` day/minute buckets align
    with NTZ day boundaries.  On top of that, EPOCH_REBASE_DAYS (see
    above) lifts the instant clear of Spark's epoch-0 watermark floor.
    """
    return F.timestamp_add(
        # SECOND, not DAY: timestamp_add("DAY", …) adds session-TZ
        # CALENDAR days, whose physical length varies across DST —
        # the rebase must be a fixed physical duration so instant
        # differences stay exactly wall-clock differences.
        "SECOND", F.lit(EPOCH_REBASE_DAYS * 86400), E.ntz_instant(col)
    )


def _ntz_wall_out(col) -> F.Column:
    """Inverse of :func:`_ntz_instant` for window-face readouts:
    undo the fixed-duration rebase, then extract the UTC face TZ-free
    (both steps zone-free, so DST cannot leak in)."""
    return E.ntz_wall(
        F.timestamp_add("SECOND", F.lit(-EPOCH_REBASE_DAYS * 86400), col)
    )


def daily_event_stats(events: DataFrame) -> DataFrame:
    """Per-(day, event_type) rollup of the corpus event stream.

    Works identically on static and streaming inputs.  Output grain
    mirrors the reference's per-date incremental table: one row per
    closed day per type, late data merged until the watermark passes.
    """
    # Watermarks require TIMESTAMP (with timezone) event time — NTZ is
    # rejected.  But ``F.window`` aligns day buckets to UTC *instants*,
    # so a bare cast (wall-clock → Amsterdam instant) would put
    # 00:00-00:59 CET events into the previous UTC day.  The
    # ``_ntz_instant`` shift manufactures an instant whose UTC face
    # equals the CET wall clock (fixed zero offset, DST-free), keeping
    # day buckets and the final ``cast(date)`` aligned with the batch
    # layer's NTZ wall-clock discipline.
    events = _quarantine_future(events).withColumn("ts", _ntz_instant("ts"))
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact cents sum: double summation order differs across
            # engines AND across micro-batch boundaries — integer sums
            # make the streaming and batch totals bit-identical.
            F.sum(E.cents("value")).alias(
                "total_cents"
            ),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            # undo the rebase and extract the date face TZ-FREE: a
            # direct instant→DATE cast renders through the SESSION
            # time zone, so any session west of UTC shifts every
            # day bucket to the previous date (found by the round-11
            # session-TZ registry sweep — the ONE leak in the NTZ
            # wall-clock discipline); ntz_wall's pure epoch
            # arithmetic keeps the readout zone-free.
            _ntz_wall_out(F.col("w.start")).cast("date")
            .alias("evt_date"),
            "event_type",
            "n_events",
            E.round_to(F.col("total_cents") / 100.0, 2).alias("total_value"),
            "min_value",
            "max_value",
        )
    )


SESSION_GAP = "30 minutes"


def session_stats(events: DataFrame) -> DataFrame:
    """Gap-based per-user sessionization via native ``session_window``.

    A session extends while consecutive events arrive <= 30 minutes
    apart (Spark merges TOUCHING [t, t+gap] windows — probed: an
    event at exactly t+gap extends the session, one microsecond later
    splits it); only a gap STRICTLY greater than 30 minutes closes it.
    Runs identically on static and streaming inputs — in streaming the
    watermark both bounds session state AND finalizes a session once
    no in-gap event can still arrive; in batch it is a no-op.

    Same TZ discipline as ``daily_event_stats``: the watermark needs a
    TIMESTAMP instant, so the NTZ event time is shifted to an instant
    whose UTC face equals the wall clock (differences between shifted
    instants == wall-clock differences, DST-safe), while the reported
    session bounds aggregate the ORIGINAL wall-clock column so the
    output stays engine-portable NTZ.

    Scale: one shuffle on user_id + an in-partition merge of session
    state — the streaming-native form of the sessionize-with-windows
    SQL (lag + cumulative-sum) the oracle uses.
    """
    shifted = _quarantine_future(events).withColumn(
        "ts_evt",
        _ntz_instant("ts"),
    )
    return (
        shifted.withWatermark("ts_evt", WATERMARK)
        .groupBy(
            F.session_window("ts_evt", SESSION_GAP).alias("w"),
            "user_id",
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            # exact cents sum (see daily_event_stats)
            E.round_to(
                F.sum(E.cents("value")) / 100.0, 2
            ).alias("total_value"),
        )
        .select(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            "total_value",
        )
    )


DEDUP_TTL_MS = 8 * 24 * 3600 * 1000  # state lifetime == the watermark


def _fingerprint():
    """Content fingerprint: md5 of the normalized payload — the same
    canonicalization as the batch ``dedup_exact`` operator."""
    return F.md5(F.lower(F.trim(F.col("props"))))


FIRST_SEEN_SCHEMA = (
    "fp string, event_id long, ts timestamp_ntz, user_id long, "
    "event_type string, value double"
)

# Kernel-side twin of FIRST_SEEN_SCHEMA: event time travels through
# the Arrow boundary as int64 epoch micros.  PySpark's serializer
# hardcodes ns coercion for kernel-input timestamps, so one 2263+
# timestamp would otherwise abort the whole stage (futuredates probe);
# longs are representation-exact at any date either engine can hold.
_FIRST_SEEN_KERNEL_SCHEMA = (
    "fp string, event_id long, ts_us long, user_id long, "
    "event_type string, value double"
)

_REBASE_MS = EPOCH_REBASE_DAYS * 86400 * 1000


def first_seen_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST event per content
    fingerprint — the custom stateful operator Spark has no built-in
    for (``dropDuplicates`` keeps all key state forever and cannot
    pick a deterministic representative row).

    ``applyInPandasWithState`` keyed on the fingerprint — the one
    pandas kernel in the package (every other Python kernel is Arrow
    record batches; PySpark 4.1 has no Arrow form of this state API,
    see ``kernels``): state is one
    long (first-seen event-time ms); a micro-batch's rows for a key
    are deduped in-batch to the (ts, event_id)-minimal row, emitted
    IFF the key has no state yet.  State carries an EVENT-TIME timeout
    of ``DEDUP_TTL_MS`` past first sight, so at 100 TB the state store
    holds one 8-byte value per *distinct recent* fingerprint instead
    of growing forever — duplicates arriving later than the TTL are
    re-emitted, the exact analog of the reference's "older than the
    9-day replay window is dropped" late-data policy
    (``streams_daily_v4.sql:15-22``).

    Batch twin (oracle-checked as ``streaming_first_seen``): the
    ``row_number() OVER (PARTITION BY fp ORDER BY ts, event_id) = 1``
    idiom — stateful streaming and window SQL must agree on every
    single-batch input (tests/test_streaming.py also proves the
    cross-batch suppression the SQL form cannot express).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = (
        _quarantine_future(events)
        .withColumn(
            "ts_evt",
            _ntz_instant("ts"),
        )
        .withColumn("fp", _fingerprint())
        .withWatermark("ts_evt", WATERMARK)
        # Micros-long kernel contract (see _FIRST_SEEN_KERNEL_SCHEMA):
        # the kernel orders and keeps state on exact int64 epoch
        # micros, never on a pandas-converted timestamp.  ts_evt must
        # STAY (EventTimeTimeout requires the watermark column in the
        # kernel input — its ns conversion is safe because
        # _quarantine_future bounds every admitted face under the
        # 2262 Arrow cliff); the raw NTZ ts and the untrimmed props
        # payload are dead weight for the kernel and are dropped.
        .withColumn("ts_us", E.ntz_epoch_us("ts"))
        .drop("ts", "props")
    )

    def _dedup(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        first = pdf.sort_values(["ts_us", "event_id"]).iloc[:1]
        # ts_us is wall-clock epoch micros; the state-timeout clock is
        # rebased-instant epoch ms (the watermark's clock), so add the
        # same whole-day rebase _ntz_instant applies.
        first_ms = int(first["ts_us"].iloc[0]) // 1000 + _REBASE_MS
        if not state.exists:
            state.update((first_ms,))
            state.setTimeoutTimestamp(first_ms + DEDUP_TTL_MS)
            yield first[
                ["fp", "event_id", "ts_us", "user_id", "event_type", "value"]
            ]
        # seen before: suppress the whole batch for this key

    return (
        ev.groupBy("fp")
        .applyInPandasWithState(
            _dedup,
            _FIRST_SEEN_KERNEL_SCHEMA,
            "first_ms long",
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
        .withColumn("ts", E.ntz_from_epoch_us("ts_us"))
        .select("fp", "event_id", "ts", "user_id", "event_type", "value")
    )


def first_seen_batch(events: DataFrame) -> DataFrame:
    """Static twin of ``first_seen_stream``: window-SQL first
    occurrence per fingerprint (identical output on a one-batch
    input)."""
    from pyspark.sql import Window

    w = Window.partitionBy("fp").orderBy("ts", "event_id")
    return (
        events.withColumn("fp", _fingerprint())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("fp", "event_id", "ts", "user_id", "event_type", "value")
    )


def stream_source(
    spark: SparkSession, path: str, schema_from: DataFrame
) -> DataFrame:
    """File-based streaming source over a parquet directory, schema
    pinned from a batch DataFrame (streaming readers need it up front)."""
    configure(spark)
    return spark.readStream.schema(schema_from.schema).parquet(path)


def batch_equivalent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The static-path twin of the streaming job (what the driver's
    oracle verifies — same code path, batch input)."""
    return daily_event_stats(load_table(spark, sf_dir, "events"))


def run_available_now(
    spark: SparkSession,
    source_path: str,
    schema_from: DataFrame,
    name: str,
    transform=daily_event_stats,
    output_mode: str = "complete",
    checkpoint: str | None = None,
    sink_dir: str | None = None,
) -> DataFrame:
    """Run a streaming job over everything currently in
    ``source_path`` (availableNow trigger), collect into an in-memory
    sink, and return the result table.  Used by tests to prove
    stream/batch parity for any unified transform.

    ``checkpoint`` + ``sink_dir``: a parquet sink with a stable
    checkpoint carries source offsets AND operator state across
    successive calls — how the tests drive the stateful dedup through
    multiple micro-batch generations (the in-memory sink cannot
    recover from a checkpoint, so multi-generation runs need the file
    sink; the returned DataFrame then reads the CUMULATIVE output)."""
    stream = transform(stream_source(spark, source_path, schema_from))
    if sink_dir:
        if output_mode == "complete":
            # The parquet file sink only supports append; failing here
            # with guidance beats Spark's late AnalysisException for
            # callers who took the (in-memory-sink) default mode.
            raise ValueError(
                "sink_dir uses the parquet file sink, which supports "
                "only output_mode='append' — pass it explicitly "
                "(append transforms: watermarked/session-window aggs, "
                "stateful dedup)"
            )
        w = (
            stream.writeStream.format("parquet")
            .option("path", sink_dir)
            .outputMode(output_mode)
            .trigger(availableNow=True)
        )
        if checkpoint:
            w = w.option("checkpointLocation", checkpoint)
        q = w.start()
        q.awaitTermination()
        return spark.read.parquet(sink_dir)
    w = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    q = w.start()
    q.awaitTermination()
    return spark.table(name)


def dedup_replays(events: DataFrame) -> DataFrame:
    """Exactly-once analytics over an at-least-once transport:
    duplicate deliveries of the same ``event_id`` are dropped, keeping
    one row per event.

    Streaming path: ``dropDuplicatesWithinWatermark`` — the id state
    expires once the watermark passes an id's event time, so state is
    bounded by the late-data horizon (8 days of ids), not the stream's
    history; a replay arriving later than the watermark would also be
    dropped as late data, which is exactly the delivery contract.
    Batch path: plain ``dropDuplicates`` (duplicate rows are identical
    by construction, so which one survives is immaterial).  Same
    TZ discipline as the other operators: the watermark needs a
    TIMESTAMP instant, output keeps the original NTZ wall clock.
    """
    shifted = _quarantine_future(events).withColumn(
        "ts_evt",
        _ntz_instant("ts"),
    )
    wm = shifted.withWatermark("ts_evt", WATERMARK)
    deduped = (
        wm.dropDuplicatesWithinWatermark(["event_id"])
        if events.isStreaming
        else wm.dropDuplicates(["event_id"])
    )
    return deduped.select("event_id", "user_id", "event_type", "ts", "value")


def sliding_window_stats(events: DataFrame) -> DataFrame:
    """Overlapping sliding-window rollup: 10-minute windows advancing
    every 5 minutes, per event type — the moving-rate / trend surface
    a monitoring stream maintains (each event lands in exactly two
    windows).

    Same unified-API + TZ discipline as ``daily_event_stats``: the
    NTZ event time is shifted so its UTC face equals the wall clock,
    the native ``F.window(ts, '10 minutes', '5 minutes')`` generator
    assigns both enclosing windows, and the reported bounds are cast
    back to wall-clock NTZ.  Streaming-legal as-is (watermark closes
    a window once events >8 days late are impossible); in batch the
    watermark is a no-op and the DuckDB oracle checks the same rows
    via the two-shifted-bucket rewrite.  One shuffle on
    (window, event_type); the window fan-out is exactly 2×, applied
    map-side before the combine.
    """
    shifted = _quarantine_future(events).withColumn(
        "ts_evt",
        _ntz_instant("ts"),
    )
    return (
        shifted.withWatermark("ts_evt", WATERMARK)
        .groupBy(
            F.window("ts_evt", "10 minutes", "5 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(E.cents("value")).alias(
                "total_cents"
            ),
        )
        .select(
            # Inverse of the input shift: the de-rebased w.start's UTC
            # face IS the wall-clock bucket; ntz_wall extracts it
            # TZ-free (the old to_utc_timestamp inverse was itself
            # DST-dependent and bumped skipped-hour windows +1h —
            # random-corpus find).
            _ntz_wall_out(F.col("w.start")).alias("win_start"),
            _ntz_wall_out(F.col("w.end")).alias("win_end"),
            "event_type",
            "n_events",
            E.round_to(F.col("total_cents") / 100.0, 2).alias("total_value"),
        )
    )


ATTRIBUTION_GAP = "30 minutes"


def attributed_conversions(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: every ``purchase`` attributed to
    each preceding ``view`` by the same user within 30 minutes — the
    canonical two-stream correlation (impression→conversion) that only
    a genuine stream-stream join can maintain online.

    The one STRUCTURED-STREAMING join shape the surface lacked: both
    sides derive from the event stream (a streaming SELF-join — each
    side keeps its own join state), both are watermarked, and the join
    condition carries the event-time range constraint
    ``imp_evt <= conv_evt <= imp_evt + 30 min`` — which is what lets
    Spark expire buffered rows: a view older than
    (watermark − 30 min) can never match a future purchase, a purchase
    older than the watermark can never match a late view, so state is
    bounded by watermark + gap, never by stream length.

    Unified API as everywhere in this module: on a static input the
    watermarks are no-ops and the plan is a plain range equi-join the
    DuckDB oracle replays (``streaming_attribution_join``); the
    availableNow parity run is in tests/test_streaming.py.  Output
    keeps the original NTZ wall-clock timestamps (the shifted instants
    exist only for watermark legality; differences are identical).

    Scale: one shuffle of each filtered side on ``user_id``; per-key
    state = the views/purchases inside one 30-minute horizon per user.
    Multi-view attribution semantics (every qualifying view matches —
    set semantics, no arbitrary "first touch" pick) keep the result
    deterministic and oracle-checkable.
    """
    shifted = _quarantine_future(events).withColumn(
        "ts_evt",
        _ntz_instant("ts"),
    )
    imps = (
        shifted.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("imp_user"),
            F.col("event_id").alias("imp_id"),
            F.col("ts").alias("imp_ts"),
            F.col("ts_evt").alias("imp_evt"),
        )
        .withWatermark("imp_evt", WATERMARK)
    )
    convs = (
        shifted.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("conv_user"),
            F.col("event_id").alias("conv_id"),
            F.col("ts").alias("conv_ts"),
            F.col("ts_evt").alias("conv_evt"),
            F.col("value").alias("conv_value"),
        )
        .withWatermark("conv_evt", WATERMARK)
    )
    return imps.join(
        convs,
        (F.col("imp_user") == F.col("conv_user"))
        & (F.col("conv_evt") >= F.col("imp_evt"))
        & (
            F.col("conv_evt")
            <= F.col("imp_evt") + F.expr(f"INTERVAL {ATTRIBUTION_GAP}")
        ),
        "inner",
    ).select(
        F.col("imp_user").alias("user_id"),
        "imp_id",
        "conv_id",
        "imp_ts",
        "conv_ts",
        "conv_value",
    )


def run_into_incremental_sink(
    spark: SparkSession,
    source_path: str,
    schema_from: DataFrame,
    table_path: str,
    checkpoint: str,
    transform=daily_event_stats,
    keys: tuple[str, ...] = ("evt_date", "event_type"),
) -> DataFrame:
    """Streaming ETL into an incremental warehouse table — the
    production shape that connects the streaming layer to the batch
    sink contract: the streaming aggregation runs in UPDATE mode (each
    micro-batch emits only the groups it changed) and ``foreachBatch``
    MERGEs those rows into the plain-parquet table by key via
    ``runner.merge_upsert`` (the dbt ``merge`` strategy; on a
    lakehouse this seam becomes ``MERGE INTO``).

    The checkpoint carries BOTH source offsets and aggregation state,
    so successive calls with new files in ``source_path`` resume — a
    generation of late/new data re-emits its (day, type) groups and
    the merge overwrites exactly those keys, which is how the
    reference's trailing-window incremental contract behaves under
    continuous arrival.  State is bounded by the 8-day watermark, not
    stream history.  Returns the post-run table read-back.
    """
    from .runner import merge_upsert

    stream = transform(stream_source(spark, source_path, schema_from))

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        rows = batch_df.persist()
        try:
            # merge_upsert consumes its input twice (key set + union);
            # persist pins the micro-batch instead of recomputing it.
            if rows.count():
                merge_upsert(spark, table_path, rows, list(keys))
        finally:
            rows.unpersist()

    q = (
        stream.writeStream.foreachBatch(_merge)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not os.path.exists(table_path):
        # empty source: no micro-batch ever merged, so the table was
        # never created — the read-back is the transform's empty shape
        return spark.createDataFrame([], stream.schema)
    return spark.read.parquet(table_path)


DRIFT_BUCKET_WIDTH = 50  # event-value histogram bucket width
DRIFT_BUCKETS = 10       # buckets 0..9 (+ bucket -1 for NULL/NaN values)


def drift_bucket_counts(events: DataFrame) -> DataFrame:
    """Per-day event-VALUE histogram — the streaming-legal half of the
    online drift monitor (``streaming_psi_drift``): one watermarked
    tumbling-window aggregation maintaining per-(day, bucket) counts.
    The PSI fold against the trained reference histogram is a SECOND
    aggregation, which Structured Streaming forbids in one query — in
    production it runs over this operator's sink (or in the
    foreachBatch hook), exactly as the registered batch twin folds it.

    Bucket -1 quarantines every NON-FINITE value — NULL, NaN AND ±Inf
    (the ``nanvalues`` corpus class; a NaN-only guard leaves
    floor(−Inf) to abort the ANSI cast — found by the variant replay)
    — so a poisoned price feeds the monitor a visible bucket instead
    of crashing the cast or silently vanishing: one corrupt value
    costs one histogram cell, never the monitor.

    Scale: map-side bucket assignment, ONE shuffle on (window,
    bucket) — ≤ 11 groups per day regardless of event volume, all
    map-combinable; watermark closes each day once >8-day-late events
    are impossible, so state is bounded by the replay horizon.
    """
    shifted = _quarantine_future(events).withColumn(
        "ts_evt", _ntz_instant("ts")
    )
    # Finite values CLAMP into the fixed spine from BOTH ends
    # (greatest .. 0): a negative-value regime (the hostile variant;
    # refunds/chargebacks in production) must pile visibly into
    # bucket 0, not mint out-of-spine buckets that the PSI fold's
    # -1..9 spine silently drops — found by the variant replay, where
    # Spark's reference total summed the invisible buckets and the
    # oracle's spine didn't.
    bucket = (
        F.when(
            F.col("value").isNull() | ~E.is_finite("value"), F.lit(-1)
        )
        .otherwise(
            F.greatest(
                F.least(
                    F.floor(F.col("value") / DRIFT_BUCKET_WIDTH),
                    F.lit(DRIFT_BUCKETS - 1),
                ),
                F.lit(0),
            )
        )
        .cast("long")
    )
    return (
        shifted.withWatermark("ts_evt", WATERMARK)
        .groupBy(
            F.window("ts_evt", "1 day").alias("w"),
            bucket.alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            _ntz_wall_out(F.col("w.start")).alias("win_start"),
            _ntz_wall_out(F.col("w.end")).alias("win_end"),
            "bucket",
            "n_events",
        )
    )
