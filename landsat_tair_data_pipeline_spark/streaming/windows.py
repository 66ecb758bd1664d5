"""Structured Streaming surface over the events table (SURVEY §2.11).

The reference is pure batch; the engine adds the streaming forms of the
batch event-time windows in ``operators/events.py``. Each registry query
here runs a REAL streaming job — file source → watermark/window/state →
sink — to completion with ``trigger(availableNow=True)``, then returns
the sink table as a DataFrame. The DuckDB oracle (the batch-equivalent
SQL) therefore gates the streaming execution end-to-end, not a batch
stand-in.

Output-mode choices, and why they keep results batch-identical:
- windowed aggregations run in COMPLETE mode: append mode withholds
  windows still inside the watermark at end-of-stream, so the tail
  window(s) would be missing vs batch. Complete mode is exact for a
  finite source. (Append + watermark late-drop semantics are exercised
  in tests/test_streaming.py with a staged two-batch feed instead.)
- dropDuplicates runs in APPEND mode projecting ONLY the dedup keys:
  which physical duplicate survives is arrival-order-dependent, but the
  key projection makes the result set deterministic (= DISTINCT keys).
- the custom stateful operator (applyInPandasWithState) runs in UPDATE
  mode through foreachBatch, keeping the LAST update per key — equal to
  the batch aggregate once the source drains.

Scale: state is bounded by watermarks (windows) or per-key fixed-width
tuples (stateful totals); file-source backpressure via
maxFilesPerTrigger; state store partitions = shuffle partitions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from ..operators.events import _SCD2_SQL as _BATCH_SCD2_SQL
from ..registry import QuerySpec
from ..sources.tables import _normalize_event_ts, ensure_nanos_readable, table


# Test seam: extra file-source reader options injected into
# stream_events (e.g. {"maxFilesPerTrigger": "1"} to force a
# multi-micro-batch drain). Empty in production — the batch-count
# precondition guard in run_to_memory exists precisely so that a
# future non-empty setting here fails loudly where it breaks
# correctness (stream_scd2) and is exercised by the regression test.
_STREAM_READER_OPTIONS: dict[str, str] = {}


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table. Schema comes from one
    batch footer read (file streams require an explicit schema); the
    ts normalization (NTZ → TIMESTAMP, or nanos-long → TIMESTAMP)
    mirrors sources.tables.table so watermarks always see TIMESTAMP."""
    import os

    path = f"{sf_dir}/events.parquet"
    ensure_nanos_readable(spark, path)
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    for k, v in _STREAM_READER_OPTIONS.items():
        reader = reader.option(k, v)
    if os.path.isdir(path):
        # directory-of-parts layout (any Spark-written table): stream
        # the directory itself. The glob-filter branch below would
        # match ZERO files here — pathGlobFilter tests LEAF file names
        # (part-*.parquet), not the table dir name (found live: every
        # streaming key silently read 0 rows from a replicated probe
        # dir while the batch twins read the same table fine).
        raw = reader.parquet(path)
    else:
        # single-file layout (the driver testdata): file streams want
        # a directory, so stream sf_dir filtered to this one leaf file
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(
            sf_dir
        )
    return _normalize_event_ts(raw)


def run_to_memory(
    sdf: DataFrame,
    name: str,
    output_mode: str,
    timeout_s: int = 300,
    state_partitions: int = 8,
    max_input_batches: int | None = None,
) -> DataFrame:
    """Drain a finite stream into a memory sink and return the table.

    State partition count is frozen at query start; at this scale more
    partitions only multiply state-store setup cost, so pin a small
    count for the run and restore the session conf after (a real
    deployment sizes this to executor count × cores).

    ``max_input_batches`` enforces a caller's single-batch (or N-batch)
    precondition AT RUNTIME (VERDICT r8 item 6): stream_scd2's
    correctness vs the batch oracle requires the whole finite source in
    ONE micro-batch — hash-partitioned part files split across batches
    could deliver an event older than an open interval and silently
    drop it. Documenting that was not enough; a future
    maxFilesPerTrigger / source change must fail LOUDLY, so after the
    drain the query's progress history is checked and a drain that
    consumed input across more micro-batches than declared raises."""
    spark = sdf.sparkSession
    spark.catalog.dropTempView(name) if name in [
        t.name for t in spark.catalog.listTables()
    ] else None
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(timeout_s)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if q.exception() is not None:
        raise q.exception()
    if not finished:
        # a timed-out drain must be LOUD — returning the memory table
        # mid-write would yield silently short counts vs the oracle
        q.stop()
        raise TimeoutError(
            f"run_to_memory({name!r}): availableNow drain did not "
            f"finish within {timeout_s}s"
        )
    if max_input_batches is not None:
        # recentProgress is capped at spark.sql.streaming
        # .numRecentProgressUpdates (default 100) — a drain spanning
        # more micro-batches than the retention window would evade the
        # fed-batch count below, so first prove the retention window
        # saw the WHOLE drain, then count fed batches. The proof is
        # "the buffer never filled to its cap" (retained < cap ⇒
        # nothing was evicted), NOT `lastProgress.batchId + 1 >
        # retained` (ADVICE r10): batchId is absolute — a query
        # resumed from an existing checkpoint carries it forward, so
        # the old form raised spuriously on correct resumed runs, and
        # a wrapped buffer keeps last-min+1 == len so a relative-range
        # form can never fire at all.
        cap = int(
            spark.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100")
        )
        # DELIBERATELY CONSERVATIVE (ADVICE r11): retained == cap means
        # "exactly full", which a legitimate cap-sized drain also
        # produces — the buffer exposes no evicted-count, and batchId
        # deltas cannot distinguish the two either (within one run
        # batchIds are consecutive, so max-min+1 == len whether or not
        # older entries fell off), so the guard raises on the whole
        # ambiguous class rather than risk a blind batch-count check.
        # Callers needing cap-sized drains raise the conf (cap-1 is the
        # usable headroom).
        if len(q.recentProgress) >= cap:
            raise RuntimeError(
                f"run_to_memory({name!r}): drain filled the whole "
                f"{cap}-entry recentProgress retention window (a "
                "cap-sized drain is indistinguishable from an "
                "overflowed one) — earlier micro-batches may have been "
                "evicted and the batch-count precondition check below "
                "would be blind; raise "
                "spark.sql.streaming.numRecentProgressUpdates for this "
                "drain or remove the trigger cap"
            )
        fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(fed) > max_input_batches:
            raise RuntimeError(
                f"run_to_memory({name!r}): the finite source drained "
                f"across {len(fed)} input micro-batches but the caller's "
                f"correctness precondition allows {max_input_batches} "
                "(out-of-order delivery across batches can silently drop "
                "state transitions); remove the trigger cap / "
                "maxFilesPerTrigger, or add out-of-orderness accounting "
                "before raising this limit"
            )
    return spark.table(name)


def stream_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming tumbling 1-hour windows per event_type (the streaming
    form of events_tumbling — same oracle)."""
    ev = stream_events(spark, sf).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(agg, "stream_tumbling_sink", "complete")


_TUMBLING_SQL = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
       event_type,
       COUNT(*)              AS n_events,
       ROUND(SUM(value), 2)  AS sum_value
FROM events
GROUP BY 1, 2
"""


def stream_session(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming session windows (15-min gap) per user — the streaming
    form of events_session, same gaps-and-islands oracle."""
    ev = stream_events(spark, sf).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy("user_id", F.session_window("ts", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(agg, "stream_session_sink", "complete")


_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL '15 minutes'
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
sess AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_id
  FROM flagged)
SELECT user_id, MIN(ts) AS session_start,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM sess
GROUP BY user_id, sess_id
"""


def stream_sliding(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming sliding windows (1 h length, 30 min slide): every
    event lands in exactly two windows — the streaming form of
    events_sliding, same unnest-based oracle."""
    ev = stream_events(spark, sf).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value") + 1e-9, 4).alias("avg_value"),
        )
        .select(F.col("w.start").alias("bucket_start"), "n_events", "avg_value")
    )
    return run_to_memory(agg, "stream_sliding_sink", "complete")


_SLIDING_SQL = """
WITH assigned AS (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
           AS bucket_start,
         value
  FROM events
)
SELECT bucket_start, COUNT(*) AS n_events, ROUND(AVG(value) + 1e-9, 4) AS avg_value
FROM assigned
GROUP BY bucket_start
"""


def stream_dedup_then_window(spark: SparkSession, sf: str) -> DataFrame:
    """CHAINED stateful operators in one streaming job: at-least-once
    redelivery dedup (dropDuplicates on key+event time — the survivor's
    window is therefore deterministic regardless of arrival order),
    then a tumbling rollup over the deduped stream. The
    ingest-dedup-then-aggregate shape a streaming training-data
    pipeline runs. Oracle: DISTINCT triples then the same rollup."""
    ev = stream_events(spark, sf).withWatermark("ts", "1 hour")
    deduped = ev.dropDuplicates(["user_id", "event_type", "ts"])
    agg = (
        deduped.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_unique_events"))
        .select(F.col("w.start").alias("bucket_start"), "n_unique_events")
    )
    return run_to_memory(agg, "stream_chain_sink", "complete")


def stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming dropDuplicates within a watermark. Keys-only
    projection → deterministic result (= DISTINCT) even though which
    physical duplicate survives depends on arrival order."""
    ev = stream_events(spark, sf).withWatermark("ts", "1 hour")
    deduped = ev.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return run_to_memory(deduped, "stream_dedup_sink", "append")


_DEDUP_SQL = "SELECT DISTINCT user_id, event_type FROM events"


def stream_stateful_user_totals(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful operator: per-user running totals via
    applyInPandasWithState (Arrow-batched, fixed-width state per key).

    Update-mode drain goes to the memory SINK TABLE (the r1 version
    looped over foreachBatch ``.collect()`` into a driver dict — a
    driver bottleneck at high key cardinality, and the one piece of
    this module that wasn't a sink). The sink accumulates one row per
    (key, batch-with-activity); "last update wins" is recovered
    relationally: n_events is monotone per key, so the max-n_events row
    IS the final state — a row_number prune, no driver loop."""
    ev = stream_events(spark, sf).select("user_id", "value")
    out_schema = "user_id bigint, n_events bigint, sum_value double"
    state_schema = "n bigint, s double"

    def totals(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((int(n), float(s)))
        yield pd.DataFrame(
            [{"user_id": key[0], "n_events": n, "sum_value": s}]
        )

    sdf = ev.groupBy("user_id").applyInPandasWithState(
        totals, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )

    from pyspark.sql import Window

    out = run_to_memory(sdf, "stream_stateful_sink", "update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    latest = (
        out.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return latest.select(
        "user_id",
        "n_events",
        F.round(F.col("sum_value") + 1e-9, 2).alias("sum_value"),
    )


_STATEFUL_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       ROUND(SUM(value) + 1e-9, 2) AS sum_value
FROM events
GROUP BY user_id
"""


def stream_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming SCD2 upsert via applyInPandasWithState (VERDICT r7
    item 7): the watermark-era form of scd2_user_history. Per user the
    state is the OPEN validity interval (valid_from, event_id,
    attr_value); each arriving 'signup' event closes it (emits the
    finished interval with valid_to = the new event's time) and opens
    a new one. Events are processed in (ts, event_id) order within
    each batch — the same tiebreak the batch lead() window uses — and
    an event older than the open interval is dropped (the watermark
    contract). Nothing is ever actually late here because the finite
    availableNow source drains in a SINGLE micro-batch (no
    maxFilesPerTrigger is set) — that single-batch precondition is
    load-bearing for directory-of-parts sources, whose part files are
    hash- not time-partitioned: splitting them across batches could
    deliver an event older than an open interval and silently drop
    it. Since r9 the precondition is ENFORCED, twice over (VERDICT r8
    item 6 / ADVICE): run_to_memory(max_input_batches=1) raises if
    the drain consumed input across more than one micro-batch, and a
    dropped-late accumulator raises post-drain if any event was
    actually discarded (belt for a source that reorders within its
    declared batching) — a future trigger-cap or source change fails
    loudly instead of silently dropping intervals.

    Update-mode drain goes to the memory sink (no driver loop — the
    stream_stateful_user_totals pattern): an interval emitted open in
    batch k may be re-emitted closed in batch k+1, so finality is
    recovered relationally — per (user, event_id), a closed row
    supersedes its open version (is_current ascending picks
    false-before-true), one row_number prune. State is one fixed-width
    tuple per user; timestamps cross the Arrow boundary as raw
    epoch-nanos ints so the roundtrip is exact regardless of session
    timezone."""
    ev = stream_events(spark, sf).where(
        F.col("event_type") == "signup"
    ).select("user_id", "event_id", "ts", "value")
    out_schema = (
        "user_id bigint, event_id bigint, attr_value double, "
        "valid_from timestamp, valid_to timestamp, is_current boolean"
    )
    state_schema = "from_ns bigint, eid bigint, attr double"

    # out-of-orderness accounting: every discarded late event counts.
    # With the single-batch drain this is provably zero (events within
    # a batch are sorted before processing); a nonzero value means the
    # source's batching contract broke and the result diverged from
    # the batch oracle — raise, don't return.
    dropped_late = spark.sparkContext.accumulator(0)

    def scd2(key, pdfs, state: GroupState):
        cur = state.get if state.exists else None  # (from_ns, eid, attr)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        out: list[tuple] = []
        # timestamps are built as pd.Timestamp OBJECTS, never raw ints
        # in a column that also holds None: pandas coerces int+None to
        # float64, whose 53-bit mantissa loses ~256 ns at epoch-ns
        # magnitude — observed as off-by-1µs valid_to vs the oracle
        def _ts(ns):
            return pd.NaT if ns is None else pd.Timestamp(ns, tz="UTC")

        for r in rows.itertuples():
            ts_ns = int(r.ts.value)
            eid = int(r.event_id)
            if cur is not None and (ts_ns, eid) <= (cur[0], cur[1]):
                dropped_late.add(1)
                continue  # late vs the open interval: dropped
            if cur is not None:
                out.append(
                    (key[0], cur[1], cur[2], _ts(cur[0]), _ts(ts_ns), False)
                )
            # NULL value rows must flow through like the batch oracle
            # (which passes attr_value NULL), not crash float(None);
            # the fixed-width double state slot can't hold None, so
            # NaN is the in-state encoding and maps back to null on
            # emit below (synthetic values are never genuinely NaN)
            cur = (
                ts_ns,
                eid,
                float("nan") if pd.isna(r.value) else float(r.value),
            )
        if cur is not None:
            state.update((cur[0], cur[1], cur[2]))
            out.append((key[0], cur[1], cur[2], _ts(cur[0]), pd.NaT, True))
        if not out:
            return
        pdf = pd.DataFrame(
            out,
            columns=[
                "user_id", "event_id", "attr_value",
                "valid_from", "valid_to", "is_current",
            ],
        )
        # emit exactly the Arrow type the serializer expects
        # (timestamp[us, tz=UTC]); the epoch-ns values are µs-aligned
        # (the source is µs parquet), so the unit cast is lossless
        for c in ("valid_from", "valid_to"):
            pdf[c] = pd.to_datetime(pdf[c], utc=True).astype(
                "datetime64[us, UTC]"
            )
        # nullable Float64 so the NaN state sentinel crosses Arrow as
        # a true NULL (a float64 column would surface it as NaN, which
        # the batch oracle's NULL would hash-mismatch)
        pdf["attr_value"] = pd.array(
            [None if pd.isna(v) else v for v in pdf["attr_value"]],
            dtype="Float64",
        )
        yield pdf

    sdf = ev.groupBy("user_id").applyInPandasWithState(
        scd2, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    out = run_to_memory(
        sdf, "stream_scd2_sink", "update", max_input_batches=1
    )
    if dropped_late.value:
        raise RuntimeError(
            f"stream_scd2: {dropped_late.value} event(s) arrived older "
            "than an open interval and were dropped — the source "
            "violated the single-batch ordering contract; the result "
            "would silently diverge from the batch SCD2 oracle"
        )

    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_id").orderBy(
        F.col("is_current").asc()
    )
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "user_id", "attr_value", "valid_from", "valid_to", "is_current"
        )
    )


def stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds: follow-up
    events of the same (user, type) within 5 minutes. Both sides are
    watermarked; the time-range condition bounds the join state Spark
    must buffer (without it, stream-stream state grows forever).
    Inner joins emit on match — no watermark-close withholding — so a
    drained finite source equals the batch self-join (the oracle)."""
    a = stream_events(spark, sf).withWatermark("ts", "30 minutes").alias("a")
    b = stream_events(spark, sf).withWatermark("ts", "30 minutes").alias("b")
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.event_id") < F.col("b.event_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 minutes")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_type").alias("event_type"),
        F.col("a.event_id").alias("event_a"),
        F.col("b.event_id").alias("event_b"),
        F.col("a.ts").alias("ts_a"),
        F.col("b.ts").alias("ts_b"),
    )
    return run_to_memory(joined, "stream_stream_join_sink", "append")


_STREAM_JOIN_SQL = """
SELECT a.user_id, a.event_type,
       a.event_id AS event_a, b.event_id AS event_b,
       a.ts AS ts_a, b.ts AS ts_b
FROM events a JOIN events b
  ON a.user_id = b.user_id AND a.event_type = b.event_type
 AND a.event_id < b.event_id
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL '5 minutes'
"""


def stream_static_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static enrichment join — the standard streaming lookup
    pattern: each streamed event joins a STATIC per-user profile
    (batch-computed average value) and is flagged above/below its
    user's profile; output is the per-type above/below tally. The
    static side is re-read per micro-batch by design (profile updates
    between batches are picked up); stateless join, no watermark
    needed. Oracle: the identical batch join."""
    # avg is ROUNDED before the comparison: an order-dependent double
    # sum can differ by ulps between engines, and an event within
    # float noise of its user's average would otherwise flip the
    # boolean GROUP KEY (registry invariant: round float arithmetic
    # identically on both sides)
    profile = (
        table(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.round(F.avg("value") + 1e-9, 4).alias("avg_value"))
    )
    ev = stream_events(spark, sf)
    joined = ev.join(profile, "user_id").select(
        "event_type",
        (F.col("value") > F.col("avg_value")).alias("above"),
    )
    agg = joined.groupBy("event_type", "above").agg(
        F.count(F.lit(1)).alias("n")
    )
    return run_to_memory(agg, "stream_static_join_sink", "complete")


_STATIC_JOIN_SQL = """
WITH p AS (SELECT user_id, ROUND(AVG(value) + 1e-9, 4) AS avg_value
           FROM events GROUP BY user_id)
SELECT e.event_type, e.value > p.avg_value AS above, COUNT(*) AS n
FROM events e JOIN p ON e.user_id = p.user_id
GROUP BY 1, 2
"""


def stream_sink_parquet(spark: SparkSession, sf: str) -> DataFrame:
    """Checkpointed parquet FILE sink — the production streaming
    output path (memory sinks are test fixtures): events stream →
    projection → exactly-once parquet via checkpointLocation +
    availableNow, then a batch read-back aggregated per event_type.

    Exactly-once is the checkable part: the checkpoint records the
    processed source files, so a SECOND run over the same data adds
    nothing and the per-type counts stay equal to the batch oracle —
    rerun-duplication would double them. Dirs are content-addressed by
    data vintage (same reasoning as the batch sinks). At scale the file
    sink commits atomically per micro-batch via the manifest log; the
    read-back would be partition-pruned on the date column."""
    import os as _os

    from ..util import SCRATCH_DIR, content_tag

    # no incomplete-dir scrub here on purpose: the file sink's
    # _spark_metadata manifest lists only committed files and the
    # checkpoint resumes an interrupted run — crash-safe by design
    tag = content_tag(f"{sf}/events.parquet")
    base = _os.path.join(SCRATCH_DIR, f"stream_sink_{tag}")
    out_dir, ckpt_dir = f"{base}/data", f"{base}/ckpt"

    ev = stream_events(spark, sf).select("event_id", "event_type", "ts", "value")
    q = (
        ev.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(300)
    if q.exception() is not None:
        raise q.exception()
    if not finished:
        # timing out must be LOUD: reading the sink mid-write would
        # return silently short counts against the oracle
        q.stop()
        raise TimeoutError(
            "stream_sink_parquet: availableNow batch did not finish "
            "within 300s; sink left resumable via its checkpoint"
        )
    back = spark.read.parquet(out_dir)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_id").alias("n_distinct_ids"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


_SINK_PARQUET_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_id) AS n_distinct_ids,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY event_type
"""


def stream_dedup_shard(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING incremental shard dedup — dedup_incremental_shard's
    broadcast-probe plan driven from a real Structured Streaming
    foreachBatch over an arriving-shard stream (VERDICT r13 item 6:
    incremental dedup's operational home is ingest). The incoming
    shard (doc_id % 10 = 9, the batch op's carve) is staged as
    doc_id-range-partitioned parquet files and streamed with
    maxFilesPerTrigger=1, so the drain really processes multiple
    micro-batches; each batch runs the never-move-the-corpus probe:

    - the CORPUS fingerprint ledger is materialized ONCE before the
      stream (the batch op's one full scan — at 100 TB the ledger is
      a 32 B/doc fingerprint index that each shard arrival probes);
    - per micro-batch: the batch's fingerprints broadcast against the
      ledger (emitting <= |batch| matched rows — the corpus never
      shuffles), then against the accumulated SEEN ledger of
      fingerprints kept by earlier batches (shard-scale, appended as
      parquet per batch — the operational fingerprint-ledger shape),
      then within-batch keep-min-doc_id; every doc gets exactly one
      outcome (dup_vs_corpus | dup_within | kept) appended to the
      result sink.

    Equivalence to the batch op (the oracle is _INCR_SHARD_SQL, the
    batch op's published SQL, verbatim): keep-FIRST-arrival equals
    the batch keep-MIN-doc_id iff micro-batches arrive in ascending
    doc_id ranges. That precondition is ENFORCED, not assumed (the
    stream_scd2 discipline): foreachBatch records each batch's
    (min_doc, max_doc) on the driver, and a post-drain check raises
    if ranges overlap or arrive out of order, or if the drain
    collapsed into a single batch (which would make the streaming
    claim vacuous). Re-runs are idempotent: the seen/outcome sinks
    are wiped per invocation and the stream runs checkpoint-free over
    the staged files.

    Margin audit (r14): outcomes partition the shard structurally
    (semi/anti complements + rank partition per batch); all counts
    exact int64; fingerprints are md5 strings — no arithmetic.
    Measured live at sf0.01: 50 shard docs over 4 micro-batches →
    6 dup_vs_corpus, 0 dup_within, 44 kept (equal to the batch op
    row-for-row; dup_within's zero is the true value at this sf,
    non-zero at sf0.1)."""
    import os
    import shutil

    from pyspark.sql import functions as SF_

    from ..operators.dedup import _SHARD_MOD, TOKENS
    from ..util import SCRATCH_DIR, content_tag

    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(TOKENS()))))
    docs = table(spark, sf, "documents").select(
        "doc_id", "source", fp.alias("h")
    )
    shard = docs.where(F.col("doc_id") % _SHARD_MOD == _SHARD_MOD - 1)
    corpus = docs.where(F.col("doc_id") % _SHARD_MOD != _SHARD_MOD - 1)

    # scratch keyed by data vintage AND session (ADVICE r14: tag-only
    # naming let two concurrent sessions on the same testdata
    # interleave their append-mode seen/out sinks; the applicationId
    # is unique per SparkSession and stable across bench reps within
    # one session, so reps still reuse the staged input files)
    tag = content_tag(f"{sf}/documents.parquet")
    app = spark.sparkContext.applicationId
    base = os.path.join(SCRATCH_DIR, f"stream_shard_{tag}_{app}")
    in_dir = os.path.join(base, "in")
    ledger_dir = os.path.join(base, "ledger")
    out_dir = os.path.join(base, "out")
    # per-invocation state wipe: out accumulates DURING one drain
    # and must start empty on the next (bench reps, test reruns)
    shutil.rmtree(out_dir, ignore_errors=True)
    # stage the arriving shard as 4 ascending doc_id-range files and
    # the corpus fingerprint ledger (one corpus pass, reused across
    # batches); overwrite keeps the staging in lockstep with the
    # testdata vintage without write-iff-absent bookkeeping.
    # FileStreamSource orders files by MODIFICATION TIME (path only
    # breaks exact ties), so the range files are re-staged one by one
    # with strictly increasing mtimes — part-name order alone left
    # the arrival order to hash-map luck (observed live: batch 0 got
    # range 3, and the post-drain ordering guard below fired)
    import glob
    import time as _time

    tmp_dir = os.path.join(base, "in_tmp")
    shard.repartitionByRange(4, "doc_id").write.mode("overwrite").parquet(
        tmp_dir
    )
    shutil.rmtree(in_dir, ignore_errors=True)
    os.makedirs(in_dir)
    t0 = _time.time() - 3600
    for i, part in enumerate(
        sorted(glob.glob(os.path.join(tmp_dir, "part-*.parquet")))
    ):
        dst = os.path.join(in_dir, f"range{i:02d}.parquet")
        shutil.copyfile(part, dst)
        os.utime(dst, (t0 + 60 * i, t0 + 60 * i))
    shutil.rmtree(tmp_dir, ignore_errors=True)
    corpus.select("h").distinct().write.mode("overwrite").parquet(ledger_dir)

    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )

    def probe(batch_df, batch_id: int) -> None:
        # Per-batch job budget (optimization r16, VERDICT r15 item 6):
        # ONE action per micro-batch — the out-sink write. The pre-r16
        # body ran three (a span-guard collect, the out write, and a
        # second append maintaining a separate `seen` fingerprint
        # sink); the span guard now reads the out sink's own rows
        # post-drain (each row carries its batch id), and the seen
        # ledger IS the out sink filtered to outcome = 'kept' — the
        # same h set the dedicated sink held, read by the NEXT batch
        # only (this batch's append happens after the read, exactly
        # the old ordering).
        rows = batch_df.persist()
        bfp = rows.select("h").distinct()
        ledger = spark.read.parquet(ledger_dir)
        # the ledger is WRITTEN distinct (one row per corpus
        # fingerprint) and a left-semi join cannot duplicate its
        # rows, so the pre-r15 `.distinct()` here was a redundant
        # exchange + aggregate in EVERY micro-batch — dropped
        # (optimization r15, guide §2.4 "a distinct on data that is
        # already unique").
        matched = ledger.join(SF_.broadcast(bfp), "h", "left_semi")
        vs_corpus = rows.join(SF_.broadcast(matched), "h", "left_semi")
        fresh = rows.join(SF_.broadcast(matched), "h", "left_anti")
        if os.path.isdir(out_dir) and any(
            f.endswith(".parquet") for f in os.listdir(out_dir)
        ):
            seen = (
                spark.read.parquet(out_dir)
                .where(SF_.col("outcome") == "kept")
                .select("h")
            )
            dup_prior = fresh.join(SF_.broadcast(seen), "h", "left_semi")
            still = fresh.join(SF_.broadcast(seen), "h", "left_anti")
        else:
            dup_prior = fresh.limit(0)
            still = fresh
        keep = still.groupBy("h").agg(SF_.min("doc_id").alias("doc_id"))
        kept = still.join(keep.select("doc_id"), "doc_id", "left_semi")
        dup_in_batch = still.join(keep.select("doc_id"), "doc_id", "left_anti")
        out = (
            vs_corpus.withColumn("outcome", SF_.lit("dup_vs_corpus"))
            .unionByName(dup_prior.withColumn("outcome", SF_.lit("dup_within")))
            .unionByName(
                dup_in_batch.withColumn("outcome", SF_.lit("dup_within"))
            )
            .unionByName(kept.withColumn("outcome", SF_.lit("kept")))
        ).withColumn("_bid", SF_.lit(int(batch_id)))
        out.write.mode("append").parquet(out_dir)
        rows.unpersist()

    q = (
        stream.writeStream.foreachBatch(probe)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(300)
    if q.exception() is not None:
        raise q.exception()
    if not finished:
        q.stop()
        raise TimeoutError("stream_dedup_shard: drain exceeded 300s")
    # enforce the preconditions the batch-oracle equivalence rests on
    # — from the out sink's own rows (ONE post-drain aggregate instead
    # of a collect job inside every micro-batch; every outcome row
    # carries its micro-batch id, and the outcomes partition the
    # shard, so per-batch (min, max) doc_id here equal the old
    # in-batch span collect exactly)
    res = spark.read.parquet(out_dir)
    batch_spans = [
        (int(r["_bid"]), int(r["lo"]), int(r["hi"]))
        for r in res.groupBy("_bid")
        .agg(SF_.min("doc_id").alias("lo"), SF_.max("doc_id").alias("hi"))
        .collect()
    ]
    if len(batch_spans) < 2:
        raise RuntimeError(
            f"stream_dedup_shard: drain collapsed into "
            f"{len(batch_spans)} micro-batch(es) — the streaming claim "
            "is vacuous; check maxFilesPerTrigger and the staged files"
        )
    spans = sorted(batch_spans)
    for (b0, _, hi0), (b1, lo1, _) in zip(spans, spans[1:]):
        if hi0 >= lo1:
            raise RuntimeError(
                f"stream_dedup_shard: micro-batches {b0} and {b1} "
                f"arrived with overlapping/descending doc_id ranges "
                f"({hi0} >= {lo1}) — keep-first no longer equals the "
                "batch op's keep-min and the result would silently "
                "diverge from the oracle"
            )
    agg = res.groupBy("source").pivot(
        "outcome", ["dup_vs_corpus", "dup_within", "kept"]
    ).count()
    final = agg.select(
        "source",
        (
            F.coalesce("dup_vs_corpus", F.lit(0))
            + F.coalesce("dup_within", F.lit(0))
            + F.coalesce("kept", F.lit(0))
        ).cast("bigint").alias("n_shard"),
        F.coalesce("dup_vs_corpus", F.lit(0)).cast("bigint").alias(
            "n_dup_vs_corpus"
        ),
        F.coalesce("dup_within", F.lit(0)).cast("bigint").alias(
            "n_dup_within"
        ),
        F.coalesce("kept", F.lit(0)).cast("bigint").alias("n_kept"),
    )
    # eager localCheckpoint: the returned frame must not keep a lazy
    # dependency on out_dir — a later invocation wipes it at entry, so
    # a held DataFrame re-evaluated after a re-run would silently read
    # the NEXT drain's files (ADVICE r14). |sources| rows — tiny.
    return final.localCheckpoint()


def _incr_shard_oracle() -> str:
    # the BATCH op's published SQL verbatim — the streaming drain must
    # reproduce it row-for-row (compose-don't-copy)
    from ..operators.dedup import _INCR_SHARD_SQL

    return _INCR_SHARD_SQL


QUERIES: dict[str, QuerySpec] = {
    # r14: incremental shard dedup at ingest (VERDICT r13 item 6)
    "stream_dedup_shard": QuerySpec(
        "stream_dedup_shard", stream_dedup_shard, _incr_shard_oracle()
    ),
    "stream_stream_join": QuerySpec(
        "stream_stream_join", stream_stream_join, _STREAM_JOIN_SQL
    ),
    "stream_sink_parquet": QuerySpec(
        "stream_sink_parquet", stream_sink_parquet, _SINK_PARQUET_SQL
    ),
    "stream_static_join": QuerySpec(
        "stream_static_join", stream_static_join, _STATIC_JOIN_SQL
    ),
    # SURVEY §2.12 id for the streaming-window surface — same streaming
    # execution as stream_tumbling, registered under the inventory key
    "ext_stream_window": QuerySpec(
        "ext_stream_window",
        lambda spark, sf: run_to_memory(
            stream_events(spark, sf)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .select(
                F.col("w.start").alias("bucket_start"),
                "event_type",
                "n_events",
                "sum_value",
            ),
            "ext_stream_window_sink",
            "complete",
        ),
        _TUMBLING_SQL,
    ),
    "stream_tumbling": QuerySpec("stream_tumbling", stream_tumbling, _TUMBLING_SQL),
    "stream_sliding": QuerySpec("stream_sliding", stream_sliding, _SLIDING_SQL),
    "stream_dedup_then_window": QuerySpec(
        "stream_dedup_then_window",
        stream_dedup_then_window,
        """
WITH d AS (SELECT DISTINCT user_id, event_type, ts FROM events)
SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket_start,
       COUNT(*) AS n_unique_events
FROM d GROUP BY 1
""",
    ),
    "stream_session": QuerySpec("stream_session", stream_session, _SESSION_SQL),
    "stream_dedup": QuerySpec("stream_dedup", stream_dedup, _DEDUP_SQL),
    "stream_stateful_user_totals": QuerySpec(
        "stream_stateful_user_totals", stream_stateful_user_totals, _STATEFUL_SQL
    ),
    # r8: streaming SCD2 upsert — oracled against the SAME batch
    # lead()-window SQL as scd2_user_history, so the custom stateful
    # operator is hash-gated end to end, not rows-only
    "stream_scd2": QuerySpec("stream_scd2", stream_scd2, _BATCH_SCD2_SQL),
}
