"""Structured Streaming operators (SURVEY §2.9; reference:
Rest_webservice/app/middleware.py + app/rate_limit.py).

The reference's streaming-shaped components — the per-request append
log (ST1) and the fixed-window rate limiter with key TTL (ST2) — are
expressed as real Structured Streaming jobs: parquet readStream →
windowed aggregation (+ watermark = the reference's ``per*2`` TTL,
app/rate_limit.py:40) → memory sink, driven to completion with an
availableNow trigger so results are deterministic and oracle-checked
against the batch semantics.

Sessionization (ST3's ordered-stateful shape) ships as the batch
window form (lag + gap-cumsum); `session_window` is its streaming
twin.

Scale notes: in production the source is Kafka/files-on-arrival and
the sink is parquet append; state size is bounded by the watermark
horizon exactly like the reference's TTL bounds its bucket dict.
"""

from __future__ import annotations

import os as _os
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.window import Window

from ..operators.multimodal import _gz_corpus_stage, _gz_parse
from ..operators.relational import SCD2_HIST_CTES
from ..plans.hints import bounded_broadcast
from ..registry import query
from ..session import ensure_session_conf, isolated, stage_dir, staged_fixture
from ..sources import load_table
from ..sources.files import decode_files
from ..sources.tables import normalize_events_ts, parquet_schema

_SESSION_GAP_S = 7200  # 2h


def _stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``{sf_dir}/{name}.parquet`` as a streaming source, read with the
    session's memoized parquet schema (the one ``load_table`` reads
    with).  The conf hardening runs here too: a bare driver session
    cannot even read a TIMESTAMP(NANOS) schema probe without
    nanosAsLong.  The table path itself is streamed (a single file or a
    directory of part files both work); a pathGlobFilter on the parent
    dir would match only a literal single-file name and silently stream
    zero rows if the driver ever ships a directory."""
    ensure_session_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    return (
        spark.readStream.schema(parquet_schema(spark, path))
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a streaming source.  The probe and the stream
    share one physical-form normalization (:func:`normalize_events_ts`),
    so batch and stream cannot diverge when the driver regenerates
    testdata with a different ``ts`` encoding (bigint-nanos / NTZ / TZ
    have all shipped)."""
    return normalize_events_ts(_stream_table(spark, sf_dir, "events"))


# State-store partition count for KEYSPACE-BOUNDED stateful streams.
_STATE_PARTS_DEFAULT = 4
# The conf such a stream runs with: its state-store partition count as
# ``spark.sql.shuffle.partitions``, set in the private clone
# :func:`_run_to_memory` drains it in.
#
# A stateful streaming aggregation runs one state-store partition per
# shuffle partition, fixed at first start (AQE never coalesces stateful
# streams), and EVERY partition pays a fixed per-micro-batch cost —
# provider init, delta file write, fsync, maintenance — regardless of
# how many rows it holds.  At sf0.01 on local[4] (min of 3), 32
# partitions against 4 cost stream_sliding_window 0.88 s vs 0.54 s,
# stream_topk_per_window 1.06 s vs 0.57 s and stream_bitmap_overlap
# 3.44 s vs 1.98 s.
#
# Callers opt in ONLY where state is bounded by a small KEYSPACE
# (|event types|, |windows in horizon| x |types|, |audience|/63 bitmap
# words ...), never by input or user count — so the same small number
# stays right at 100 TB, where these states are still keyspace-sized.
# User/id-scaled state (per-user sessions, dedup ids, stream-stream
# join buffers) keeps the session default, which scales with the
# cluster.
_STATE_CONFS = {"spark.sql.shuffle.partitions": str(_STATE_PARTS_DEFAULT)}


def start_memory_sink(
    df: DataFrame,
    tag: str,
    mode: str = "complete",
    *,
    available_now: bool = False,
    checkpoint: str | None = None,
):
    """Start ``df`` streaming into a memory sink in output ``mode`` (an
    availableNow trigger if ``available_now``, else the default one;
    ``checkpoint`` is an explicit checkpointLocation) and return the
    running StreamingQuery and the sink as a DataFrame.

    Every call names its query ``{tag}_sink_{random}``, so concurrent
    calls on one session never collide on an active query name or on a
    temp view.  The view the memory sink registers under that name is
    dropped at once: the returned frame is bound to the sink itself,
    still reads it without the view, and, planned when it runs, sees
    every row the query has added by then."""
    name = f"{tag}_sink_{uuid.uuid4().hex}"
    writer = df.writeStream.outputMode(mode).format("memory").queryName(name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    spark = df.sparkSession
    sink = spark.table(name)
    spark.catalog.dropTempView(name)
    return q, sink


def _run_to_memory(
    df: DataFrame, tag: str, mode: str = "complete", confs: dict[str, str] | None = None
):
    """Drain ``df`` into a per-call memory sink (:func:`start_memory_sink`)
    in output ``mode`` with an availableNow trigger.  Without ``confs``
    the stream runs in the caller's session, so the caller's
    StreamingQueryListeners see its progress; with ``confs`` it runs in
    ``isolated(df.sparkSession, confs)``, so the caller's conf is never
    written.  Returns the terminated StreamingQuery (tests assert its
    progress metrics, e.g. stateOperators.numShufflePartitions) and the
    sink, bound as a DataFrame of the session that ran the stream."""
    if confs:
        spark = isolated(df.sparkSession, confs)
        plan = df._jdf.logicalPlan()
        df = DataFrame(
            spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, plan),
            spark,
        )
    q, sink = start_memory_sink(df, tag, mode, available_now=True)
    q.awaitTermination()
    return q, sink


def _stage_batches(stage: str, batches, first: int = 0) -> list[int]:
    """Stage each of ``batches`` as micro-batch ``first + i``: one
    parquet file under ``{stage}/b{first + i}``.  The writes are
    independent jobs and run concurrently, so later writes back-fill
    executors freed by an earlier one's tail; each file is then stamped
    with arrival time ``first + i`` (the file source orders new files
    by modification time).  Returns each batch's row count, measured by
    ``observe`` on the write itself, so no extra job counts them."""
    obs = [Observation() for _ in batches]

    def write(i: int) -> None:
        batches[i].observe(obs[i], F.count(F.lit(1)).alias("n")).coalesce(1).write.parquet(
            f"{stage}/b{first + i}"
        )

    with ThreadPoolExecutor(len(batches)) as pool:
        list(pool.map(write, range(len(batches))))
    for i in range(first, first + len(batches)):
        for f in _os.listdir(f"{stage}/b{i}"):
            _os.utime(f"{stage}/b{i}/{f}", (1_000_000 + i * 100,) * 2)
    return [o.get["n"] for o in obs]


def _staged_stream(spark: SparkSession, schema, stage: str) -> DataFrame:
    """The batches staged under ``stage`` as a file stream that reads
    one file per trigger, in arrival order."""
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )


@query(
    "stream_window_counts",
    oracle="""
    SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS window_start,
           user_id, COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window per-user counts as a real streaming job
    (ST1/ST2; ref app/rate_limit.py:31-53).  availableNow drains the
    source and terminates, so the complete-mode result equals the
    batch window aggregation — which is exactly the oracle."""
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "2 days")
    agg = ev.groupBy(F.window("ts", "1 day"), "user_id").agg(F.count(F.lit(1)).alias("n"))
    _, out = _run_to_memory(agg, "stream_window_counts")
    return out.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start"),
        "user_id",
        "n",
    )


@query(
    "stream_type_totals",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 3) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-type totals as a streaming aggregation (ST1 metrics
    over the request log; ref app/middleware.py:18-29)."""
    ev = _stream_events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 3)
        .cast("double")
        .alias("total_value"),
    )
    return _run_to_memory(agg, "stream_type_totals", confs=_STATE_CONFS)[1]


@query(
    "sessionize",
    oracle=f"""
    WITH l AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev IS NULL
                  OR CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(prev)) AS BIGINT)
                     > {_SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS new_sess
      FROM l
    ),
    sessions AS (
      SELECT user_id, event_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           COUNT(DISTINCT session_id) AS n_sessions,
           CAST(MAX(cnt) AS BIGINT) AS max_session_events
    FROM (
      SELECT user_id, session_id, COUNT(*) AS cnt
      FROM sessions GROUP BY user_id, session_id
    ) GROUP BY user_id
    """,
    bench=True,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap > 2h starts a new session (lag + cumulative
    sum — the batch form of ST3's per-key ordered state; streaming
    twin is session_window/applyInPandasWithState)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = (
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > _SESSION_GAP_S
            ),
            1,
        ).otherwise(0)
    )
    sess = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_id"),
    )
    per_sess = sess.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("cnt"))
    # (user_id, session_id) is per_sess's grouping key, so a plain
    # count IS the distinct-session count — countDistinct here would
    # buy an Expand + two-phase distinct agg for nothing
    return per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("cnt").cast("bigint").alias("max_session_events"),
    )


@query(
    "stream_stateful_rate_limit",
    oracle="""
    WITH per_day AS (
      SELECT user_id, date_trunc('day', ts) AS d, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           COUNT(*) AS n_days,
           CAST(SUM(LEAST(n, 5)) AS BIGINT) AS n_allowed,
           CAST(SUM(GREATEST(n - 5, 0)) AS BIGINT) AS n_rejected
    FROM per_day GROUP BY user_id
    """,
)
def q_stream_stateful_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key custom stateful operator: the reference's token-bucket
    rate limiter (app/rate_limit.py:31-53 — fixed day window, burst=5)
    as ``applyInPandasWithState`` over a streaming source (SURVEY ST2/
    ST3/U-surface).  Counts are order-insensitive, so the single
    availableNow batch makes the result deterministic and equal to the
    batch-SQL oracle.

    At scale the state store holds one small dict per active user,
    evicted by watermark/timeout — the streaming twin of the
    reference's ``per*2`` TTL.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = _stream_events(spark, sf_dir).select("user_id", "ts")

    def limiter(key, pdfs, state):
        import pandas as pd

        burst = 5
        counts: dict = dict(zip(*state.get)) if state.exists else {}
        for pdf in pdfs:
            days = pdf["ts"].dt.floor("D").astype("int64")
            # value_counts: one C-side pass, one dict update per
            # DISTINCT day — not one interpreted iteration per event
            for d, c in days.value_counts().items():
                counts[d] = counts.get(d, 0) + int(c)
        state.update((list(counts.keys()), list(counts.values())))
        n_allowed = sum(min(c, burst) for c in counts.values())
        n_rejected = sum(max(c - burst, 0) for c in counts.values())
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_days": [len(counts)],
                "n_allowed": [n_allowed],
                "n_rejected": [n_rejected],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        limiter,
        outputStructType="user_id BIGINT, n_days BIGINT, n_allowed BIGINT, n_rejected BIGINT",
        stateStructType="days ARRAY<BIGINT>, counts ARRAY<BIGINT>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _, sink = _run_to_memory(out, "stream_stateful_rl", "update")
    # the update-mode memory sink APPENDS one cumulative row per key
    # per micro-batch; keep only each user's final (largest-total) row
    # so the result is correct even when the source splits into
    # multiple batches (n_allowed + n_rejected is the strictly
    # increasing total processed)
    return (
        sink.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_days", "n_allowed", "n_rejected"),
                F.col("n_allowed") + F.col("n_rejected"),
            ).alias("s")
        )
        .select("user_id", "s.n_days", "s.n_allowed", "s.n_rejected")
    )


def _tws_available() -> bool:
    """transformWithStateInPandas needs protobuf in the streaming
    Python runner; this sandbox ships pyspark without it.  Probed at
    import (same contract as the cv2/pydicom codec probes): when the
    environment gains protobuf, the query registers and joins the
    oracle gate automatically."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


_TWS_ORACLE = """
    SELECT user_id,
           COUNT(*) AS n_events,
           MAX(value) AS max_value,
           CAST(MIN(event_id) AS BIGINT) AS first_event_id
    FROM events GROUP BY user_id
    """


def q_stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key arbitrary state via ``transformWithStateInPandas`` —
    Spark 4's successor to applyInPandasWithState (typed state
    primitives, timers, state TTL): a per-user running profile held in
    a ValueState struct and updated per micro-batch.

    Outputs are all order-insensitive (count / max / min), so the
    availableNow drain equals the batch aggregate — which is exactly
    the oracle.  At scale this is the canonical streaming-profile
    operator: one state row per active key in the state store,
    updated in place, no re-aggregation of history.

    Registered only when the runtime supports it (see
    :func:`_tws_available`); applyInPandasWithState covers the same
    ST3 surface unconditionally via ``stream_stateful_rate_limit``."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserProfile(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "profile", "n BIGINT, mx DOUBLE, first_id BIGINT"
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            n, mx, first_id = 0, None, None
            if self._st.exists():
                n, mx, first_id = self._st.get()
            for pdf in rows:
                n += len(pdf)
                bmx = float(pdf["value"].max())
                bid = int(pdf["event_id"].min())
                mx = bmx if mx is None else max(mx, bmx)
                first_id = bid if first_id is None else min(first_id, bid)
            self._st.update((n, mx, first_id))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "max_value": [mx],
                    "first_event_id": [first_id],
                }
            )

        def close(self) -> None:
            pass

    ev = _stream_events(spark, sf_dir).select("user_id", "event_id", "value")
    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserProfile(),
        outputStructType=(
            "user_id BIGINT, n_events BIGINT, max_value DOUBLE, first_event_id BIGINT"
        ),
        outputMode="Update",
        timeMode="None",
    )
    # transformWithState requires the RocksDB state store
    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    _, sink = _run_to_memory(
        out, "stream_tws", "update",
        confs={"spark.sql.streaming.stateStore.providerClass": rocksdb},
    )
    # update-mode memory sink appends per-batch cumulative rows: keep
    # each user's final row (largest n_events) for multi-batch safety
    return (
        sink.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "max_value", "first_event_id"), F.col("n_events")
            ).alias("s")
        )
        .select("user_id", "s.n_events", "s.max_value", "s.first_event_id")
    )


if _tws_available():
    query("stream_transform_with_state", oracle=_TWS_ORACLE)(
        q_stream_transform_with_state
    )


@query(
    "stream_etl_append",
    # the sink-read-back per-type counts must equal the batch counts —
    # any dropped/duplicated append breaks the row values, so this is
    # a full value oracle for the exactly-once file sink.
    oracle="SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
)
def q_stream_etl_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ETL to a file sink (SURVEY S6/ST1: the per-request
    append log): parquet stream -> projection/enrichment -> parquet
    append sink with checkpoint (exactly-once via the commit log),
    then read the sink back.  availableNow drains and stops."""
    base = stage_dir(spark, "stream_etl", sf_dir)
    ev = _stream_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
    )
    q = (
        ev.writeStream.format("parquet")
        .option("path", base + "/data")
        .option("checkpointLocation", base + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(base + "/data")
    return back.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@query(
    "stream_session_window",
    oracle=f"""
    WITH l AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM events
    ),
    marked AS (
      -- EXACT-microsecond gap rule (session_window merges on the raw
      -- timestamps): flooring to whole seconds first would misclassify
      -- a fractional-second gap straddling the boundary
      SELECT user_id, ts,
             CASE WHEN prev IS NULL
                  OR epoch_us(ts) - epoch_us(prev) >= {_SESSION_GAP_S} * 1000000::BIGINT
                  THEN 1 ELSE 0 END AS new_sess
      FROM l
    )
    SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions
    FROM marked GROUP BY user_id
    """,
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows in Structured Streaming (SURVEY §2.9
    'absent' row): ``session_window(ts, gap)`` merges events closer
    than the gap into one window — the built-in form of the
    lag+cumsum sessionization, checked against that batch oracle.
    Note the boundary convention: session_window treats a gap of
    exactly ``gap`` as a NEW session (window is [start, start+gap)),
    so the oracle uses ``>=``."""
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "30 days")
    agg = ev.groupBy(F.session_window("ts", "2 hours"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    _, out = _run_to_memory(agg, "stream_session_window")
    return out.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))


@query(
    "stream_stream_join",
    oracle="""
    SELECT v.user_id, COUNT(*) AS n_attributed
    FROM events v JOIN events p
      ON p.user_id = v.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    GROUP BY v.user_id
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (SURVEY §2.9 'absent' row): view
    events joined to purchase events of the same user within one hour
    — the classic attribution join.  Both sides carry watermarks and
    the join has an event-time range condition, which is what bounds
    the join state (views older than watermark + 1h are evicted);
    the availableNow drain makes the result equal the batch
    range-join oracle.  The per-user count runs as a batch agg over
    the joined sink (chained stateful ops kept out of the hot path)."""
    ev = _stream_events(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "30 days")
    )
    buys = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "30 days")
    )
    joined = views.join(
        buys,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    _, out = _run_to_memory(joined, "stream_stream_join", "append")
    return out.groupBy(F.col("v_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_attributed")
    )


@query(
    "stream_dedup_exactly_once",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_unique,
           CAST(COUNT(*) * 2 AS BIGINT) AS n_delivered
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once restoration over an at-least-once stream: the
    source is read TWICE and unioned (every event delivered 2x — the
    classic retry/replay duplication), then
    ``dropDuplicatesWithinWatermark`` on the event key keeps one copy
    per key while the watermark bounds the dedup state (keys older
    than the delay are evicted — the streaming analog of the dedup
    suite's exact pass, and the rate limiter's TTL pattern,
    app/rate_limit.py:40).

    The oracle asserts both sides of the contract: per-type unique
    counts equal the batch table, and the delivered count is exactly
    2x.  The delivered side is MEASURED, not derived: ``df.observe``
    on the pre-dedup union counts rows as the stream actually flows
    (summed over micro-batches from the query progress), so a source
    that failed to replay — or a dedup that dropped too much — makes
    the oracle comparison fail instead of being self-confirming.
    Scale shape: state is one key per event within the watermark
    horizon, partitioned by key — the standard streaming-ETL dedup
    stage in front of an append sink.

    Determinism contract: the staged source is a single file, so
    availableNow delivers everything in ONE micro-batch and no replica
    can arrive after the watermark evicted its key's state.  In a
    multi-batch deployment (Kafka, file-per-trigger) the exact-2x
    property holds only for replicas arriving within the watermark
    delay — which is precisely the documented semantics of
    dropDuplicatesWithinWatermark, not a bug, but the exact equality
    this oracle asserts depends on the single-batch drain."""
    s1 = _stream_events(spark, sf_dir)
    s2 = _stream_events(spark, sf_dir)
    dup = (
        s1.unionByName(s2)
        .observe("delivered", F.count(F.lit(1)).alias("n"))
        .withWatermark("ts", "2 days")
    )
    clean = dup.dropDuplicatesWithinWatermark(["event_id"])
    q, out = _run_to_memory(clean, "stream_dedup", "append")
    delivered_total = sum(
        p.observedMetrics["delivered"].n
        for p in q.recentProgress
        if "delivered" in p.observedMetrics
    )
    n_unique_total = out.count()
    # distribute the observed global count across types proportionally
    # to uniques (the replay is uniform 2x, so per-type delivered =
    # uniques * observed_total / unique_total — exactly 2x when the
    # stream really delivered everything twice)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique"),
        (F.count(F.lit(1)) * F.lit(int(delivered_total)) / F.lit(int(n_unique_total)))
        .cast("bigint")
        .alias("n_delivered"),
    )


@query(
    "stream_late_data_drop",
    # The emitted set is exactly: on-time rows, in windows closed by
    # the watermark the on-time batch established.  Late rows never
    # pollute closed windows, and open windows are never emitted.
    oracle="""
    -- the emission watermark is established AFTER the bridge batch,
    -- so it derives from on-time UNION bridge rows — deriving it from
    -- on-time rows alone is only equal when the globally-latest event
    -- happens to be on-time (a data accident, not a guarantee)
    WITH b1 AS (SELECT * FROM events WHERE event_id % 4 <> 0),
    md AS (SELECT MAX(CAST(ts AS DATE)) AS d FROM events),
    bridge AS (
      SELECT e.* FROM events e, md
      WHERE e.event_id % 4 = 0 AND CAST(e.ts AS DATE) >= md.d - 1
    ),
    wm AS (
      SELECT MAX(ts) - INTERVAL 2 DAY AS w
      FROM (SELECT ts FROM b1 UNION ALL SELECT ts FROM bridge)
    )
    SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS window_start,
           event_type, COUNT(*) AS n
    FROM b1, wm
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm.w
    GROUP BY 1, 2
    """,
)
def q_stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics, end to end: events arrive in
    three micro-batches (the bulk on time, a small bridge batch, then
    every 4th event replayed *late*), and the windowed aggregation
    must (a) finalize windows once the watermark passes them, (b)
    drop the late replays instead of resurrecting closed windows.

    Spark applies the watermark computed after batch N-1 to filter
    batch N, so the drop needs three batches to observe: batch 0
    establishes max event time, batch 1 activates the watermark,
    batch 2's late rows hit it (state-store metric
    numRowsDroppedByWatermark > 0, asserted in tests).

    Scale shape: this is the bounded-state contract that makes
    streaming aggregation viable at all — state is O(windows inside
    the watermark horizon), not O(stream history); the staged
    file-per-trigger source stands in for Kafka partitions.
    """
    ev = load_table(spark, sf_dir, "events")
    stage = stage_dir(spark, "late_drop", sf_dir)
    on_time = ev.filter(F.col("event_id") % 4 != 0)
    late = ev.filter(F.col("event_id") % 4 == 0)
    # the bridge batch: late-file rows that are still above the
    # watermark (they keep it stationary while activating it).
    # Split on whole DATES, not dayofmonth — a fixture spanning a
    # month boundary would make dayofmonth non-monotonic.
    max_date = ev.agg(F.max(F.to_date("ts"))).collect()[0][0]
    bridge_cut = F.date_sub(F.lit(max_date), 1)
    batches = (
        on_time,
        late.filter(F.to_date("ts") >= bridge_cut),
        late.filter(F.to_date("ts") < bridge_cut),
    )
    # stage only the columns the stream consumes (round 15, guide §2.3
    # — the event_id split keys are consumed by the batch-side filters
    # above, BEFORE staging): the windowed count needs (ts, event_type)
    # and the late-drop metric counts rows, not columns
    stage_cols = ("ts", "event_type")
    _stage_batches(stage, [df.select(*stage_cols) for df in batches])
    stream = _staged_stream(spark, ev.select(*stage_cols).schema, stage)
    agg = (
        stream.withWatermark("ts", "2 days")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # (window x type) state is keyspace-bounded: right-size the state
    # store partitions (see _state_confs)
    q, out = _run_to_memory(agg, "stream_late_drop", "append", confs=_STATE_CONFS)
    # expose the drop metric for tests without changing the schema
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in q.recentProgress
    )
    spark.conf.set("bd3.stream_late_drop.dropped", str(dropped))
    return out.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start"),
        "event_type",
        "n",
    )


@query(
    "stream_foreachbatch_upsert",
    # The final upserted table state equals the batch aggregation no
    # matter how many micro-batches delivered the rows — that identity
    # IS the oracle.
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 3) AS DOUBLE) AS total
    FROM events GROUP BY event_type
    """,
)
def q_stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE sink: per micro-batch, foreachBatch merges the
    batch's partial aggregate into a keyed parquet target
    (read-merge-overwrite — the poor man's MERGE INTO; on a lakehouse
    table the body becomes one ``MERGE`` statement).  Three staged
    micro-batches deliver disjoint event slices, so the target is
    genuinely built incrementally, and the final state must equal the
    one-shot batch aggregate regardless of batch boundaries — the
    idempotent-upsert contract that makes streaming ETL restartable.

    Scale shape: each merge touches only the keys present in the
    batch (group counts), not the stream history; state lives in the
    target table, not executor memory.
    """
    import os
    import shutil

    ev = load_table(spark, sf_dir, "events")
    base = stage_dir(spark, "upsert", sf_dir)
    stage, target = f"{base}/in", f"{base}/target"
    _stage_batches(stage, [ev.filter(F.col("event_id") % 3 == i) for i in range(3)])

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        delta = batch.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_d"),
        )
        if os.path.exists(target):
            cur = sess.read.parquet(target)
            merged = (
                cur.unionByName(delta)
                .groupBy("event_type")
                .agg(
                    F.sum("n").cast("bigint").alias("n"),
                    F.sum("total_d").alias("total_d"),
                )
            )
        else:
            merged = delta
        # overwrite must not read-while-write: materialize to a tmp
        # dir then swap (the classic commit dance MERGE INTO replaces)
        tmp = f"{target}.next"
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(target, ignore_errors=True)
        os.rename(tmp, target)

    stream = _staged_stream(spark, ev.schema, stage)
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    spark.conf.set("bd3.upsert.n_batches", str(n_batches))
    out = spark.read.parquet(target)
    return out.select(
        "event_type", "n", F.round("total_d", 3).cast("double").alias("total")
    )


@query(
    "stream_sliding_window",
    oracle="""
    WITH g AS (
      SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events
    ),
    w AS (
      SELECT event_type, es,
             (es // 172800) * 172800 - k.k * 172800 AS ws
      FROM g CROSS JOIN (VALUES (0), (1)) k(k)
    )
    SELECT ws AS window_start, event_type, COUNT(*) AS n
    FROM w
    WHERE es >= ws AND es < ws + 345600
    GROUP BY 1, 2
    """,
)
def q_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windowed streaming aggregation: 4-day windows
    every 2 days, per event type (ST2's tumbling form generalized —
    each event lands in exactly 2 overlapping windows).

    Spark aligns sliding-window starts to epoch multiples of the slide
    interval; the oracle restates that alignment in integer epoch
    seconds (2 candidate window starts per event, filtered to
    containment) so both engines share one window rule.  State is
    bounded by the 2-day watermark exactly as in the tumbling case.
    """
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "2 days")
    agg = ev.groupBy(F.window("ts", "4 days", "2 days"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    _, out = _run_to_memory(agg, "stream_sliding_window", confs=_STATE_CONFS)
    return out.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start"),
        "event_type",
        "n",
    )


@query(
    "stream_chained_agg",
    # Append mode emits only watermark-closed windows: both stages
    # share the final watermark (max ts - 2 days), so the oracle is
    # the two-level batch aggregation restricted to closed days.
    oracle="""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 2 DAY AS w FROM events),
    s1 AS (
      SELECT date_trunc('day', ts) AS ws, user_id, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(epoch(ws) AS BIGINT) AS window_start,
           COUNT(*) AS n_active_users,
           CAST(MAX(n) AS BIGINT) AS max_user_events,
           CAST(SUM(n) AS BIGINT) AS total_events
    FROM s1, wm
    WHERE ws + INTERVAL 1 DAY <= wm.w
    GROUP BY 1
    """,
)
def q_stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming aggregations (Spark 4: multiple
    stateful operators in one append-mode query): per-(day, user)
    counts re-aggregated per day — grouping the second stage on the
    first stage's window column propagates event time through both
    state stores.

    Both stages finalize under one watermark, so availableNow drains
    to exactly the closed-day two-level aggregate — which is the
    oracle.  This is the streaming form of the daily-rollup-then-
    summary pattern that otherwise needs a second batch job over the
    sink.
    """
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "2 days")
    s1 = ev.groupBy(F.window("ts", "1 day"), "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    s2 = s1.groupBy("window").agg(
        F.count(F.lit(1)).alias("n_active_users"),
        F.max("n").cast("bigint").alias("max_user_events"),
        F.sum("n").cast("bigint").alias("total_events"),
    )
    _, out = _run_to_memory(s2, "stream_chained_agg", "append")
    return out.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start"),
        "n_active_users",
        "max_user_events",
        "total_events",
    )


@query(
    "stream_union_sources",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source streaming: two independent file sources (odd /
    even event ids staged to separate directories — the two-Kafka-
    cluster topology) unioned into ONE streaming aggregation.

    Each source keeps its own offset tracking; the union is
    transparent to the aggregation state.  availableNow drains both,
    so the complete-mode result equals the batch aggregate over the
    union — which the oracle states over the original table.
    """
    ev = load_table(spark, sf_dir, "events")

    def write_legs(stage: str) -> None:
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{stage}/odd")
        ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{stage}/even")

    stage = staged_fixture(spark, "union_src", write_legs, sf_dir)
    schema = ev.schema
    s_odd = spark.readStream.schema(schema).parquet(f"{stage}/odd")
    s_even = spark.readStream.schema(schema).parquet(f"{stage}/even")
    both = s_odd.unionByName(s_even)
    # COUNT(DISTINCT) isn't allowed in streaming aggregations, so the
    # per-type user set rides in state (bounded by users-per-type) and
    # is sized at read-back.
    agg = both.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.collect_set("user_id").alias("users"),
    )
    _, out = _run_to_memory(agg, "stream_union_sources", confs=_STATE_CONFS)
    return out.select(
        "event_type", "n", F.size("users").cast("bigint").alias("n_users")
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,2))), 3) AS DOUBLE) AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static-dimension enrichment (the canonical streaming
    topology Spark documents as stream-static join: each micro-batch
    joins against the latest snapshot of the batch side).

    The static customer dim joins into every micro-batch (broadcast
    while it fits, shuffled when it outgrows the threshold) —
    stateless, no watermark needed on either side (unlike
    stream-stream), so at 100 TB/day ingest the only state is the
    windowless aggregation itself.  Oracle = the same join in batch
    SQL, which availableNow + complete mode must reproduce exactly.
    """
    ev = _stream_events(spark, sf_dir)
    # no forced broadcast: the planner broadcasts the dim while it fits
    # the threshold and falls back to a shuffled stream-static join when
    # the customer dim outgrows it at scale
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(cust, ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 3)
        .cast("double")
        .alias("total_value"),
    )
    return _run_to_memory(agg, "stream_static_join", confs=_STATE_CONFS)[1]


@query(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` (Spark 4's bounded-state dedup):
    the doubled stream (self-union = an at-least-once replay) collapses
    back to exactly-once counts, with state expiring at the watermark
    horizon instead of growing with the full key history — the fix for
    the unbounded-state problem of plain ``dropDuplicates`` on an
    infinite stream.

    Unlike ``dropDuplicates``, the within-watermark variant admits a
    duplicate whose event time differs — matching at-least-once
    transports, where the replayed record carries the same payload.

    Determinism contract (same as stream_dedup_exactly_once): the
    single-file staged source drains in one availableNow batch, so
    every replica lands before any state eviction; multi-batch
    transports only guarantee dedup within the watermark delay.
    """
    ev = _stream_events(spark, sf_dir)
    doubled = ev.unionByName(ev)
    deduped = (
        doubled.withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return _run_to_memory(agg, "stream_dedup_ww")[1]


TOPK_PER_WINDOW = 3


@query(
    "stream_topk_per_window",
    oracle=f"""
    WITH c AS (
      SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS window_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT window_start, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n DESC, event_type) AS rk
      FROM c
    )
    SELECT window_start, event_type, n, CAST(rk AS INTEGER) AS rk
    FROM r WHERE rk <= {TOPK_PER_WINDOW}
    """,
)
def q_stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-now: top-3 (TOPK_PER_WINDOW) event types per tumbling
    day window.  The streaming job maintains the per-(window, type)
    counts — the only state that must live in the stream — and the
    rank is applied OVER THE SINK, the standard two-tier topology for
    streaming top-k (rank inside the stream would need complete-mode
    rescans of all state every trigger; ranking the compact sink
    table costs one window over #types rows per day).

    Ties break by event_type so the result is deterministic and
    exactly equals the batch rank — the oracle.

    Scale: stream state is O(windows_in_watermark x #types); the sink
    rank is a per-window window function over a few rows per window,
    never a global sort."""
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "2 days")
    agg = ev.groupBy(F.window("ts", "1 day"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    _, sink = _run_to_memory(agg, "stream_topk_window", confs=_STATE_CONFS)
    w = Window.partitionBy("window").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        sink.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPK_PER_WINDOW)
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n",
            "rk",
        )
    )


@query(
    "stream_stream_outer_join",
    oracle="""
    SELECT v.user_id,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN p.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unattributed,
           CAST(SUM(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_attributed
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = v.user_id AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    GROUP BY v.user_id
    """,
)
def q_stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: every view either attributes to
    a purchase within 1 hour or emits with NULLs once the watermark
    proves no match can still arrive — the semantic the inner join
    can't give (unconverted views are usually the rows the funnel
    team wants).

    Outer results only materialize when the watermark passes
    v_ts + 1h, so the staged source appends two sentinel batches far
    past the real data; each batch's watermark is computed from the
    PREVIOUS batch, hence two.  The sentinels are typed view/purchase
    with user_id = -1 (not a distinct type: Catalyst pushes the
    event-type filters below the watermark operator, so a row of any
    other type would never reach either watermark — found the hard
    way) and are dropped after the join.  With the state fully
    flushed, the result equals the batch left join — the oracle.

    Scale: state is bounded by watermark + the 1h join range exactly
    like the inner form; the 1-hour delay (vs the inner join's lazy
    30 days) is what a production attribution pipeline would run,
    trading reorder tolerance for result latency."""
    ev = load_table(spark, sf_dir, "events")
    stage = stage_dir(spark, "outer_join", sf_dir)
    mx = ev.agg(F.max("ts").alias("m"))

    def sentinel(days: int) -> DataFrame:
        one = mx.select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("m") + F.expr(f"INTERVAL {days} DAYS")).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("view").alias("event_type"),
            F.lit(0.0).cast("double").alias("value"),
            F.lit("{}").alias("props"),
        )
        return one.unionByName(
            one.withColumn("event_type", F.lit("purchase"))
        ).select(*ev.columns)

    _stage_batches(stage, [ev, sentinel(30), sentinel(90)])
    stream = _staged_stream(spark, ev.schema, stage)
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    buys = (
        stream.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        buys,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    )
    _, out = _run_to_memory(joined, "stream_stream_outer", "append")
    out = out.filter(F.col("v_user") >= 0)
    return out.groupBy(F.col("v_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("p_user").isNull().cast("int")).cast("bigint").alias("n_unattributed"),
        F.sum(F.col("p_user").isNotNull().cast("int")).cast("bigint").alias("n_attributed"),
    )


@query(
    "stream_restart_recovery",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 3) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def q_stream_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across a crash: a streaming aggregation processes
    ONE micro-batch, is stopped (the simulated failure), and a NEW
    query restarts from the same checkpointLocation — the state store
    restores the partial aggregate and the file-source offsets resume
    at batch 2, so the drained result equals the batch aggregate with
    no loss and no double counting.  This is the recovery contract
    that makes streaming pipelines operable at all; the oracle is the
    plain batch aggregation the recovered stream must reproduce.

    The stop polls for the first progress with rows (phase 1 commits
    one or two staged files depending on timing — either is a valid
    crash point); the LAST third of the data is only staged AFTER the
    stop, so the restarted query always has at least one new batch to
    drive its complete-mode output (an availableNow restart with
    nothing new can legally run zero batches and emit nothing).
    """
    import time

    ev = load_table(spark, sf_dir, "events")
    base = stage_dir(spark, "restart", sf_dir)
    stage, ckpt = f"{base}/stage", f"{base}/ckpt"
    mx = ev.agg(F.max("event_id").alias("m")).collect()[0][0]
    cuts = ((0, mx // 3), (mx // 3, 2 * mx // 3), (2 * mx // 3, mx + 1))

    batches = [ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)) for lo, hi in cuts]
    _stage_batches(stage, batches[:2])

    def agg_stream() -> DataFrame:
        s = _staged_stream(spark, ev.schema, stage)
        return s.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("tv"),
        )

    # not _run_to_memory: both runs share an explicit checkpointLocation
    # and the first is stopped mid-stream
    q1, _ = start_memory_sink(agg_stream(), "restart_recovery_phase1", checkpoint=ckpt)
    # Poll recentProgress (cumulative history), not lastProgress: a
    # trailing no-data batch overwrites lastProgress with numInputRows=0
    # and a lastProgress-only poll would then burn the whole timeout
    # even though a data batch already committed.
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q1.recentProgress):
            break
        time.sleep(0.2)
    q1.stop()
    q1.awaitTermination()

    # the held-back final third arrives only now — the restart always
    # has fresh data to trigger its complete-mode output
    _stage_batches(stage, batches[2:], first=2)

    q2, sink = start_memory_sink(
        agg_stream(), "restart_recovery", available_now=True, checkpoint=ckpt
    )
    q2.awaitTermination()
    return sink.select(
        "event_type",
        "n",
        F.round(F.col("tv"), 3).cast("double").alias("total_value"),
    )


@query(
    "stream_pit_enrich",
    oracle=f"""
    -- streaming point-in-time enrichment must equal the batch PIT
    -- join: per effective priority version, order count and revenue
    WITH {SCD2_HIST_CTES}
    SELECT h.priority AS effective_priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))), 3) AS DOUBLE) AS total_price
    FROM orders o
    JOIN hist h
      ON h.custkey = o.o_custkey
     AND o.o_orderdate >= h.valid_from
     AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
    GROUP BY 1
    """,
    exchanges=0,  # broadcast history into each micro-batch
)
def q_stream_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time enrichment — the feature-store lookup
    run ON THE STREAM: order facts arrive as a file stream and each
    micro-batch joins the STATIC SCD2 priority history on
    (custkey, half-open validity interval), so every fact picks the
    dimension version valid at ITS OWN event date, not today's.  This
    is the stream-static join with a non-equi temporal condition —
    stateless (the static side is just re-broadcast per micro-batch),
    no watermark needed, and the enriched aggregate must equal the
    batch PIT join, which is exactly what the oracle states.

    At 100 TB the history is change-rate-sized (tiny vs the stream);
    it broadcasts into every micro-batch and the stream side never
    shuffles before enrichment.  The broadcast is a stated contract,
    not a law: if the dimension outgrows executor memory (every
    customer churning priority), the scale path is to snapshot the
    history bucketed by custkey and run the enrichment as a bucketed
    stream-static join (or keep current-version state in the state
    store via transformWithState) — hence bounded_broadcast, which the
    discipline gate pins per call site."""
    from ..operators.relational import customer_priority_history

    orders_stream = _stream_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    hist = customer_priority_history(spark, sf_dir)
    enriched = orders_stream.join(
        bounded_broadcast(
            hist,
            "SCD2 history is change-rate-sized, not fact-sized; at dim scale "
            "switch to a custkey-bucketed join or state-store enrichment",
        ),
        (orders_stream.o_custkey == hist.custkey)
        & (orders_stream.o_orderdate >= hist.valid_from)
        & (hist.valid_to.isNull() | (orders_stream.o_orderdate < hist.valid_to)),
    )
    agg = enriched.groupBy(F.col("priority").alias("effective_priority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(14,2)")), 3)
        .cast("double")
        .alias("total_price"),
    )
    return _run_to_memory(agg, "stream_pit_enrich", confs=_STATE_CONFS)[1]


@query(
    "stream_corpus_backfill",
    oracle=f"""
    SELECT doc_id % 8 AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(octet_length(encode(COALESCE(text, '')))) AS BIGINT) AS total_bytes,
           CAST(bit_xor(('0x' || substr(md5(COALESCE(text, '')), 1, 14))::BIGINT)
                AS BIGINT) AS content_checksum
    FROM documents GROUP BY 1
    """,
)
def q_stream_corpus_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus backfill: a new sharded .gz drop lands in
    object storage and is ingested INCREMENTALLY — Structured
    Streaming's binaryFile source discovers the shards
    (maxFilesPerTrigger=3 forces multiple micro-batches, exercising
    real incremental discovery under availableNow), a mapInPandas
    kernel gunzips/parses each batch, and the parsed rows append to a
    checkpointed parquet sink (exactly-once via the commit log).  The
    returned per-shard stats aggregate the SINK — so file discovery,
    per-batch decode, and append atomicity all sit under the same
    value oracle as the batch ingest (compressed_text_ingest shares
    the stager; the streaming result must equal it).

    At scale this is the standing ingest job: new WET/WARC shards
    arrive, the checkpoint remembers what's been consumed, and a
    restart resumes without re-reading or double-counting."""
    stage = _gz_corpus_stage(spark, sf_dir)
    base = stage_dir(spark, "stream_backfill", sf_dir)
    files = (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema; binaryFile's is fixed
        .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
        .option("pathGlobFilter", "*.gz")
        .option("maxFilesPerTrigger", "3")
        .load(stage)
    )
    # SAME per-file parse as the batch ingest
    parsed = decode_files(files, _gz_parse, "doc_id BIGINT, byte_len BIGINT, h56 BIGINT")
    q = (
        parsed.writeStream.format("parquet")
        .option("path", base + "/data")
        .option("checkpointLocation", base + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(base + "/data")
    return back.groupBy((F.col("doc_id") % 8).alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("byte_len").cast("bigint").alias("total_bytes"),
        F.bit_xor("h56").cast("bigint").alias("content_checksum"),
    )


@query(
    "stream_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT user_id // 63) AS BIGINT) AS n_words
    FROM events
    GROUP BY event_type
    """,
    bench=True,
)
def q_stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT streaming distinct-user counts with BITMAP state — the
    streaming twin of ``bitmap_distinct_users``: the streaming
    aggregation keys on (event_type, user_id DIV 63) and bit_or's the
    63-bit masks, so distinct state is one row per WORD (63 users)
    instead of one dedup-state row per user — the state-store
    compression that keeps exact streaming distinct viable when the
    id space is large.  bit_or is idempotent and commutative, so the
    incremental complete-mode result is batch-equal no matter how the
    micro-batches split — which the batch COUNT(DISTINCT) oracle
    checks end to end.  The popcount fold runs batch-side on the
    drained sink (stacked streaming aggregations are unsupported in
    complete mode, and the fold is output-sized anyway).
    """
    from ..operators.sketches import bitmap_word_mask

    ev = _stream_events(spark, sf_dir)
    word, mask = bitmap_word_mask("user_id")
    words = ev.select("event_type", word.alias("word"), mask.alias("mask"))
    agg = words.groupBy("event_type", "word").agg(F.bit_or("mask").alias("bits"))
    _, out = _run_to_memory(agg, "stream_bitmap_distinct", confs=_STATE_CONFS)
    return out.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n_users"),
        F.count(F.lit(1)).alias("n_words"),
    )


@query(
    "stream_bitmap_overlap",
    oracle="""
    WITH u AS (
      SELECT DISTINCT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS window_start,
             event_type, user_id
      FROM events WHERE value >= 180.0
    ),
    s AS (SELECT window_start, event_type, COUNT(*) AS n FROM u GROUP BY 1, 2),
    i AS (
      SELECT a.window_start, a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_intersect
      FROM u a
      JOIN u b ON a.window_start = b.window_start
              AND a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2, 3
    )
    SELECT sa.window_start, sa.event_type AS type_a, sb.event_type AS type_b,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST(COALESCE(i.n_intersect, 0) AS BIGINT) AS n_intersect,
           CAST(sa.n + sb.n - COALESCE(i.n_intersect, 0) AS BIGINT) AS n_union,
           ROUND(COALESCE(i.n_intersect, 0)
                 / CAST(sa.n + sb.n - COALESCE(i.n_intersect, 0) AS DOUBLE), 6) AS jaccard
    FROM s sa
    JOIN s sb ON sa.window_start = sb.window_start
             AND sa.event_type < sb.event_type
    LEFT JOIN i ON i.window_start = sa.window_start
               AND i.type_a = sa.event_type AND i.type_b = sb.event_type
    """,
    bench=True,
)
def q_stream_bitmap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINDOWED audience overlap on streaming BITMAP state — the
    streaming twin of ``bitmap_audience_overlap``: per tumbling
    event-time day, high-value audiences accumulate as
    (window, type, word) -> bit_or(mask) rows in UPDATE mode, so
    overlap state is |audience|/63 words per (window, type) — never a
    per-user dedup row — and the watermark bounds it to windows
    inside the horizon.

    The update stream is drained through three staged micro-batches,
    the second of which REPLAYS the first's boundary day (at-least-once
    delivery): the replayed keys re-emit without changing a bit, so
    update-mode re-emission is exercised deterministically and replay
    tolerance is proven by the oracle itself.  Folding the update log
    with ANOTHER bit_or reconstructs the final state exactly because
    bit_or is idempotent, commutative, and monotone — every update row
    is a superset of the previous one for its key — and the pairwise
    matrix (word-aligned AND + popcount, inclusion-exclusion unions,
    0-cells re-anchored on the per-window size grid) then runs
    batch-side on word-compressed rows, same algebra as the batch
    query.  The oracle recomputes every closed window from plain
    per-day COUNT(DISTINCT ...) self-joins, independent of the bitmap
    plumbing.
    """
    import shutil

    from ..operators.sketches import AUDIENCE_VALUE_MIN, bitmap_word_mask

    ev = load_table(spark, sf_dir, "events")
    stage = stage_dir(spark, "bitmap_overlap", sf_dir)
    # three TIME-ORDERED micro-batches; batch 2 additionally REPLAYS
    # the whole boundary day (at-least-once delivery, the Kafka
    # contract): bit_or state is idempotent under replay, so the
    # duplicated day re-emits its keys (a genuine update-mode
    # re-emission, asserted in tests) without changing any bit — the
    # exactly-once-not-required property that makes bitmap state
    # operationally cheap.  Cuts are at midnights, so each batch stays
    # inside the watermark the previous one set (the replayed day is
    # 0-1 days old against a 2-day horizon; true late-drop semantics
    # are pinned separately by stream_late_data_drop).
    import datetime

    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]  # 1-row collect
    span = hi - lo

    def _next_midnight(t: "datetime.datetime") -> "datetime.datetime":
        return t.replace(hour=0, minute=0, second=0, microsecond=0) + datetime.timedelta(days=1)

    # cuts derived DEFENSIVELY (round-11 advice): clamp both to
    # midnights strictly inside (lo, hi] so the three-trigger contract
    # (three non-empty, time-ordered batches) holds for any conforming
    # events table, not just the fixture's ~30-day span
    first_mid = _next_midnight(lo)
    last_mid = hi.replace(hour=0, minute=0, second=0, microsecond=0)
    if last_mid >= hi:
        last_mid -= datetime.timedelta(days=1)
    c2 = min(_next_midnight(lo + 2 * span / 3), last_mid)
    c1 = min(_next_midnight(lo + span / 3), c2 - datetime.timedelta(days=1))
    if c1 < first_mid:
        raise ValueError(
            f"stream_bitmap_overlap needs an events span of >= 3 days to "
            f"stage three midnight-cut batches; got ts in [{lo}, {hi}]"
        )
    replay_from = c1 - datetime.timedelta(days=1)  # the boundary day
    batches = (
        ev.filter(F.col("ts") < F.lit(c1)),
        ev.filter((F.col("ts") >= F.lit(replay_from)) & (F.col("ts") < F.lit(c2))),
        ev.filter(F.col("ts") >= F.lit(c2)),
    )
    # Stage only the columns the stream consumes: the windowed bitmap
    # aggregation never touches `props`, the widest column, and at
    # 100 TB the staging write is this query's dominant I/O.
    stage_cols = ("ts", "user_id", "event_type", "value")
    try:
        counts = _stage_batches(stage, [bdf.select(*stage_cols) for bdf in batches])
        # the midnight-cut clamping guarantees DISTINCT in-range cuts, not
        # non-empty slices: a conforming >= 3-day table with an event gap
        # around a cut would stage an empty batch and break the
        # three-trigger contract — fail with a descriptive error instead
        # (the counts ride the staged writes, so the guard costs no job)
        for i, n in enumerate(counts):
            if n == 0:
                raise ValueError(
                    f"stream_bitmap_overlap needs three non-empty "
                    f"midnight-cut batches; batch {i} (cuts {c1} / {c2}) "
                    f"is empty for ts in [{lo}, {hi}]"
                )
        stream = normalize_events_ts(
            _staged_stream(spark, ev.select(*stage_cols).schema, stage)
        )
        word, mask = bitmap_word_mask("user_id")
        agg = (
            stream.filter(F.col("value") >= AUDIENCE_VALUE_MIN)
            .withWatermark("ts", "2 days")
            .groupBy(F.window("ts", "1 day"), "event_type", word.alias("word"))
            .agg(F.bit_or(mask).alias("bits"))
        )
        # state is |windows in horizon| x |types| x |audience|/63 words,
        # keyspace-bounded: right-size its partitions (see _STATE_CONFS)
        q, sink = _run_to_memory(agg, "stream_bitmap_overlap", "update", confs=_STATE_CONFS)
        # observability for tests: real multi-batch run, real re-updates.
        # n_updates comes from the sink's own progress metrics (sum of
        # per-batch numOutputRows == rows in the memory table), not a
        # count() job over the sink — the metric is already measured,
        # so measuring it again was one more fixed-cost job per
        # invocation (same reasoning as the observe()-backed guard)
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        # Spark reports -1 for sink metrics it cannot measure (no-data /
        # flush micro-batches) — clamp so one unmeasured batch can't
        # silently corrupt the sum (round-14 advice)
        n_updates = sum(
            max(0, p["sink"]["numOutputRows"]) for p in q.recentProgress
        )
        spark.conf.set("bd3.stream_bitmap_overlap.n_batches", str(n_batches))
        spark.conf.set("bd3.stream_bitmap_overlap.n_updates", str(n_updates))
    finally:
        # the memory sink holds the drained updates — the staged parquet
        # is dead weight once the stream terminates, and a later
        # session's stage_dir can't reclaim this session's dir, so clean
        # up eagerly (round-11 advice)
        shutil.rmtree(stage, ignore_errors=True)
    upd = sink.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start"),
        "event_type",
        "word",
        "bits",
    )
    # bit_or-fold of the update log == final state (monotone updates);
    # materialized once — it self-joins below, and the memory-sink
    # view cannot be referenced twice in one plan (conflicting refs)
    from ..session import lineage_checkpoint

    words = lineage_checkpoint(
        upd.groupBy("window_start", "event_type", "word").agg(
            F.bit_or("bits").alias("bits")
        )
    )
    sizes = words.groupBy("window_start", "event_type").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n")
    )
    a = words.select(
        "window_start", F.col("event_type").alias("type_a"), "word",
        F.col("bits").alias("bits_a"),
    )
    b = words.select(
        "window_start", F.col("event_type").alias("type_b"), "word",
        F.col("bits").alias("bits_b"),
    )
    inter = (
        a.join(b, ["window_start", "word"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("window_start", "type_a", "type_b")
        .agg(
            F.sum(F.bit_count(F.col("bits_a").bitwiseAND(F.col("bits_b"))))
            .cast("bigint")
            .alias("n_intersect"),
        )
    )
    sa = sizes.select(
        "window_start", F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        "window_start", F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    grid = sa.join(sb, "window_start").filter(F.col("type_a") < F.col("type_b"))
    j = grid.join(inter, ["window_start", "type_a", "type_b"], "left").withColumn(
        "n_intersect", F.coalesce("n_intersect", F.lit(0)).cast("bigint")
    )
    n_union = (F.col("n_a") + F.col("n_b") - F.col("n_intersect")).cast("bigint")
    return j.select(
        "window_start", "type_a", "type_b", "n_a", "n_b", "n_intersect",
        n_union.alias("n_union"),
        F.round(F.col("n_intersect") / n_union.cast("double"), 6).alias("jaccard"),
    )
