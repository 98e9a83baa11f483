"""Event-time windowing over the ``events`` table.

The reference has no streaming of any kind (SURVEY.md §2 "explicitly
absent"); this module adds the standard event-time operators batch-first
(DuckDB-checkable on the static table) plus true Structured Streaming
variants of the same plans (watermark + windowed agg, memory-sink tested
-- the oracle can't observe a live stream, so those are pytest-verified
to equal their batch twins).

Window starts are surfaced as epoch SECONDS (bigint): engine-portable,
no timestamp-type/timezone hashing concerns.  Session math uses epoch
MICROSECONDS (bigint) end-to-end -- the native resolution of the data --
so gap comparisons are integer-exact.

Scale posture: tumbling/sliding aggs are groupBy on (bucket, type) with
map-side partial aggregation; sessionization is one shuffle on user_id
then two window passes; the streaming variants bound state with
watermarks (state store size ~ |open windows x keys|, not |events|).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.portable import dec
from ..sources import load_table

TUMBLE_SEC = 300
SLIDE_SEC = 300
SLIDE_WINDOW_SEC = 600
SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes


def tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling counts/sums per event type (native F.window --
    epoch-aligned starts, same alignment the oracle computes by hand)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", f"{TUMBLE_SEC} seconds").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start_sec"),
            "event_type",
            "n",
            "sum_value",
        )
    )


TUMBLING_ORACLE = f"""
    SELECT CAST(floor(epoch(ts) / {TUMBLE_SEC}) * {TUMBLE_SEC} AS BIGINT) AS window_start_sec,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
"""


def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes (each event lands in
    window_size/slide = 2 windows; F.window explodes them natively)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(
                "ts", f"{SLIDE_WINDOW_SEC} seconds", f"{SLIDE_SEC} seconds"
            ).alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start_sec"),
            "event_type",
            "n",
            "sum_value",
        )
    )


SLIDING_ORACLE = f"""
    SELECT CAST((floor(epoch(ts) / {SLIDE_SEC}) - k) * {SLIDE_SEC} AS BIGINT) AS window_start_sec,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events, unnest(range(0, {SLIDE_WINDOW_SEC // SLIDE_SEC})) t(k)
    GROUP BY 1, 2
"""


def session_windows_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user is idle
    > 30 min.  lag + cumulative-sum pattern; integer microsecond math."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        dec("value").alias("v"),
    )
    order = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = ev.withColumn(
        "new_session",
        F.when(
            (F.col("us") - F.lag("us").over(order)) > SESSION_GAP_US, 1
        ).otherwise(F.when(F.lag("us").over(order).isNull(), 1).otherwise(0)),
    ).withColumn(
        "session_no",
        F.sum("new_session").over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return marked.groupBy("user_id", "session_no").agg(
        F.min("us").alias("session_start_us"),
        F.max("us").alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").cast("double").alias("sum_value"),
    )


SESSION_ORACLE = f"""
    WITH ev AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               CAST(value AS DECIMAL(18,2)) AS v
        FROM events
    ),
    marked AS (
        SELECT *,
               CASE WHEN lag(us) OVER w IS NULL THEN 1
                    WHEN us - lag(us) OVER w > {SESSION_GAP_US} THEN 1
                    ELSE 0 END AS new_session
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    numbered AS (
        SELECT *,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_no
        FROM marked
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           min(us) AS session_start_us,
           max(us) AS session_end_us,
           count(*) AS n_events,
           CAST(sum(v) AS DOUBLE) AS sum_value
    FROM numbered
    GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# True Structured Streaming variants (pytest-verified against batch twins)
# ---------------------------------------------------------------------------


def _table_stream_dir(sf_dir: str, table: str) -> str:
    """The parquet file-stream source requires a *directory*; testdata ships
    one file per table.  Build a stable symlink dir under /tmp."""
    import hashlib
    import os

    key = hashlib.md5(f"{sf_dir}:{table}".encode()).hexdigest()[:8]
    d = f"/tmp/spark_graft_stream_{key}"
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, f"{table}.parquet"), link)
    return d


def _events_stream_dir(sf_dir: str) -> str:
    return _table_stream_dir(sf_dir, "events")


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream twin of the batch events loader: same schema-adaptive
    ``ts`` normalization (``sources.tables.normalize_events_ts``), so a
    testdata re-encoding changes ONE function, not every streaming query."""
    from ..sources.tables import normalize_events_ts, read_parquet, table_path

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = read_parquet(spark, table_path(sf_dir, "events"))
    return normalize_events_ts(
        spark.readStream.schema(static.schema).parquet(_events_stream_dir(sf_dir))
    )


def streaming_tumbling_query(spark: SparkSession, sf_dir: str):
    """readStream(parquet) -> watermark -> tumbling agg.  Returns the
    writeStream handle (memory sink, complete mode) -- caller runs
    processAllAvailable() and reads the named table."""
    stream = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", f"{TUMBLE_SEC} seconds").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start_sec"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return stream


def streaming_session_query(spark: SparkSession, sf_dir: str):
    """Native session_window (streaming-capable state merge) over the same
    gap; batch-executable too, pytest compares it against the lag+cumsum
    sessionization."""
    stream = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_US // 1_000_000} seconds").alias("sw"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("session_start_us"),
            "n_events",
        )
    )
    return stream


def user_event_type_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming dedup: the distinct (user, type) set.
    DISTINCT on a projected subset plans as a two-level hash aggregate
    (partial distinct map-side — only unique pairs cross the network)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").distinct()


USER_EVENT_DISTINCT_ORACLE = """
    SELECT DISTINCT user_id, event_type FROM events
"""


def streaming_dedup_query(spark: SparkSession, sf_dir: str):
    """Streaming exact-dedup: readStream -> watermark ->
    ``dropDuplicates`` on (user_id, event_type) — the continuous-ingest
    form of operators/dedup.py's exact dedup, i.e. an exactly-once
    projection of an at-least-once feed.  Each key's first arrival is
    emitted immediately (append mode); later duplicates hit the state
    store and vanish.  The watermark bounds state: keys older than the
    horizon are dropped, so state size ~ |keys seen within the
    watermark|, not |events|.  pytest compares the emitted key set with
    the batch DISTINCT twin."""
    return (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def streaming_dedup_within_watermark_query(spark: SparkSession, sf_dir: str):
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    keeps a key's state only until the watermark passes its event time,
    so duplicates are suppressed when they arrive within the watermark
    delay (the at-least-once-source case: a retry lands seconds after
    the original) while state stays O(|keys in the horizon|) FOREVER --
    the guarantee plain dropDuplicates cannot give on an unbounded key
    domain.  Semantics differ deliberately: a key may re-emit after its
    state expires, which is why this is a separate declared stream from
    streaming_dedup_query, not a swap-in.  The pytest twin checks the
    two bracketing invariants (emits >= distinct keys; every duplicate
    within the watermark window is suppressed)."""
    return (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "ts")
    )


def user_tier_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic static user dimension (the testdata has no user
    table): tier derived from user_id.  Stands in for any broadcastable
    enrichment dim."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(F.col("user_id") % 10 == 0, "vip")
            .when(F.col("user_id") % 3 == 0, "plus")
            .otherwise("basic")
            .alias("tier"),
        )
    )


def enriched_purchases_by_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment: purchase totals per
    user tier after joining the (broadcastable) user dim."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    dim = user_tier_dim(spark, sf_dir)
    return (
        purchases.join(F.broadcast(dim), "user_id")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(dec("value")).cast("double").alias("purchase_value"),
        )
    )


ENRICHED_TIER_ORACLE = """
    WITH dim AS (
        SELECT DISTINCT user_id,
               CASE WHEN user_id % 10 = 0 THEN 'vip'
                    WHEN user_id % 3 = 0 THEN 'plus'
                    ELSE 'basic' END AS tier
        FROM events
    )
    SELECT tier,
           count(*) AS n_purchases,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
    FROM events JOIN dim USING (user_id)
    WHERE event_type = 'purchase'
    GROUP BY tier
"""


def streaming_enrichment_query(spark: SparkSession, sf_dir: str):
    """Stream-static join: the streaming side is the event feed, the
    static side is the user dim — Spark broadcasts the static side into
    every micro-batch (no state store involvement for the join itself;
    only the downstream agg keeps state).  This is the standard
    enrichment shape: dims refresh by swapping the static table between
    restarts, while the stream never stops."""
    dim = user_tier_dim(spark, sf_dir)
    stream = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .join(F.broadcast(dim), "user_id")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(dec("value")).cast("double").alias("purchase_value"),
        )
    )
    return stream


STREAMING_QUERIES: list[tuple[str, object, str | None]] = [
    ("tumbling_window_events", tumbling_window_events, TUMBLING_ORACLE),
    ("sliding_window_events", sliding_window_events, SLIDING_ORACLE),
    ("session_windows_users", session_windows_users, SESSION_ORACLE),
    ("user_event_type_distinct", user_event_type_distinct, USER_EVENT_DISTINCT_ORACLE),
    ("enriched_purchases_by_tier", enriched_purchases_by_tier, ENRICHED_TIER_ORACLE),
]
