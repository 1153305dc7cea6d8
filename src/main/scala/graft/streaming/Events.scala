package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, OutputMode, MapState, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.DecimalType

/** Event-stream operators over the `events` table (event_id, ts, user_id,
  * event_type, value, props). Batch variants are DuckDB-oracle-checkable;
  * [[streamingTumblingCounts]] and [[streamingSessions]] run the same
  * aggregations through real Structured Streaming queries (file source →
  * watermark → windowed/session agg → memory sink) and must produce
  * results identical to their batch mirrors.
  *
  * All window-start outputs are epoch seconds/millis (longs) so the oracle
  * comparison never depends on timestamp encoding.
  */
object Events {

  /** Fixture generations have encoded `ts` either as TIMESTAMP(NANOS) —
    * which Spark's reader only surfaces via the `nanosAsLong` legacy conf —
    * or as plain TIMESTAMP(MICROS). The conf is harmless for micros files,
    * but to keep it from leaking into the caller's session, all event reads
    * go through a cloned session (shared SparkContext, isolated SQLConf). */
  private def eventsSession(spark: SparkSession): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // convertTs's NTZ branch reinterprets naive values in the SESSION
    // timezone — pin UTC here so the naive-is-UTC parity with DuckDB's
    // epoch() holds regardless of the caller's builder or the host TZ.
    s2.conf.set("spark.sql.session.timeZone", "UTC")
    // Stateful streaming ops instantiate one state store per shuffle
    // partition per stateful operator; the events table is small next to
    // the fact tables, so 8 partitions bounds that setup cost without
    // losing parallelism. Cluster deployments size this to the stream's
    // real key cardinality. Result-invariant: partition count never
    // changes query output. Re-measured round 19 (the q267 outer-join
    // settle at sf0.1, min-of-3 warm): 8 → 3.05s, 16 → 3.81s,
    // 32 → 6.48s — per-partition store setup/commit
    // dominates at this volume, so 8 stands; the remaining ~3s on the
    // stream-join settles is the stateful machinery itself (null-drain
    // floor ~0.44s + state writes + watermark batches), with no sleeps
    // or removable no-data batches left (outer joins NEED the trailing
    // watermark advance to emit their null sides).
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2
  }

  /** Per-dir schema cache (r21 — the Tables.schemaCache rule applied to
    * the events read): every schema-less read.parquet re-ran a footer-
    * inference job, one per batch-event query execution. The schema is
    * deterministic per dir because EVERY events read goes through
    * [[eventsSession]] (nanosAsLong pinned true), and the fixture is
    * immutable. Metadata only — never rows. */
  private val eventsSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  private def rawEvents(spark: SparkSession, dir: String): DataFrame = {
    val s2 = eventsSession(spark)
    val path = s"$dir/events.parquet"
    val schema = eventsSchemaCache.computeIfAbsent(path,
      _ => s2.read.parquet(path).schema)
    s2.read.schema(schema).parquet(path)
  }

  /** Normalize `ts` to an engine-native TimestampType instant regardless of
    * the fixture's parquet encoding:
    *  - TIMESTAMP(NANOS) surfaces as a LongType of epoch nanos under
    *    `nanosAsLong` → floor-divide to micros (`div` keeps it in exact
    *    integer arithmetic — ns values overflow double);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) surfaces as
    *    TimestampNTZType → reinterpret the naive value as UTC (every graft
    *    session pins `spark.sql.session.timeZone=UTC`, and DuckDB's
    *    `epoch()` makes the same naive-is-UTC choice, so epochs agree);
    *  - an already-instant TimestampType passes through.
    * Works identically on batch and streaming frames (schema-only dispatch). */
  private[graft] def convertTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  private def events(spark: SparkSession, dir: String): DataFrame =
    convertTs(rawEvents(spark, dir))

  /** The batch event frame (ts converted) — the shared accessor for
    * spec-side parity checks and the relational surfaces (q280 pivot,
    * q281 percentiles) that read events as a plain table. */
  private[graft] def batchEvents(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)

  /** Tumbling 1-hour windows: count + exact (decimal-summed) value total. */
  def tumblingCounts(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total"))
      .select(unix_timestamp(col("w.start")).as("ws_epoch"), col("event_type"),
        col("n"), col("total"))

  /** Sliding windows (1 hour, slide 30 min): each event lands in two
    * windows; windows align to the epoch, matching the DuckDB mirror's
    * floor-division arithmetic. */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("ws_epoch"), col("event_type"), col("n"))

  /** Batch sessionization (gaps-and-islands): a new session starts when a
    * user is idle > `gapMs`. Millisecond epochs keep ns/µs encoding out of
    * the comparison. This is the deterministic batch mirror of
    * [[streamingSessions]]. */
  def sessionize(spark: SparkSession, dir: String, gapMs: Long = 300000L): DataFrame = {
    val e = events(spark, dir).select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
      col("event_id"))
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    val flagged = e.withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts_ms")).as("session_start_ms"),
        max(col("ts_ms")).as("session_end_ms"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_seq"), col("session_start_ms"),
        (col("session_end_ms") - col("session_start_ms")).as("duration_ms"), col("n_events"))
  }

  /** Per-user session summary over [[sessionize]]'s sessions — the
    * engagement rollup (how many sessions, how long, how dense) reported
    * per user. Adds one user-keyed hash agg on top of the session frame;
    * the session window's user_id partitioning is reused, so no extra
    * shuffle shape beyond q53's. */
  def sessionStats(spark: SparkSession, dir: String, gapMs: Long = 300000L): DataFrame =
    sessionize(spark, dir, gapMs)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("duration_ms")).as("max_duration_ms"),
        min(col("session_start_ms")).as("first_start_ms"))

  /** Daily new + cumulative distinct users — the growth curve. An
    * expanding-window COUNT(DISTINCT) recomputes an ever-growing set per
    * day (state Ω(users) per window frame, quadratic work at scale); the
    * standard rewrite is first-touch attribution: each user contributes
    * once at min(day), daily news are a count over that tiny frame, and
    * the cumulative curve is a running sum over the handful of day rows.
    * The heavy aggregation is one map-side-combinable min per user; the
    * window runs over #days rows, not events. Day = floor(epoch-ms /
    * 86400000), computed in pure integer arithmetic as
    * `(ms - pmod(ms, d)) div d`: Spark's `div` truncates toward zero
    * while the oracle's DuckDB `//` floors, and the two disagree on
    * pre-epoch (negative) timestamps — subtracting the always-positive
    * `pmod` remainder first makes the dividend an exact multiple, where
    * truncation IS floor, for any sign. */
  def cumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    val first = events(spark, dir)
      .select(col("user_id"),
        expr("(unix_millis(ts) - pmod(unix_millis(ts), 86400000)) div 86400000").as("day"))
      .groupBy("user_id").agg(min(col("day")).as("first_day"))
    val daily = first.groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    daily.withColumn("cum_users", sum(col("n_new")).over(w))
      .select(col("day"), col("n_new"), col("cum_users"))
  }

  /** JSON props extraction: real `from_json` on the Spark side (the oracle
    * mirrors it with a regexp — same values). */
  def propsExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").cast("long").as("k_val"))

  /** Ordered conversion funnel: for each user, the first `stages(0)` event,
    * the first `stages(1)` event strictly after it, the first `stages(2)`
    * strictly after that, and the stage count reached (1-3). The
    * "strictly after" chaining is what distinguishes a funnel from three
    * independent mins — a purchase before the first view does not convert.
    *
    * Shape: one filtered min-agg per stage, each joined on `user_id` — all
    * three shuffles share the same key, so at scale it's one partitioning
    * reused (AQE coalesces), with the stage frames shrinking monotonically
    * (stage k+1 is a semi-filtered subset of stage k's users). No window,
    * no per-user event-history sort. Unreached stages are -1 sentinels
    * (kept non-null for exact oracle comparison, the [[asofJoin]] rule). */
  def funnel(spark: SparkSession, dir: String,
      stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame =
    funnelOn(events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms")), stages)

  /** [[funnel]]'s core on a pre-projected (user_id, event_type, ms) frame —
    * the unit-testable surface (the [[asofJoinOn]] pattern). */
  def funnelOn(e: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.length == 3, "funnel is fixed at three chained stages")
    val t1 = e.filter(col("event_type") === stages(0))
      .groupBy("user_id").agg(min(col("ms")).as("t1"))
    val t2 = e.filter(col("event_type") === stages(1))
      .join(t1, "user_id").filter(col("ms") > col("t1"))
      .groupBy("user_id").agg(min(col("ms")).as("t2"))
    val t3 = e.filter(col("event_type") === stages(2))
      .join(t2, "user_id").filter(col("ms") > col("t2"))
      .groupBy("user_id").agg(min(col("ms")).as("t3"))
    t1.join(t2, Seq("user_id"), "left").join(t3, Seq("user_id"), "left")
      .select(col("user_id"),
        col("t1").as("first_stage1_ms"),
        coalesce(col("t2"), lit(-1L)).as("first_stage2_ms"),
        coalesce(col("t3"), lit(-1L)).as("first_stage3_ms"),
        (lit(1L) + col("t2").isNotNull.cast("long") + col("t3").isNotNull.cast("long"))
          .as("stage"))
  }

  /** Weekly cohort retention: users are cohorted by the epoch-week of
    * their first event; `n_users` counts the cohort's users active in each
    * later week, keyed by the week offset (offset 0 = the cohort's own
    * size). Weeks are pure integer arithmetic on epoch millis
    * (`ms / 604800000`) — engine-identical, no calendar/locale semantics
    * to disagree on.
    *
    * Shape: a per-user min (cohort), a (user, week) distinct, one
    * (cohort, offset) count — every shuffle keyed on user_id or the tiny
    * (cohort, offset) pair; nothing funnels through a global window. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame =
    cohortRetentionOn(events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms")))

  /** [[cohortRetention]]'s core on a pre-projected (user_id, ms) frame. */
  def cohortRetentionOn(raw: DataFrame): DataFrame = {
    val weekMs = 604800000L
    val e = raw.select(col("user_id"), floor(col("ms") / weekMs).as("wk"))
    val cohorts = e.groupBy("user_id").agg(min(col("wk")).as("cohort_week"))
    e.distinct().join(cohorts, "user_id")
      .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Top-k behavioral paths: the most frequent length-3 event-type
    * sequences users actually walk (consecutive by time, per user) — the
    * path-analysis primitive behind funnel discovery. Ties at the k
    * boundary break on the path string, so the reported set is total-order
    * deterministic on any engine.
    *
    * Shape: one per-user window (lead ×2 over (ms, event_id) — event_id
    * tie-breaks equal timestamps so the sequence is engine-independent),
    * then a map-side-combined count over at most |types|³ distinct paths
    * and a `TakeOrdered` top-k. The window partitions by user — hot users
    * bound the partition, not the corpus. `concat` (not concat_ws)
    * propagates the nulls at each user's tail so partial windows drop. */
  def eventPaths(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    eventPathsOn(events(spark, dir).select(col("user_id"), col("event_type"),
      unix_millis(col("ts")).as("ms"), col("event_id")), k)

  /** [[eventPaths]]'s core on a pre-projected
    * (user_id, event_type, ms, event_id) frame. */
  def eventPathsOn(e: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    e.select(concat(col("event_type"), lit(">"),
        lead(col("event_type"), 1).over(w), lit(">"),
        lead(col("event_type"), 2).over(w)).as("path"))
      .filter(col("path").isNotNull)
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(k)
  }

  /** Per-type value-anomaly profile: mean, population std, and the count
    * of |z| > `z` outliers for each event type — the metric-drift monitor a
    * pipeline runs over ingested event values. Cross-engine exactness: the
    * moments come from DECIMAL-cast sums (order-independent under both
    * engines' partitioned aggregation — value and value² are IEEE-exact
    * per row, only their SUM order varies), converted to double once, so
    * mean/std/outlier-threshold arithmetic is bit-identical.
    *
    * Shape: two passes over events — one map-side-combined moment agg
    * (5 rows out), then the tiny stats frame joins back (AQE broadcasts
    * it) for the outlier count. No window, no sort; both shuffles key on
    * event_type. */
  def valueOutliers(spark: SparkSession, dir: String, z: Double = 3.0): DataFrame = {
    val e = events(spark, dir).select(col("event_type"), col("value"))
    val stats = e.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("s1"),
        sum((col("value") * col("value")).cast(DecimalType(28, 10))).cast("double").as("s2"))
      .select(col("event_type"), col("n"),
        (col("s1") / col("n")).as("mean"),
        sqrt(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n"))).as("std"))
    e.join(stats, "event_type")
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
        round(max(col("mean")), 6).as("mean"),
        round(max(col("std")), 6).as("std"),
        sum(when(abs(col("value") - col("mean")) > lit(z) * col("std"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** Range join rewritten as an equi-join on a computed bucket: events
    * classified into fixed-width value tiers. The naive plan — `JOIN tiers
    * ON value >= lo AND value < hi` — is a broadcast-nested-loop scan of
    * every event against every tier (the oracle runs exactly that form to
    * certify equivalence); because the tiers are aligned to a fixed width,
    * the same relation is derivable as `tier_id = floor(value / width)`,
    * an equi-join that hashes instead of scanning — O(n) vs O(n·tiers),
    * and at 100 TB the difference between one pass and a BNLJ. The general
    * lesson (arbitrary interval tables bucketize the same way, with
    * intervals exploded per overlapped bucket) is documented here; the
    * aligned case keeps the oracle exact.
    *
    * Exact-boundary caveat: the floor(value / width) rewrite and the
    * range predicate `value >= lo AND value < hi` are certified
    * equivalent for values AWAY from representable-boundary rounding. In
    * the half-ulp neighborhood of a tier edge the two can disagree: a
    * value infinitesimally below (i+1)·width whose double division
    * rounds up to exactly i+1 lands in tier i+1 under the rewrite but
    * tier i under the range join. With width 50 and event values quantized
    * far coarser than one ulp this set is empty; for boundary-dense data
    * derive the range bounds from the same floor expression (or scale to
    * integers) before relying on the equivalence. */
  def rangeBucketJoin(spark: SparkSession, dir: String, width: Double = 50.0,
      numTiers: Int = 10): DataFrame = {
    val s2 = eventsSession(spark)
    import s2.implicits._
    val tiers = (0 until numTiers).map(i =>
        (i.toLong, i * width, (i + 1) * width))
      .toDF("tier_id", "lo", "hi")
    rawEvents(spark, dir)
      .withColumn("tier_id", floor(col("value") / lit(width)))
      .join(broadcast(tiers), "tier_id")
      .groupBy("tier_id", "lo", "hi")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .orderBy("tier_id")
  }

  /** Time-bound conversion: for each user's FIRST `fromType` event, did a
    * `toType` event follow within `windowMs`? Unlike [[funnel]] (unbounded
    * chained mins) this is the SLA-style metric — "converted within 30
    * minutes" — every growth dashboard actually reports. Shape: two
    * filtered min-aggregations and one equi-join on user_id (the bounded
    * successor min is an agg over the join, conditional on the window),
    * all map-side combinable; no window function, no per-event state.
    * Non-converters keep a -1 sentinel so the output is dense and
    * null-free for exact comparison. */
  def timeboundConversion(spark: SparkSession, dir: String,
      fromType: String = "view", toType: String = "purchase",
      windowMs: Long = 1800000L): DataFrame =
    timeboundConversionOn(events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms")),
      fromType, toType, windowMs)

  /** [[timeboundConversion]]'s core on a (user_id, event_type, ms) frame. */
  def timeboundConversionOn(e: DataFrame, fromType: String, toType: String,
      windowMs: Long): DataFrame = {
    val first = e.filter(col("event_type") === fromType)
      .groupBy("user_id").agg(min(col("ms")).as("t0"))
    val conv = e.filter(col("event_type") === toType)
      .join(first, "user_id")
      .filter(col("ms") > col("t0") && col("ms") <= col("t0") + lit(windowMs))
      .groupBy("user_id").agg(min(col("ms")).as("t_conv"))
    first.join(conv, Seq("user_id"), "left")
      .select(col("user_id"), col("t0").as("first_ms"),
        col("t_conv").isNotNull.cast("long").as("converted"),
        coalesce(col("t_conv") - col("t0"), lit(-1L)).as("lag_ms"))
  }

  /** Exact order statistics per event_type — median and p90 of `value` by
    * explicit row_number selection (row ⌈n/2⌉ and ⌈0.9·n⌉ of the total
    * (value, event_id) order), NOT interpolation: the selected values are
    * input values, engine-independent, so the operator hash-checks where
    * `percentile_cont`'s interpolation arithmetic could drift. Shape: one
    * shuffle keyed by event_type for the window (5 bounded partitions
    * here; at real cardinality the partition key scales with the group
    * count), then a 2-row-per-group filter join on the group sizes. The
    * approximate scale path for ungrouped/huge partitions stays q93's GK
    * sketch. */
  def exactValueQuantiles(spark: SparkSession, dir: String): DataFrame =
    exactValueQuantilesOn(events(spark, dir)
      .select(col("event_type"), col("value"), col("event_id")))

  /** [[exactValueQuantiles]]'s core on a (event_type, value, event_id) frame. */
  def exactValueQuantilesOn(e: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    val ranked = e.withColumn("rn", row_number().over(w))
    val sizes = e.groupBy("event_type").agg(count(lit(1)).as("n"))
    ranked.join(sizes, "event_type")
      .filter(col("rn") === ceil(col("n") / 2) || col("rn") === ceil(col("n") * 0.9))
      .groupBy("event_type").agg(
        max(col("n")).as("n"),
        min(when(col("rn") === ceil(col("n") / 2), col("value"))).as("median"),
        min(when(col("rn") === ceil(col("n") * 0.9), col("value"))).as("p90"))
  }

  /** Debounce / rate-limit dedup: keep an event only if the previous event
    * of the same (user, type) is at least `gapMs` older — the
    * telemetry-retry and double-click scrub every event pipeline runs
    * before counting anything. One lag() over the (user_id, event_type)
    * partition in (ms, event_id) total order — single shuffle, two longs
    * of state per row, no self-join. Note the semantics are lag-based
    * (gap from the previous RETAINED-or-not event, i.e. from the raw
    * predecessor), the standard debounce; a chain-collapsing variant
    * (gap from the last KEPT event) needs the session-window operator
    * (q53) instead. */
  def debounceEvents(spark: SparkSession, dir: String, gapMs: Long = 600000L): DataFrame =
    debounceOn(events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms")), gapMs)

  /** [[debounceEvents]]'s core on a (event_id, user_id, event_type, ms) frame. */
  def debounceOn(e: DataFrame, gapMs: Long): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ms"), col("event_id"))
    e.withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .filter(col("prev_ms").isNull || col("ms") - col("prev_ms") >= gapMs)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ms"))
  }

  /** As-of join — an operator Spark has no native form of, composed from
    * built-ins (preference (a) of the custom-operator ladder): match each
    * `leftType` event to the most recent `rightType` event of the same
    * user at-or-before its timestamp. Implemented as a tagged union + one
    * running `last(..., ignoreNulls)` window — a single shuffle on
    * user_id, no join explosion; right-side rows sort before left at
    * equal timestamps to give the inclusive (`>=`) as-of semantics of a
    * native ASOF JOIN. Unmatched lefts yield -1 sentinels (kept non-null
    * for exact oracle comparison). At 100 TB the same shape holds: the
    * shuffle key is user_id and state per row is one long. */
  def asofJoin(spark: SparkSession, dir: String,
      leftType: String = "purchase", rightType: String = "view"): DataFrame =
    asofJoinOn(
      events(spark, dir).select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
        col("event_id"), col("event_type")),
      leftType, rightType)

  /** Core of [[asofJoin]] over any (user_id, ts_ms, event_id, event_type)
    * frame — split out so tie-break semantics are unit-testable. */
  def asofJoinOn(events: DataFrame, leftType: String, rightType: String): DataFrame = {
    val e = events.filter(col("event_type").isin(leftType, rightType))
    val typeRank = when(col("event_type") === rightType, 0).otherwise(1)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms"), typeRank, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    e.withColumn("matched_ts",
        last(when(col("event_type") === rightType, col("ts_ms")), ignoreNulls = true).over(w))
      .filter(col("event_type") === leftType)
      .select(col("event_id"), col("user_id"), col("ts_ms").as("event_ts_ms"),
        coalesce(col("matched_ts"), lit(-1L)).as("asof_view_ts_ms"),
        coalesce(col("ts_ms") - col("matched_ts"), lit(-1L)).as("lag_ms"))
  }

  private val streamCounter = new AtomicInteger(0)

  /** FileStreamSource wants a directory; stage the single parquet behind a
    * scratch dir + symlink — once per (JVM, dir), since the staged layout
    * and schema are immutable inputs (the testdata dirs are read-only; if a
    * dir's parquet were regenerated with a new schema in-process, this
    * cache would serve the stale schema — key on file mtime/size before
    * ever pointing it at mutable data). All streaming mirrors (tumbling /
    * sessionize / stateful / interval join) share the one staging; the
    * [[graft.io.TempDirs]] shutdown hook deletes it, so a mid-stream
    * failure cannot leak it (each streaming query still gets its own
    * ephemeral checkpoint — file-source progress is per-query state). */
  private val stagedCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, org.apache.spark.sql.types.StructType)]()
  private def stagedEvents(spark: SparkSession, dir: String): (String, org.apache.spark.sql.types.StructType) =
    stagedCache.computeIfAbsent(dir, _ => {
      val staged = graft.io.TempDirs.scratch("graft-events")
      java.nio.file.Files.createSymbolicLink(
        staged.resolve("events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet").toAbsolutePath)
      (staged.toString, rawEvents(spark, dir).schema)
    })

  /** Run `build(stream)` to completion through a memory sink, then
    * re-materialize the settled rows on the *caller's* session and drop
    * the temp view — a finished streaming query leaves no residue in a
    * long-lived session.
    *
    * `noDataBatches = false` skips the trailing empty micro-batch Spark
    * otherwise runs after the data drains (to advance the watermark and
    * evict state). Only valid for queries whose OUTPUT never depends on
    * watermark advancement — an eager inner stream-stream join emits every
    * match inside the data batch itself; the no-data batch would only
    * evict join state that this drain-and-stop harness is about to discard
    * with the ephemeral checkpoint anyway. Never set it for append-mode
    * windowed aggregations (their finals only emit when the watermark
    * passes) or TTL'd state (timeout callbacks fire in no-data batches).
    *
    * Cost-trend note (measured, local[32] sf0.1, same-JVM probe sandwich —
    * q64's r6→r8 bench drift 2.8→4.3→7.4s with no code change): the
    * micro-batch machinery here is ~1.8× slower when the shared bench JVM
    * has just run the heavy cache-leaving queries (ALS training + factor
    * caches, LSH persisted features, components' checkpointed labels):
    * same-JVM probe-pollute-probe measured min 3.8s before vs 6.7s after
    * (2h watermark), recovering over subsequent reps as background
    * cleanup drains — i.e. the drift tracked the GROWTH OF THE REGISTRY
    * AHEAD OF q64 in bench order (each round added heavy q1xx queries
    * that sort before it), not this operator's plan, and q89/q58 drifted
    * in parallel because they share this harness. Mitigations shipped:
    * the no-data-batch skip above and the windowMs-derived watermark —
    * post-pollution q64 measured min 2.79s, at its r6 level.
    *
    * Round-15 decomposition of the r13→r14 1.33→2.43s drift (code
    * byte-identical both rounds): a fresh quiet JVM measures q64 at
    * 7.4 / 3.0 / 2.4 / 1.8 / 1.7s — C2 tiering of this machinery spans
    * ~4 executions, so ANY min-of-3 that starts cold reports ~2.4s of
    * tiering cost, and a probe sandwich with the heavy cache-leaving
    * polluters showed NO residue on top (post_min 1.47s < pre_min
    * 1.68s). The steady-state floor is ~1.5–1.7s, so a timing harness
    * must warm the settle path untimed before its timed loop. */
  private def settle(spark: SparkSession, dir: String,
      build: DataFrame => DataFrame, outputMode: String = "complete",
      noDataBatches: Boolean = true,
      extraConfs: Map[String, String] = Map.empty): DataFrame = {
    val s2 = eventsSession(spark)
    if (!noDataBatches)
      s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    extraConfs.foreach { case (k, v) => s2.conf.set(k, v) }
    val (staged, schema) = stagedEvents(spark, dir)
    val name = s"graft_stream_${streamCounter.incrementAndGet()}"
    val stream = convertTs(s2.readStream.schema(schema).parquet(staged))
    val agg = build(stream)
    val q = agg.writeStream.outputMode(outputMode)
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val settled = s2.table(name)
    val outSchema = settled.schema
    val rows = guardedSettleRows(settled)
    s2.catalog.dropTempView(name)
    spark.createDataFrame(rows.toSeq.asJava, outSchema)
  }

  /** The ONE sanctioned collect on a settled memory-sink stream — every
    * settle path in graft (this harness AND the GLPR connector's
    * [[graft.io.GlprSource.streamedLangProfile]]/backfill settles, which
    * bypassed the cap until the round-14 verdict flagged it) must route
    * its materialization through this guard.
    *
    * CONTRACT: memory-sink settles materialize on the driver, so every
    * query routed through a settle must produce a BOUNDED aggregate
    * frame (keyed rollups, join matches, session lists — never a
    * per-event projection of the corpus). The ceiling trips long before
    * driver memory does; a per-event streaming query must use the
    * file-sink path (q199 / foreachBatch) instead. */
  private[graft] def guardedSettleRows(settled: DataFrame): Array[org.apache.spark.sql.Row] = {
    val rows = settled.collect()
    require(rows.length <= SettleRowCap,
      s"settle collected ${rows.length} rows (> $SettleRowCap): " +
        "memory-sink settles are for bounded aggregate frames only — " +
        "route per-event output through the streaming file sink")
    rows
  }

  /** Driver-side ceiling for [[guardedSettleRows]] — see the contract
    * note there. Generous vs every current settle (the largest, q64's
    * interval matches at sf0.1, is ~30k rows) yet far below
    * driver-memory harm. */
  private val SettleRowCap: Int = 5000000

  /** Streaming FILE sink round-trip (q199) — the production egress the
    * memory-sink settles cannot certify: a streaming query writing parquet
    * through the exactly-once file sink (append mode, checkpointed; the
    * sink's `_spark_metadata` commit log is what makes a task retry or a
    * duplicated micro-batch invisible to readers), then the sink directory
    * read BACK as a batch table and aggregated. Equality with the batch
    * oracle certifies the whole egress: no dropped rows, no double-committed
    * files (the batch parquet reader honors the sink's commit log when
    * listing). One streaming write per (JVM, dir) — the
    * [[graft.io.Bucketing]] cached-layout contract; the scratch dir is
    * shutdown-hook-deleted. At cluster scale this exact shape is "stream
    * into the lake, partitioned, exactly-once" — the projection is
    * stateless, so no watermark/state is involved and the stream never
    * shuffles. */
  def streamingFileSink(spark: SparkSession, dir: String): DataFrame = {
    val (out, outSchema) = fileSinkCache.computeIfAbsent(dir, _ => {
      val s2 = eventsSession(spark)
      val (staged, schema) = stagedEvents(spark, dir)
      val root = graft.io.TempDirs.scratch("graft-filesink")
      val proj = convertTs(s2.readStream.schema(schema).parquet(staged))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val q = proj.writeStream.outputMode("append").format("parquet")
        .option("path", root.resolve("data").toString)
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      (root.resolve("data").toString, proj.schema)
    })
    // Explicit schema on the read-back: an empty stream commits no part
    // files (only the _spark_metadata log), and schema inference over a
    // data-less sink directory fails — the same explicit-schema rule the
    // format round-trips follow (graft.io.Formats).
    spark.read.schema(outSchema).parquet(out)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_events"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
  }

  private val fileSinkCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (String, org.apache.spark.sql.types.StructType)]()

  // ---- foreachBatch idempotent MERGE egress (q268) -----------------------

  /** Committed pointer of a [[mergeBatchInto]] target: (lastBatchId,
    * snapshot path), or None before the first commit. */
  private[streaming] def readMergeMeta(root: java.nio.file.Path): Option[(Long, String)] = {
    val f = root.resolve("_meta")
    if (!java.nio.file.Files.exists(f)) None
    else {
      val parts = java.nio.file.Files.readString(f).trim.split(",", 2)
      Some((parts(0).toLong, parts(1)))
    }
  }

  /** One IDEMPOTENT per-batch MERGE into a parquet target — the
    * `foreachBatch` body every lakehouse-bound stream runs (a real ACID
    * format — Delta/Iceberg — is the production answer; this versioned-
    * snapshot + atomic-pointer emulation is the honest sandbox stand-in,
    * the q207/q211/q230 convention). Three guarantees:
    *
    *  1. '''Replay invisibility''': `foreachBatch` is at-least-once — a
    *     failed/restarted query re-delivers the last micro-batch with the
    *     SAME batchId. A batchId at or below the committed pointer is
    *     skipped entirely, making the retry a no-op (the batchId check IS
    *     the idempotence, exactly as a Delta `txn` version check).
    *  2. '''Latest-wins MERGE''': snapshot ∪ delta compacts with the q207
    *     argmax-struct algebra — per key `max(struct(ts_ms, event_id,
    *     payload))`, map-side-combinable, order-independent across
    *     batches (the argmax over a total order is associative, so ANY
    *     batch partitioning folds to the same state). Tombstones
    *     ('error') stay IN the state — a later upsert must beat them by
    *     sequence, not by accident of filtering; readers drop them.
    *  3. '''Atomic publish''': the new snapshot is fully written before
    *     the `_meta` pointer swings to it via an atomic rename — a reader
    *     (or a crash) never observes a half-written snapshot.
    *
    * Scale: state is one row per live key (bounded by key cardinality,
    * not stream length); the union+argmax shuffles only the delta plus
    * the compacted snapshot. */
  private[streaming] def mergeBatchInto(root: java.nio.file.Path,
      batch: DataFrame, batchId: Long): Unit = {
    val meta = readMergeMeta(root)
    if (meta.exists(_._1 >= batchId)) return // replayed batch: no-op
    val spark = batch.sparkSession
    val delta = batch.select(col("user_id"), col("ts_ms"), col("event_id"),
      col("event_type"), col("value"))
    val state = meta match {
      case Some((_, v)) => spark.read.parquet(v).unionByName(delta)
      case None => delta
    }
    val compacted = state.groupBy("user_id")
      .agg(max(struct(col("ts_ms"), col("event_id"), col("event_type"),
        col("value"))).as("last"))
      .select(col("user_id"), col("last.ts_ms").as("ts_ms"),
        col("last.event_id").as("event_id"),
        col("last.event_type").as("event_type"), col("last.value").as("value"))
    val vdir = root.resolve(s"v$batchId")
    compacted.write.mode("overwrite").parquet(vdir.toString)
    val tmp = root.resolve("_meta.tmp")
    java.nio.file.Files.writeString(tmp, s"$batchId,$vdir")
    java.nio.file.Files.move(tmp, root.resolve("_meta"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** q268: the event changelog streamed through `foreachBatch` into an
    * idempotent MERGE target ([[mergeBatchInto]]), then the target read
    * back — the per-batch-upsert egress q199's append-only file sink
    * cannot express. After the stream drains, the last committed batch is
    * DELIBERATELY re-merged under its own batchId (the at-least-once
    * retry), which must be invisible; the read-back then hash-matches the
    * q207 batch-compaction oracle — certifying delivery, merge algebra,
    * and replay idempotence in one equality. One streaming write per
    * (JVM, dir); the scratch target is shutdown-hook-deleted. */
  def foreachBatchUpsert(spark: SparkSession, dir: String): DataFrame = {
    val rootStr = foreachBatchCache.computeIfAbsent(dir, _ => {
      val s2 = eventsSession(spark)
      val (staged, schema) = stagedEvents(spark, dir)
      val root = graft.io.TempDirs.scratch("graft-fbmerge")
      def changelogOf(df: DataFrame): DataFrame = df
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("event_id"), col("event_type"), col("value"))
      val src = changelogOf(convertTs(s2.readStream.schema(schema).parquet(staged)))
      val q = src.writeStream
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .foreachBatch((b: DataFrame, id: Long) => mergeBatchInto(root, b, id))
        .start()
      try q.processAllAvailable() finally q.stop()
      // Deliberate at-least-once REPLAY: re-deliver the whole source as
      // the last committed batchId — the pointer check must no-op it.
      // An EMPTY source commits no batch at all (no meta pointer): skip
      // the replay and let the read-back return the well-typed empty.
      readMergeMeta(root).foreach { case (lastId, _) =>
        mergeBatchInto(root, changelogOf(convertTs(rawEvents(s2, dir))), lastId)
      }
      root.toString
    })
    readMergeMeta(java.nio.file.Paths.get(rootStr)) match {
      case Some((_, snapshot)) =>
        spark.read.parquet(snapshot)
          .filter(col("event_type") =!= "error")
          .select(col("user_id"), col("event_id").as("last_event_id"),
            col("event_type").as("last_type"), col("value").as("last_value"))
      case None => // dry stream: no snapshot was ever committed
        import spark.implicits._
        Seq.empty[(Long, Long, String, Double)]
          .toDF("user_id", "last_event_id", "last_type", "last_value")
    }
  }

  private val foreachBatchCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stream-static enrichment: the live event stream joined to a static
    * dimension (customer market segment keyed by user_id) before a
    * watermarked tumbling count — the canonical "enrich the stream with a
    * dim table" pattern. The static side is explicitly `broadcast` (a
    * stream-static join re-reads the dim per micro-batch; broadcasting
    * pins the stateless hash-join shape — the stream itself never
    * shuffles for the join, and at cluster scale the dim ships once per
    * executor). Settled result is checked against the batch-join oracle. */
  def streamingEnrichedCounts(spark: SparkSession, dir: String): DataFrame =
    settle(spark, dir, stream => {
      val dim = broadcast(graft.io.Tables(stream.sparkSession, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("mktsegment")))
      stream.withWatermark("ts", "1 hour")
        .join(dim, "user_id")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("mktsegment"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("w.start")).as("ws_epoch"), col("mktsegment"), col("n"))
    })

  /** The tumbling aggregation as a genuine Structured Streaming query:
    * parquet file source → withWatermark → window agg → memory sink in
    * complete mode (so the final windows are emitted without needing
    * post-data watermark advancement). Returns the settled result table —
    * identical to [[tumblingCounts]], and checked against the same oracle. */
  def streamingTumblingCounts(spark: SparkSession, dir: String): DataFrame =
    settle(spark, dir, stream => stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total"))
      .select(unix_timestamp(col("w.start")).as("ws_epoch"), col("event_type"),
        col("n"), col("total")))

  /** Streaming twin of [[slidingCounts]]: overlapping 1-hour windows
    * sliding every 30 minutes over the watermarked stream. Each event
    * lands in exactly two window panes, so the state store carries two
    * open aggregates per (pane, type) until the watermark closes them —
    * state scales with open panes × types, never with events. Settled
    * output is hash-compared against the batch q51 oracle. */
  def streamingSlidingCounts(spark: SparkSession, dir: String): DataFrame =
    settle(spark, dir, stream => stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("ws_epoch"), col("event_type"), col("n")))

  /** Per-user running stats carried in explicit keyed state. */
  final case class UserStat(user_id: Long, n_events: Long, min_value: Double, max_value: Double)

  /** A raw event row in the shape [[debounceOn]] consumes. */
  final case class RawEvent(event_id: Long, user_id: Long, event_type: String, ms: Long)

  /** Streaming twin of [[debounceEvents]] — an ORDER-SENSITIVE stateful
    * operator (unlike [[statefulUserStats]]'s order-independent
    * count/min/max): the keep/drop decision for an event depends on its
    * raw event-time predecessor. `flatMapGroupsWithState` carries exactly
    * ONE (ms, event_id) pair per (user, type) key — the high-water mark
    * in the batch oracle's own sort order — and each micro-batch's new
    * events are sorted by (ms, event_id) before the sequential gap scan,
    * so disorder WITHIN a batch is handled exactly.
    *
    * Contract: exact parity with the batch [[debounceOn]] (the q133
    * oracle) whenever each key's events arrive in non-decreasing
    * (ms, event_id) order ACROSS micro-batches (the normal shape for log
    * ingestion, and pinned cross-batch in Round9OpsSpec). Carrying the
    * event_id alongside the timestamp makes the equal-timestamp case
    * exact too: a same-ms event landing in a later micro-batch with a
    * HIGHER id is processed in oracle order (and dropped by the gap test,
    * exactly as the batch side drops it), while one with a LOWER id would
    * need to rewrite an emission the earlier batch already appended — it
    * is explicitly a late straggler, dropped without regressing state
    * (the documented streaming-late-data posture, same as watermark
    * drop). State is one (long, long) per alive key — at 100 TB the
    * store scales with keys, never events; unbounded key churn would add
    * EventTimeTimeout eviction exactly as [[statefulUserStatsTtl]] does. */
  def streamingDebounce(spark: SparkSession, dir: String, gapMs: Long = 600000L): DataFrame =
    settle(spark, dir, stream => {
      val s2 = stream.sparkSession
      import s2.implicits._
      streamingDebounceCore(
        stream.select(col("event_id"), col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ms")).as[RawEvent], gapMs).toDF()
    }, outputMode = "append")

  /** [[streamingDebounce]]'s typed core — unit-testable with MemoryStream. */
  def streamingDebounceCore(events: Dataset[RawEvent], gapMs: Long): Dataset[RawEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[(Long, Long), RawEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, batch, state) =>
          // state = (ms, event_id) of the last processed event — the full
          // batch-oracle sort key, so equal-ms events split across
          // micro-batches keep the oracle's event_id tiebreak.
          var (lastMs, lastId) = state.getOption.getOrElse((Long.MinValue, Long.MinValue))
          val kept = Seq.newBuilder[RawEvent]
          batch.toSeq.sortBy(e => (e.ms, e.event_id)).foreach { e =>
            // late straggler (strictly behind the (ms, id) high-water
            // mark): dropped, never rewrites history
            if (e.ms > lastMs || (e.ms == lastMs && e.event_id >= lastId)) {
              if (lastMs == Long.MinValue || e.ms - lastMs >= gapMs) kept += e
              lastMs = e.ms            // lag semantics: RAW predecessor advances
              lastId = e.event_id
            }
          }
          state.update((lastMs, lastId))
          kept.result().iterator
      }
  }

  /** A quota-capped event with its admission rank. */
  final case class QuotaEvent(event_id: Long, user_id: Long, ms: Long, rank: Long)

  /** Streaming per-key admission quota — the rate-limiting twin of the
    * batch [[graft.llmdata.Curation.quotaCap]] applied to a live stream:
    * admit each user's first `n` events in EVENT-TIME order, drop the
    * rest forever. The second order-sensitive stateful operator next to
    * [[streamingDebounce]], and the same contract: exact parity with the
    * batch row_number oracle whenever each key's events arrive in
    * non-decreasing (ms, event_id) order across micro-batches; within a
    * batch, events are sorted before the sequential scan, so intra-batch
    * disorder is exact; a cross-batch straggler strictly behind the
    * (ms, id) high-water mark is dropped without rewriting admissions.
    *
    * State is one (count, ms, id) triple per user — constant per key, and
    * a saturated key (count == n) never emits again, so at 100 TB the
    * state store scales with the key space; key churn takes the same
    * EventTimeTimeout eviction as [[statefulUserStatsTtl]] (a saturated
    * key whose state is evicted and later re-keyed would re-admit — the
    * documented TTL trade-off).
    *
    * COST ENVELOPE (round 12, sf0.1, local[32], warm min-of-3):
    * end-to-end 1.06s = 0.61s micro-batch harness (the events null-drain
    * floor — source listing, offset log, sink) + ~0.45s quota core. Most
    * of this query's bench time is the settle machinery, not the stateful
    * operator; attribute drift to the harness before the operator. */
  def streamingQuota(spark: SparkSession, dir: String, n: Int = 20): DataFrame =
    settle(spark, dir, stream => {
      val s2 = stream.sparkSession
      import s2.implicits._
      streamingQuotaCore(
        stream.select(col("event_id"), col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ms")).as[RawEvent], n).toDF()
    }, outputMode = "append")

  /** [[streamingQuota]]'s typed core — unit-testable with MemoryStream. */
  def streamingQuotaCore(events: Dataset[RawEvent], n: Int): Dataset[QuotaEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long), QuotaEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, batch, state) =>
          var (cnt, lastMs, lastId) =
            state.getOption.getOrElse((0L, Long.MinValue, Long.MinValue))
          val admitted = Seq.newBuilder[QuotaEvent]
          batch.toSeq.sortBy(e => (e.ms, e.event_id)).foreach { e =>
            if (e.ms > lastMs || (e.ms == lastMs && e.event_id > lastId)) {
              if (cnt < n) {
                cnt += 1
                admitted += QuotaEvent(e.event_id, e.user_id, e.ms, cnt)
              }
              lastMs = e.ms
              lastId = e.event_id
            }
          }
          state.update((cnt, lastMs, lastId))
          admitted.result().iterator
      }
  }

  /** View→purchase latency quantiles per market segment — the
    * time-to-conversion profile: each purchase's latency to the SAME
    * user's most recent prior view (as-of backward, bounded by
    * `toleranceMs`), rolled up as exact interpolated quantiles per the
    * customer's market segment. The as-of max-aggregation (one hash agg,
    * no per-purchase window) and the bounded candidate slab are the
    * [[nearestEventJoinOn]] scale shape; the quantile layer is the q81
    * contract (Spark `percentile` and DuckDB `quantile_cont` share the
    * linear-interpolation definition; latencies are exact integers, the
    * interpolated value is one double rounded). Purchases with no view in
    * the window (or users off the customer dim) drop — inner semantics. */
  def purchaseLatency(spark: SparkSession, dir: String,
      toleranceMs: Long = 14L * 86400000L,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    val ev = events(spark, dir).select(col("event_id"), col("user_id"),
      col("event_type"), unix_millis(col("ts")).as("ms"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ms").as("p_ms"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ms").as("v_ms"))
    val lat = p.join(v, Seq("user_id"))
      .filter(col("v_ms") <= col("p_ms") &&
        col("v_ms") >= col("p_ms") - toleranceMs)
      .groupBy("user_id", "purchase_id", "p_ms")
      .agg(max(col("v_ms")).as("last_view_ms"))
      .select(col("user_id"), (col("p_ms") - col("last_view_ms")).as("latency_ms"))
    val dim = broadcast(graft.io.Tables(spark, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment")))
    lat.join(dim, "user_id")
      .groupBy("segment")
      .agg(percentile(col("latency_ms"), typedlit(qs)).as("quants"))
      .select(col("segment"), posexplode(col("quants")).as(Seq("pos", "latency_q")))
      .select(col("segment"), (col("pos") + 1).cast("long").as("q_pos"),
        round(col("latency_q"), 6).as("latency_q"))
      .orderBy("segment", "q_pos")
  }

  /** First-order Markov transition matrix of user behavior: counts and
    * conditional probabilities P(next event type | current) over each
    * user's time-ordered event sequence — the navigation model behind
    * funnel design and anomalous-flow detection (a (purchase → error)
    * cell that grows week-over-week is an incident signal). Transitions
    * are per-user consecutive pairs — users never bleed into each other.
    *
    * Shape: one per-user lead() window (the q109/q53 per-key sort — the
    * state of the art for sequence derivation at scale: partition by
    * user, never a global sort), then a |types|² hash agg; probabilities
    * divide exact integer counts by the exact per-from total (broadcast
    * |types|-row frame), one double division rounded — engine-exact. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame =
    eventTransitionsOn(events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms")))

  /** [[eventTransitions]]'s core on a prepared (user_id, event_id,
    * event_type, ms) frame — unit-testable without the parquet source. */
  def eventTransitionsOn(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    val t = ev
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTot = t.groupBy("from_type").agg(sum("n").as("n_from"))
    t.join(broadcast(fromTot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("n_from").cast("double"), 6).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** Rolling z-score anomaly detection on the hourly event-rate series —
    * the metric-alarm operator of an ops dashboard: for each event type,
    * each hour's count is scored against the trailing `lookback` hours'
    * mean and sample standard deviation, and hours with |z| ≥ `zMin` are
    * flagged. Counts (not value sums) keep every accumulated moment
    * BIGINT-exact; the z is ONE double expression over (n, Σ, Σ²) with
    * identical operand order in both engines —
    * z = (n − Σ/L) / √((Σ² − Σ·Σ/L) / (L−1)) — so the rounded score is
    * engine-exact (the [[graft.llmdata.TextAnalysis.sourceLengthTokenCorr]]
    * rule: never let a double accumulate across rows).
    *
    * Shape: one hash agg to the (type, hour) grain — the shuffle carries
    * ≤ types × hours rows — then a per-type ROWS window over the tiny
    * hourly series (thousands of rows per type per year; the window sort
    * is per-type, not global). Only hours with a FULL lookback of prior
    * observed hours are scored (count-over-window == lookback), so the
    * score never mixes a cold start into the baseline. ROWS semantics:
    * the baseline is the previous `lookback` OBSERVED hours — an hour
    * with zero events of a type contributes no row; a gap-filling
    * RANGE variant would densify the grid first (the q37 shape).
    * Positive-epoch assumption: `div` hour bucketing matches floor for
    * the ts ≥ 1970 data this table carries (the q139 rule). */
  def eventRateAnomalies(spark: SparkSession, dir: String,
      lookback: Int = 24, zMin: Double = 2.0): DataFrame =
    eventRateAnomaliesOn(events(spark, dir)
      .select(col("event_type"), unix_millis(col("ts")).as("ms")), lookback, zMin)

  /** [[eventRateAnomalies]]'s core on a prepared (event_type, ms) frame —
    * unit-testable without the parquet source. */
  def eventRateAnomaliesOn(ev: DataFrame, lookback: Int, zMin: Double): DataFrame = {
    val hourly = ev
      .select(col("event_type"), expr("ms div 3600000").as("h"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(-lookback, -1)
    val lb = lit(lookback.toDouble)
    val scored = hourly
      .withColumn("w_n", count(col("n")).over(w))
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .filter(col("w_n") === lookback)
      // zero-variance baseline (L·Σ² == Σ·Σ, exact integer test): a spike
      // against it is division by zero — undefined alarm, excluded.
      .filter(col("s2") * lit(lookback.toLong) > col("s1") * col("s1"))
      .select(col("event_type"), col("h"), col("n"),
        round((col("n").cast("double") - col("s1").cast("double") / lb) /
          sqrt((col("s2").cast("double") -
            col("s1").cast("double") * col("s1").cast("double") / lb) /
            lit(lookback - 1.0)), 6).as("z"))
    scored.filter(abs(col("z")) >= zMin).orderBy("event_type", "h")
  }

  /** A scored hour emitted by [[streamingAnomalies]]. */
  final case class HourScore(event_type: String, h: Long, n: Long, z: Double)

  /** Keyed state for [[streamingAnomaliesCore]]: the last `lookback`
    * CLOSED hours' (hour, count) pairs plus the currently-accumulating
    * hour — constant-size per key by construction. */
  final case class AnomState(hours: Seq[Long], counts: Seq[Long],
    curH: Long, curN: Long)

  /** Streaming twin of [[eventRateAnomalies]] — the live metric alarm:
    * per event type, each hour's count is z-scored against the trailing
    * `lookback` closed hours the moment the hour CLOSES (the first event
    * of a later hour arrives). The third order-sensitive stateful operator
    * ([[streamingDebounce]], [[streamingQuota]]): same arrival contract
    * (non-decreasing event time per key across micro-batches; intra-batch
    * disorder sorted away; stragglers into a closed hour are dropped —
    * the watermark posture, hours never reopen).
    *
    * Parity with the batch scorer: identical z expression (same operand
    * order), identical full-lookback and positive-variance guards — the
    * settled output equals the batch result restricted to CLOSED hours,
    * i.e. minus each type's final (still-open) hour, which a live alarm
    * cannot score yet. State is `lookback` (hour, count) pairs + one open
    * counter per key — bounded regardless of stream length. */
  def streamingAnomalies(spark: SparkSession, dir: String,
      lookback: Int = 24, zMin: Double = 2.0): DataFrame =
    settle(spark, dir, stream => {
      val s2 = stream.sparkSession
      import s2.implicits._
      streamingAnomaliesCore(
        stream.select(col("event_type"), unix_millis(col("ts")).as("ms"))
          .as[(String, Long)], lookback, zMin).toDF()
    }, outputMode = "append")

  /** [[streamingAnomalies]]'s typed core — unit-testable with MemoryStream. */
  def streamingAnomaliesCore(events: Dataset[(String, Long)],
      lookback: Int, zMin: Double): Dataset[HourScore] = {
    val spark = events.sparkSession
    import spark.implicits._
    val lb = lookback.toDouble
    events.groupByKey(_._1)
      .flatMapGroupsWithState[AnomState, HourScore](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (etype, batch, state) =>
          var st = state.getOption.getOrElse(
            AnomState(Seq.empty, Seq.empty, Long.MinValue, 0L))
          val out = Seq.newBuilder[HourScore]
          def close(): Unit = if (st.curH != Long.MinValue) {
            if (st.hours.size == lookback) {
              val s1 = st.counts.sum
              val s2 = st.counts.map(c => c * c).sum
              if (s2 * lookback > s1 * s1) {
                val z = (st.curN.toDouble - s1.toDouble / lb) /
                  math.sqrt((s2.toDouble - s1.toDouble * s1.toDouble / lb) / (lb - 1.0))
                val z6 = BigDecimal(z)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                if (math.abs(z6) >= zMin) out += HourScore(etype, st.curH, st.curN, z6)
              }
            }
            val kept = (st.hours :+ st.curH).takeRight(lookback)
            val keptN = (st.counts :+ st.curN).takeRight(lookback)
            st = AnomState(kept, keptN, Long.MinValue, 0L)
          }
          batch.toSeq.map(_._2 / 3600000L).sorted.foreach { h =>
            if (h == st.curH) st = st.copy(curN = st.curN + 1)
            else if (h > st.curH) {
              close()
              st = st.copy(curH = h, curN = 1L)
            } // h < curH: straggler into a closed hour — dropped
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** RFM segmentation (q242) — the classic customer-value triage:
    * per user, Recency (latest purchase), Frequency (purchase count)
    * and Monetary (decimal-exact value sum), each quartiled with
    * `ntile(4)` under a deterministic (metric, user_id) order —
    * rank-based scoring is engine-exact where any value-bucket scheme
    * would inherit float boundaries. The three windows run over the
    * POST-AGGREGATION per-user frame (one row per user), totally
    * ordered without a partition key: at warehouse scale this is the
    * documented trade — swap ntile for exact percentile cutpoints
    * (q81's order-statistics machinery) to avoid the global sort; the
    * segment semantics are unchanged. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val p = events(spark, dir).filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(unix_millis(col("ts"))).as("last_purchase_ms"),
        count(lit(1)).as("n_purchases"),
        sum(col("value").cast(
          org.apache.spark.sql.types.DataTypes.createDecimalType(18, 6)))
          .as("total_value"))
    import org.apache.spark.sql.expressions.Window
    val rW = Window.orderBy(col("last_purchase_ms"), col("user_id"))
    val fW = Window.orderBy(col("n_purchases"), col("user_id"))
    val mW = Window.orderBy(col("total_value"), col("user_id"))
    p.withColumn("r_score", ntile(4).over(rW).cast("long"))
      .withColumn("f_score", ntile(4).over(fW).cast("long"))
      .withColumn("m_score", ntile(4).over(mW).cast("long"))
      .select(col("user_id"), col("last_purchase_ms"), col("n_purchases"),
        col("total_value").cast("double").as("total_value"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(lit("R"), col("r_score"), lit("F"), col("f_score"),
          lit("M"), col("m_score")).as("segment"))
  }

  /** Leave-last-out evaluation split (q248) — the recommender-eval
    * protocol: each user's LATEST purchase becomes the held-out test
    * point (point-in-time correct: the model trains strictly on the
    * past), the rest train; single-purchase users stay train-only (no
    * test point without history). The winner is the max `(ts, event_id)`
    * struct per user — one hash agg + a broadcast-able join back, no
    * window over the fact stream. */
  def leaveLastOutSplit(spark: SparkSession, dir: String): DataFrame = {
    val p = events(spark, dir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"))
    val last = p.groupBy("user_id")
      .agg(max(struct(col("ms"), col("event_id"))).as("w"),
        count(lit(1)).as("n_purchases"))
      .select(col("user_id"), col("w.event_id").as("last_id"), col("n_purchases"))
    p.join(broadcast(last), "user_id")
      .select(col("event_id"), col("user_id"),
        when(col("event_id") === col("last_id") && col("n_purchases") > 1L, "test")
          .otherwise("train").as("split"))
  }

  /** Day-grain temporal holdout split (q256): train on the past, test on
    * the future — the anti-leakage evaluation protocol for anything
    * time-dependent (forecasting, recommendation, drift-sensitive quality
    * models), where a RANDOM split would let the model see the future of
    * the very series it is tested on. The cutoff day is data-derived: the
    * earliest calendar day whose cumulative event count reaches `frac` of
    * the corpus; train = events up to and including that day, test =
    * strictly after. Output: per-user train/test event counts (users whose
    * activity lies wholly after the cutoff appear with n_train = 0 — the
    * cold-start population an evaluation must not silently drop).
    *
    * Scale shape: the quantile is NOT a global sort — events collapse to a
    * day-grain histogram first (one hash agg; ≤ 366 rows/year regardless
    * of corpus size), the cumulative window runs over that bounded frame,
    * and the 1-row cutoff broadcasts back onto the fact stream. The
    * fraction comparison (`c >= frac·n_total`) is a single scalar double
    * op both engines evaluate identically. */
  def temporalHoldoutSplit(spark: SparkSession, dir: String,
      frac: Double = 0.8): DataFrame = {
    val e = events(spark, dir).select(col("user_id"), to_date(col("ts")).as("d"))
    val dayCounts = e.groupBy("d").agg(count(lit(1)).as("n"))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = dayCounts.agg(sum(col("n")).as("n_total"))
    val cut = dayCounts.withColumn("c", sum(col("n")).over(w))
      .crossJoin(broadcast(tot))
      .filter(col("c") >= lit(frac) * col("n_total"))
      .agg(min(col("d")).as("cut_day"))
    e.crossJoin(broadcast(cut))
      .groupBy("user_id")
      .agg(sum(when(col("d") <= col("cut_day"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("d") > col("cut_day"), 1L).otherwise(0L)).as("n_test"))
  }

  /** Next-event-type supervised dataset construction (q249): per user,
    * ordered by event time, each event becomes a training example whose
    * features are the two PRECEDING event types and whose label is the
    * current type — the sequence-model dataset builder (the batch twin
    * of what an online feature store materializes). Two lag windows over
    * one user partitioning; examples without a full context are dropped
    * (a NULL-padded context teaches the model that histories start,
    * which is a modeling choice — the default here is the strict one). */
  def nextEventDataset(spark: SparkSession, dir: String): DataFrame =
    nextEventDatasetFrom(events(spark, dir))

  private[graft] def nextEventDatasetFrom(ev: DataFrame): DataFrame = {
    val e = ev.select(col("user_id"),
      unix_millis(col("ts")).as("ms"), col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    e.withColumn("prev1", lag(col("event_type"), 1).over(w))
      .withColumn("prev2", lag(col("event_type"), 2).over(w))
      .filter(col("prev2").isNotNull)
      .select(col("user_id"), col("event_id").as("example_id"),
        col("prev2"), col("prev1"), col("event_type").as("label"))
  }

  /** Event-type co-occurrence lift matrix (q240): for every unordered
    * type pair, `lift = P(a ∧ b) / (P(a)·P(b))` over per-user baskets —
    * the market-basket association measure (lift > 1: types travel
    * together; < 1: they repel). Baskets are the distinct (user, type)
    * frame; the pair counts come from a per-user self-join bounded by
    * the type cardinality (≤|types| rows per user — never a row-level
    * product), singles and the user total are two tiny aggs broadcast
    * back. Counts are exact integers; only the final lift divides. */
  def typeLiftMatrix(spark: SparkSession, dir: String): DataFrame =
    typeLiftMatrixFrom(events(spark, dir))

  private[graft] def typeLiftMatrixFrom(ev: DataFrame): DataFrame = {
    val ut = ev.select(col("user_id"), col("event_type")).distinct()
    val singles = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_single"))
    val total = ut.select(col("user_id")).distinct().agg(count(lit(1)).as("n_users"))
    val pairs = ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")), "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(singles.select(col("event_type").as("type_a"),
        col("n_single").as("na"))), "type_a")
      .join(broadcast(singles.select(col("event_type").as("type_b"),
        col("n_single").as("nb"))), "type_b")
      .crossJoin(broadcast(total))
      .select(col("type_a"), col("type_b"), col("n_both"),
        round(col("n_both").cast("double") * col("n_users").cast("double") /
          (col("na").cast("double") * col("nb").cast("double")), 6).as("lift"))
  }

  /** Streaming ingest data-quality gate (q238): the q216 constraint
    * shape as a LIVE monitor — per-row rules (key present, accepted
    * event type, finite non-negative value, timestamp inside the
    * plausible range) as conditional counts in a stateless complete-mode
    * streaming aggregation; the settled totals equal the batch audit by
    * construction, which the shared oracle certifies. Cross-row rules
    * (key uniqueness) are deliberately ABSENT here: exact
    * `count(DISTINCT)` needs the whole history and belongs to the batch
    * gate — a streaming gate that silently approximated uniqueness
    * would lie exactly where it matters. State is the single running
    * counter row. */
  def streamingIngestGate(spark: SparkSession, dir: String): DataFrame =
    settle(spark, dir, stream => ingestGateAgg(stream), outputMode = "complete")

  private[graft] def ingestGateAgg(ev: DataFrame): DataFrame = {
    val rules = Seq(
      "event_id_not_null" -> col("event_id").isNotNull,
      "type_accepted" -> col("event_type").isin("view", "click", "purchase", "signup", "error"),
      "value_finite_nonneg" -> (col("value") >= 0.0 && !isnan(col("value"))),
      "ts_in_range" -> col("ts").between(lit("1990-01-01").cast("timestamp"),
        lit("2100-01-01").cast("timestamp")))
    val one = ev.agg(count(lit(1)).as("__rows"),
      rules.map { case (n, healthy) =>
        sum(when(healthy, 0L).otherwise(1L)).as(s"__v_$n") }: _*)
    val stackArgs = rules.map { case (n, _) => s"'$n', __v_$n" }.mkString(", ")
    one.select(col("__rows"),
        expr(s"stack(${rules.length}, $stackArgs) AS (rule, n_violations)"))
      .select(col("rule"), col("__rows").as("n_checked"),
        col("n_violations").cast("long").as("n_violations"))
  }

  final case class MgState(seq: Long, counters: Map[Long, Long])
  final case class MgCand(event_type: String, batch_seq: Long, user_id: Long)

  /** Streaming Misra–Gries heavy users per event type (q234): the q209
    * sketch maintained LIVE in keyed state — per type, at most k−1
    * bounded counters (constant state regardless of stream length or
    * user cardinality, the 100 TB state-store contract), updated with
    * the classic increment/insert/decrement-all rule as micro-batches
    * arrive. Each batch emits the current candidate set tagged with a
    * per-key batch sequence; the settle step keeps each key's FINAL
    * emission.
    *
    * Determinism argument (the q209 one, extended to streams): the
    * sketch CONTENTS depend on arrival order across micro-batches, but
    * the MG guarantee does not — any user with true frequency > n/k for
    * its type survives with a nonzero counter under every interleave,
    * so the final candidates are a superset of the true heavy set. The
    * exact-verification join against the settled batch table then
    * filters to exactly `count·k > n_type` — making the OUTPUT
    * order-independent and equal to the all-exact batch oracle even
    * though the intermediate sketch is not. */
  def streamingHeavyUsers(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val cands = settle(spark, dir, stream => {
      val s2 = stream.sparkSession
      import s2.implicits._
      streamingHeavyUsersCore(
        stream.select(col("event_type"), col("user_id")).as[(String, Long)], k).toDF()
    }, outputMode = "append")
    val last = cands.groupBy("event_type").agg(max(col("batch_seq")).as("batch_seq"))
    val finalCands = cands.join(last, Seq("event_type", "batch_seq"))
      .select("event_type", "user_id")
    val exact = events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_occurrences"))
    val totals = events(spark, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_type"))
    finalCands.join(exact, Seq("event_type", "user_id"))
      .join(broadcast(totals), "event_type")
      .filter(col("n_occurrences") * k > col("n_type"))
      .select("event_type", "user_id", "n_occurrences")
  }

  /** One Misra–Gries update — the pure fold the streaming state machine
    * iterates (classic increment / insert-if-room / decrement-all rule;
    * `|m| ≤ k−1` is invariant). Extracted so the sketch algebra is
    * property-testable without a stream: for ANY sequence, every element
    * with frequency > n/k survives with a counter ≥ freq − n/k. */
  private[graft] def mgFold(m: Map[Long, Long], uid: Long, k: Int): Map[Long, Long] =
    if (m.contains(uid)) m + (uid -> (m(uid) + 1L))
    else if (m.size < k - 1) m + (uid -> 1L)
    else m.collect { case (u, c) if c > 1L => u -> (c - 1L) }

  /** [[streamingHeavyUsers]]'s typed core — unit-testable with MemoryStream. */
  def streamingHeavyUsersCore(events: Dataset[(String, Long)], k: Int): Dataset[MgCand] = {
    require(k >= 2)
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[MgState, MgCand](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (etype, batch, state) =>
          val st = state.getOption.getOrElse(MgState(0L, Map.empty))
          var m = st.counters
          batch.foreach { case (_, uid) => m = mgFold(m, uid, k) }
          val seq = st.seq + 1L
          state.update(MgState(seq, m))
          m.keysIterator.map(u => MgCand(etype, seq, u))
      }
  }

  /** Nearest-event join: each `purchase` matched to the CLOSEST-in-time
    * `view` of the same user within ±`toleranceMs` — the "nearest" as-of
    * variant (bidirectional search; [[asOfJoin]] is the backward-only
    * form). Tie on |Δt| → smaller view event_id, so the match is
    * total-order deterministic.
    *
    * Shape: an equi-join on user_id with the |Δt| ≤ tolerance range
    * predicate — per-user candidate blocks, never a cross join — then one
    * `min(struct(abs_dt, view_id))` hash agg per purchase (argmin by the
    * lexicographic struct order, map-side combined; no per-purchase
    * window). The tolerance is the scale bound: candidates per purchase
    * are the user's views inside a fixed time slab, so cost tracks
    * per-user activity density, not history length; at 100 TB the same
    * plan additionally buckets both sides by floor(ms / toleranceMs)
    * (the q129 range-bucket rewrite — each purchase probes 3 buckets)
    * to co-partition by time as well as user. Purchases with no view in
    * tolerance drop out (inner semantics), as in any tolerance-bounded
    * as-of. */
  def nearestEventJoin(spark: SparkSession, dir: String,
      toleranceMs: Long = 14L * 86400000L): DataFrame =
    nearestEventJoinOn(events(spark, dir).select(col("event_id"), col("user_id"),
      col("event_type"), unix_millis(col("ts")).as("ms")), toleranceMs)

  /** [[nearestEventJoin]]'s core on a prepared (event_id, user_id,
    * event_type, ms) frame — unit-testable without the parquet source. */
  def nearestEventJoinOn(ev: DataFrame, toleranceMs: Long): DataFrame = {
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ms").as("p_ms"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ms").as("v_ms"))
    p.join(v, Seq("user_id"))
      .filter(col("v_ms") >= col("p_ms") - toleranceMs &&
        col("v_ms") <= col("p_ms") + toleranceMs)
      .select(col("user_id"), col("purchase_id"), col("view_id"),
        abs(col("v_ms") - col("p_ms")).as("abs_dt_ms"))
      .groupBy("user_id", "purchase_id")
      .agg(min(struct(col("abs_dt_ms"), col("view_id"))).as("best"))
      .select(col("user_id"), col("purchase_id"),
        col("best.view_id").as("view_id"), col("best.abs_dt_ms").as("abs_dt_ms"))
      .orderBy("purchase_id")
  }

  /** Custom keyed state via `mapGroupsWithState` — the extension point for
    * semantics the built-in windowed aggregations can't express
    * (SURVEY.md §2.10). State is one constant-size [[UserStat]] per user,
    * updated per micro-batch and carried across batches by the state
    * store; only order-independent statistics (count/min/max) are kept so
    * the settled result is deterministic and equal to the batch
    * aggregation oracle. Cross-batch accumulation is pinned in
    * StreamingSpec with a MemoryStream fixture. `NoTimeout` keeps state
    * for every key forever — fine for bounded key spaces and tests; the
    * production path for unbounded key churn is [[statefulUserStatsTtl]]. */
  def statefulUserStats[T](events: Dataset[(Long, Double)]): Dataset[UserStat] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[UserStat, UserStat](GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[(Long, Double)], state: GroupState[UserStat]) =>
          var st = state.getOption.getOrElse(
            UserStat(user, 0L, Double.PositiveInfinity, Double.NegativeInfinity))
          batch.foreach { case (_, v) =>
            st = UserStat(user, st.n_events + 1L,
              math.min(st.min_value, v), math.max(st.max_value, v))
          }
          state.update(st)
          st
      }
  }

  /** [[UserStat]] plus the max event time folded into the key's current
    * state lifetime — the emission-ordering handle that lets a settle step
    * pick a key's genuinely-last emission under TTL eviction (a fresh
    * post-eviction lifetime restarts `n_events` at 1, so counts cannot
    * order emissions; event time can, because stateful ops drop rows below
    * the watermark and eviction itself requires the watermark to have
    * passed the old lifetime's horizon — `last_ts_ms` is strictly
    * increasing across lifetimes). */
  final case class UserStatTtl(user_id: Long, n_events: Long,
      min_value: Double, max_value: Double, last_ts_ms: Long)

  /** [[statefulUserStats]] with a bounded-state contract for unbounded key
    * churn: event-time TTL via `GroupStateTimeout.EventTimeTimeout`. Each
    * update arms a timeout at (max event time seen for the key) + `ttl`;
    * when the stream's watermark passes it, the callback fires with
    * `hasTimedOut`, emits the key's final stat once, and `state.remove()`s
    * it — so at 100 TB the store holds only keys active within the TTL
    * horizon, not every user ever seen. A key seen again after eviction
    * re-initializes from zero (pinned in StreamingSpec). Requires a
    * watermark on the `ts` column upstream. */
  def statefulUserStatsTtl(events: Dataset[(Long, java.sql.Timestamp, Double)],
      ttl: java.time.Duration): Dataset[UserStatTtl] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[UserStatTtl, UserStatTtl](GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[UserStatTtl]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            var st = state.getOption.getOrElse(
              UserStatTtl(user, 0L, Double.PositiveInfinity, Double.NegativeInfinity,
                Long.MinValue))
            var maxTs = Long.MinValue
            batch.foreach { case (_, ts, v) =>
              maxTs = math.max(maxTs, ts.getTime)
              st = UserStatTtl(user, st.n_events + 1L,
                math.min(st.min_value, v), math.max(st.max_value, v),
                math.max(st.last_ts_ms, ts.getTime))
            }
            state.update(st)
            // Arm relative to event time so the horizon is data-defined;
            // never below the current watermark (Spark rejects that).
            val target = maxTs + ttl.toMillis
            state.setTimeoutTimestamp(math.max(target, state.getCurrentWatermarkMs() + 1L))
            st
          }
      }
  }

  /** [[statefulUserStatsTtl]] driven end-to-end over the events parquet as
    * a Structured Streaming query (update mode) — the production shape:
    * watermarked source, TTL'd keyed state. The state store emits a row per
    * key per micro-batch (plus one final row when a timeout evicts), so the
    * settled emission log is reduced to each key's last-lifetime stat by
    * [[finalUserStats]] — correct whether or not any key evicts mid-run.
    * Over this fixture the 365-day TTL spans the whole event range, so the
    * result equals the batch groupBy oracle.
    *
    * Cost decomposition (sf0.1, local[32], min of 3): q58
    * end-to-end 1.34 s with rep spread 1.34–2.16 s on one JVM; the
    * null-drain-events baseline (trivial projection through the same
    * micro-batch machinery) is 0.67 s. So ~half the wall-clock is fixed
    * settle-harness cost, and the run-to-run spread of a single rep
    * (±60%) exceeds the r10→r12 driver-bench delta (1.49→1.99 s) — that
    * drift is harness noise, not a plan change; the stateful core's
    * residual is ~0.7 s and flat. */
  def streamingUserStats(spark: SparkSession, dir: String): DataFrame =
    finalUserStats(settle(spark, dir, stream => {
      val s = stream.sparkSession
      import s.implicits._
      statefulUserStatsTtl(
        stream.withWatermark("ts", "1 hour")
          .select(col("user_id"), col("ts"), col("value"))
          .as[(Long, java.sql.Timestamp, Double)],
        java.time.Duration.ofDays(365)).toDF()
    }, outputMode = "update"))

  /** Reduce an update-mode [[UserStatTtl]] emission log to one row per
    * user: the emission with the greatest `last_ts_ms` wins (tie-broken by
    * `n_events` — a timeout emission duplicates the lifetime's last update
    * at the same event time). Selecting by max `n_events` instead would
    * resurrect a PRE-eviction partial after a key evicts and re-accumulates,
    * because the fresh lifetime restarts its count at 1; `last_ts_ms` is
    * strictly increasing across lifetimes (see [[UserStatTtl]]), so it
    * orders emissions correctly under eviction. Pinned in StreamingSpec. */
  private[streaming] def finalUserStats(settled: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("last_ts_ms").desc, col("n_events").desc)
    settled.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("user_id"), col("n_events"), col("min_value"), col("max_value"))
  }

  /** Output row of [[twsUserTypeStats]]. */
  final case class TwsUserStat(user_id: Long, n_events: Long, n_types: Long,
      min_value: Double, max_value: Double)

  /** Per-user running stats on Spark 4's `transformWithState` arbitrary-
    * state API (the successor to `mapGroupsWithState`, SPARK-46815): the
    * operator this engine reaches for when keyed state is COMPOSITE.
    * `mapGroupsWithState` forces one monolithic state object per key —
    * every update deserializes and rewrites all of it; here state is two
    * independently-addressable variables on the RocksDB store (the only
    * provider the API supports): a [[ValueState]] scalar triple
    * (n/min/max) and a [[MapState]] of per-event-type counts, point-read
    * and point-written per input row — at 100 TB a key's map can hold
    * thousands of entries and an update touches only the entries it needs.
    * Every statistic kept is order-independent (counts/min/max), so the
    * settled output is deterministic and equal to the batch oracle.
    * TTLConfig.NONE mirrors q58's bounded-key-space contract; the
    * unbounded-churn path would pass a real TTL (the store then expires
    * per-variable, per-key — no timeout callback code at all, unlike
    * [[statefulUserStatsTtl]]'s hand-rolled eviction). */
  private[streaming] class UserTypeStatsProcessor
      extends StatefulProcessor[Long, (Long, String, Double), TwsUserStat] {
    @transient private var stats: ValueState[(Long, Double, Double)] = _
    @transient private var typeCounts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      stats = getHandle.getValueState[(Long, Double, Double)]("stats",
        org.apache.spark.sql.Encoders.product[(Long, Double, Double)],
        TTLConfig.NONE)
      typeCounts = getHandle.getMapState[String, Long]("types",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, String, Double)],
        timers: TimerValues): Iterator[TwsUserStat] = {
      var (n, mn, mx) = if (stats.exists()) stats.get()
        else (0L, Double.PositiveInfinity, Double.NegativeInfinity)
      rows.foreach { case (_, et, v) =>
        n += 1L
        mn = math.min(mn, v)
        mx = math.max(mx, v)
        val c = if (typeCounts.containsKey(et)) typeCounts.getValue(et) else 0L
        typeCounts.updateValue(et, c + 1L)
      }
      stats.update((n, mn, mx))
      Iterator.single(TwsUserStat(key, n, typeCounts.keys().size.toLong, mn, mx))
    }
  }

  /** The settled [[UserTypeStatsProcessor]] stream (q257): per-user event
    * count, DISTINCT event-type count (exact — it is the MapState key
    * set), and value min/max, equal to the batch GROUP BY oracle. With
    * TimeMode.None state never evicts, so `n_events` increases
    * monotonically across a key's update-mode emissions and max-n picks
    * each key's final row. */
  def twsUserTypeStats(spark: SparkSession, dir: String): DataFrame = {
    val settled = settle(spark, dir, stream => {
      val s = stream.sparkSession
      import s.implicits._
      stream.select(col("user_id"), col("event_type"), col("value"))
        .as[(Long, String, Double)]
        .groupByKey(_._1)
        .transformWithState(new UserTypeStatsProcessor,
          TimeMode.None(), OutputMode.Update())
        .toDF()
    }, outputMode = "update",
      extraConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    val w = Window.partitionBy("user_id").orderBy(col("n_events").desc)
    settled.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("user_id"), col("n_events"), col("n_types"),
        col("min_value"), col("max_value"))
  }

  final case class TwsSession(user_id: Long, session_seq: Long,
      session_start_ms: Long, duration_ms: Long, n_events: Long,
      closed: Boolean)

  /** Event-time-TIMER sessionization processor (q264) — the
    * `transformWithState` surface q257 does not exercise: per-user gap
    * sessions closed by REGISTERED EVENT-TIME TIMERS (the
    * timer/handleExpiredTimer API), the hand-rolled equivalent of
    * `session_window`'s merging state and the shape every custom
    * session-like operator (auctions, incident windows, call legs) takes
    * when the built-in window semantics don't fit.
    *
    * Per key the state is one open session triple (start, last, n) + the
    * emitted-session counter — constant size. Each input batch folds its
    * rows in (ts, event_id) order: a row within `gapMs` of the open
    * session extends it; a later row CLOSES it (emitted `closed = true`)
    * and opens the next. After folding, the ONE pending timer is re-armed
    * to `last + gapMs + 1` (stale timers deleted — at most one live timer
    * per key, the bounded-timer-state contract); when the WATERMARK
    * passes it, [[handleExpiredTimer]] closes the session with no further
    * input for that key — the production path for a user who simply
    * stopped, which a data-driven close can never reach.
    *
    * A snapshot of the still-open session also emits each batch
    * (`closed = false`, carrying its prospective seq): on a drained
    * stream the watermark stops at max-event-time, so sessions ending
    * within `gapMs` of the corpus edge can never time out — the settle
    * takes, per (user, seq), the closed row if one exists else the
    * latest snapshot (one argmax over emissions), making the settled
    * output EQUAL to the batch [[sessionize]] oracle. Cross-batch
    * disorder is bounded by the stream's watermark delay as usual;
    * within-batch disorder is absorbed by the sort (bounded by batch
    * size, not stream length). */
  private[streaming] class SessionTimerProcessor(gapMs: Long)
      extends StatefulProcessor[Long, (Long, Long, Long), TwsSession] {
    @transient private var open: ValueState[(Long, Long, Long)] = _
    @transient private var seq: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[(Long, Long, Long)]("open",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("seq",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    private def nextSeq(): Long = {
      val n = (if (seq.exists()) seq.get() else 0L) + 1L
      seq.update(n)
      n
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
        timers: TimerValues): Iterator[TwsSession] = {
      val sorted = rows.toSeq.sortBy { case (_, ts, id) => (ts, id) }
      var out = List.empty[TwsSession]
      var st = if (open.exists()) Some(open.get()) else None
      sorted.foreach { case (_, ts, _) =>
        st match {
          case Some((s0, last, n)) if ts - last <= gapMs =>
            st = Some((s0, math.max(last, ts), n + 1L))
          case Some((s0, last, n)) =>
            out ::= TwsSession(key, nextSeq(), s0, last - s0, n, closed = true)
            st = Some((ts, ts, 1L))
          case None =>
            st = Some((ts, ts, 1L))
        }
      }
      st.foreach { case (s0, last, n) =>
        open.update((s0, last, n))
        val arm = last + gapMs + 1L
        // Re-arm only when the target timer isn't already registered:
        // registering an already-present expiry is undocumented API
        // territory, and at most one live timer per key is the contract.
        var armed = false
        getHandle.listTimers().foreach { t =>
          if (t != arm) getHandle.deleteTimer(t) else armed = true
        }
        if (!armed) getHandle.registerTimer(arm)
        val prospective = (if (seq.exists()) seq.get() else 0L) + 1L
        out ::= TwsSession(key, prospective, s0, last - s0, n, closed = false)
      }
      out.reverseIterator
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[TwsSession] = {
      if (open.exists()) {
        val (s0, last, n) = open.get()
        if (expired.getExpiryTimeInMs >= last + gapMs) {
          open.clear()
          Iterator.single(TwsSession(key, nextSeq(), s0, last - s0, n, closed = true))
        } else Iterator.empty
      } else Iterator.empty
    }
  }

  /** The settled [[SessionTimerProcessor]] stream (q264): per-user gap
    * sessions via event-time timers, equal to the batch [[sessionize]]
    * (q53) oracle. Zero watermark delay maximizes timer coverage on the
    * drained feed (a production stream trades this knob for disorder
    * tolerance); the per-(user, seq) argmax prefers the closed row — see
    * the processor scaladoc for why corpus-edge sessions settle from
    * snapshots instead of timers. */
  def twsTimerSessions(spark: SparkSession, dir: String,
      gapMs: Long = 300000L): DataFrame = {
    val settled = settle(spark, dir, stream => {
      val s = stream.sparkSession
      import s.implicits._
      stream.withWatermark("ts", "0 milliseconds")
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"), col("event_id"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new SessionTimerProcessor(gapMs),
          TimeMode.EventTime(), OutputMode.Update())
        .toDF()
    }, outputMode = "update",
      extraConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    settled.groupBy("user_id", "session_seq")
      .agg(max(struct(col("closed"), col("n_events"), col("session_start_ms"),
        col("duration_ms"))).as("best"))
      .select(col("user_id"), col("session_seq"),
        col("best.session_start_ms").as("session_start_ms"),
        col("best.duration_ms").as("duration_ms"),
        col("best.n_events").as("n_events"))
  }

  final case class NextEventExample(user_id: Long, example_id: Long,
      prev2: String, prev1: String, label: String)

  /** LIST-state rolling-context processor (q273) — the third
    * `transformWithState` state primitive (q257 exercises ValueState +
    * MapState, q264 timers): per user, the last TWO event types ride a
    * `ListState`, and every arriving event whose history is full emits a
    * next-event training example `(prev2, prev1 → label)` — the
    * streaming form of the q249 batch dataset builder, maintained live
    * as events arrive instead of re-deriving lag windows over the
    * history. State is the bounded 2-element list per key (`put`
    * overwrites the trimmed window each batch — never an unbounded
    * append), the exact discipline a production context-window builder
    * needs at 100 TB. Within-batch order is (ts, event_id); cross-batch
    * order is the stream's arrival order, as in q211. */
  private[streaming] class RollingContextProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, String), NextEventExample] {
    @transient private var hist: ListState[String] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      hist = getHandle.getListState[String]("hist",
        org.apache.spark.sql.Encoders.STRING, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, String)],
        timers: TimerValues): Iterator[NextEventExample] = {
      val sorted = rows.toSeq.sortBy { case (_, ts, id, _) => (ts, id) }
      var h = hist.get().toList // ≤ 2 entries: [prev2, prev1]
      val out = scala.collection.mutable.ListBuffer.empty[NextEventExample]
      sorted.foreach { case (_, _, id, tpe) =>
        if (h.length == 2) out += NextEventExample(key, id, h.head, h(1), tpe)
        h = (h :+ tpe).takeRight(2)
      }
      hist.put(h.toArray)
      out.iterator
    }
  }

  /** The settled [[RollingContextProcessor]] stream (q273): next-event
    * examples from live ListState context windows, equal to the q249
    * batch lag-window oracle. Update mode + memory sink: each example
    * emits exactly once, so the settled table IS the dataset. */
  def twsRollingContext(spark: SparkSession, dir: String): DataFrame =
    settle(spark, dir, stream => {
      val s = stream.sparkSession
      import s.implicits._
      stream.select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("event_id"), col("event_type"))
        .as[(Long, Long, Long, String)]
        .groupByKey(_._1)
        .transformWithState(new RollingContextProcessor,
          TimeMode.None(), OutputMode.Update())
        .toDF()
    }, outputMode = "update",
      extraConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

  /** U-shaped (position-based) multi-touch attribution (q274) — the
    * marketing-standard refinement of q226's first/last endpoints: every
    * touch (view/click) in the lookback window before a purchase gets
    * credit 40% first / 40% last / 20% split across the middles (1 touch
    * → 1.0, 2 touches → 0.5 each). Shape: the q226 per-user equi-join
    * bounded by the `[p_ms − lookback, p_ms]` range residual, then ONE
    * window partitioned by purchase (per-purchase touch lists are
    * lookback-bounded — no global funnel); credit is a closed-form CASE
    * on (position, count), one double division, 6dp round. */
  def uShapedAttribution(spark: SparkSession, dir: String,
      lookbackMs: Long = 3600000L): DataFrame =
    uShapedAttributionFrom(events(spark, dir), lookbackMs)

  private[graft] def uShapedAttributionFrom(ev: DataFrame,
      lookbackMs: Long = 3600000L): DataFrame = {
    val e = ev.select(col("user_id"),
      unix_millis(col("ts")).as("ms"), col("event_id"), col("event_type"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ms").as("p_ms"), col("event_id").as("p_event"))
    val t = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("t_user"), col("ms").as("t_ms"), col("event_id").as("t_event"))
    val joined = p.join(t, col("p_user") === col("t_user") &&
      col("t_ms") >= col("p_ms") - lookbackMs && col("t_ms") <= col("p_ms"))
    val w = Window.partitionBy("p_event").orderBy(col("t_ms"), col("t_event"))
    joined
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("p_event")).cast("long"))
      .select(col("p_event"), col("t_event"), col("rn").as("touch_pos"),
        col("n").as("n_touches"),
        round(when(col("n") === 1, lit(1.0))
          .when(col("n") === 2, lit(0.5))
          .when(col("rn") === 1 || col("rn") === col("n"), lit(0.4))
          .otherwise(lit(0.2) / (col("n") - 2)), 6).as("credit"))
  }

  /** TIME-BOUNDED funnel conversion (q275): how many users did
    * view → click → purchase in order with each step inside
    * `maxStepGapMs` of the previous step's first occurrence — the
    * windowed refinement of q102's unbounded funnel (an unbounded chain
    * calls a click three weeks after the view a "conversion"; every
    * product funnel bounds the step gap). Sequential per-user argmins:
    * stage k is one hash agg over the events filtered by stage k−1's
    * per-user cutoff window (an equi-join on user_id), so the whole
    * funnel is K tiny agg+join rounds — never a per-user event-sequence
    * sort. Stage rows carry user counts and step conversions
    * (stage 1 vs all active users), one double division per row. */
  def funnelConversion(spark: SparkSession, dir: String,
      maxStepGapMs: Long = 7L * 86400000L): DataFrame =
    funnelConversionFrom(events(spark, dir), maxStepGapMs)

  private[graft] def funnelConversionFrom(ev: DataFrame,
      maxStepGapMs: Long = 7L * 86400000L): DataFrame = {
    val e = ev.select(col("user_id"),
      unix_millis(col("ts")).as("ms"), col("event_type"))
    val total = e.agg(countDistinct(col("user_id")).as("n0"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ms").as("m1"))
    val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ms") > col("m1") && col("ms") <= col("m1") + maxStepGapMs)
      .groupBy("user_id").agg(min("ms").as("m2"))
    val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ms") > col("m2") && col("ms") <= col("m2") + maxStepGapMs)
      .groupBy("user_id").agg(min("ms").as("m3"))
    val n1 = s1.agg(count(lit(1)).as("n1"))
    val n2 = s2.agg(count(lit(1)).as("n2"))
    val n3 = s3.agg(count(lit(1)).as("n3"))
    val r1 = n1.crossJoin(broadcast(total)).select(lit(1L).as("step_idx"),
      lit("view").as("step"), col("n1").as("n_users"),
      round(col("n1").cast("double") / col("n0"), 6).as("conversion"))
    val r2 = n2.crossJoin(broadcast(n1)).select(lit(2L).as("step_idx"),
      lit("click").as("step"), col("n2").as("n_users"),
      round(col("n2").cast("double") / col("n1"), 6).as("conversion"))
    val r3 = n3.crossJoin(broadcast(n2)).select(lit(3L).as("step_idx"),
      lit("purchase").as("step"), col("n3").as("n_users"),
      round(col("n3").cast("double") / col("n2"), 6).as("conversion"))
    r1.unionAll(r2).unionAll(r3)
  }

  /** Weekly growth accounting (q276) — the decomposition BEHIND q103's
    * retention matrix: each week's active users split into new (first
    * week), retained (also active last week), and resurrected (returned
    * after a gap), plus the week's churn (active last week, absent now).
    * This is the growth-model identity (active_w = new + retained +
    * resurrected; active_{w-1} = retained + churned) every subscription
    * dashboard decomposes MAU with. Weeks are integer epoch-day/7
    * buckets (no calendar-week locale trap).
    *
    * Shape: the (user, week) distinct activity frame self-joins to its
    * week-1 shadow (equi-join on (user, week)) for retained/churned and
    * to the per-user min-week frame for new — three hash aggs + two
    * equi-joins, all map-side combinable, output <= |weeks| rows. Rows
    * exist for weeks WITH activity (the q103 convention). */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame =
    growthAccountingFrom(events(spark, dir))

  private[graft] def growthAccountingFrom(ev: DataFrame): DataFrame = {
    val act = ev.select(col("user_id"),
        expr("unix_millis(ts) div 86400000 div 7").as("week"))
      .distinct()
    val first = act.groupBy("user_id").agg(min("week").as("first_week"))
    val prev = act.select(col("user_id"), (col("week") + 1L).as("week"),
      lit(1).as("was_prev"))
    val status = act.join(first, "user_id")
      .join(prev, Seq("user_id", "week"), "left")
      .select(col("week"),
        when(col("week") === col("first_week"), "new")
          .when(col("was_prev").isNotNull, "retained")
          .otherwise("resurrected").as("status"))
    val classes = status.groupBy("week").agg(
      sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
      sum(when(col("status") === "retained", 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("status") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
    val churn = act.select(col("user_id"), (col("week") + 1L).as("week"))
      .join(act, Seq("user_id", "week"), "left_anti")
      .groupBy("week").agg(count(lit(1)).as("n_churned"))
    classes.join(churn, Seq("week"), "left")
      .select(col("week"), col("n_new"), col("n_retained"),
        col("n_resurrected"), coalesce(col("n_churned"), lit(0L)).as("n_churned"))
  }

  /** Batch interval (time-range) join — the deterministic batch twin of
    * [[streamingIntervalJoin]]: each `leftType` event joined to the
    * same-user `rightType` events in the preceding `windowMs`. One
    * equi-join shuffle on user_id with the range predicates evaluated as
    * join residuals; per-user match lists are small (bounded by the window)
    * so no pair explosion. DuckDB-oracle-checked (q77); the streaming
    * variant settles to exactly this result (StreamingSpec). */
  def intervalJoin(spark: SparkSession, dir: String,
      leftType: String = "purchase", rightType: String = "view",
      windowMs: Long = 3600000L): DataFrame = {
    val e = events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
        col("event_id"), col("event_type"))
    val p = e.filter(col("event_type") === leftType)
      .select(col("user_id").as("p_user"), col("ts_ms").as("p_ms"), col("event_id").as("p_event"))
    val v = e.filter(col("event_type") === rightType)
      .select(col("user_id").as("v_user"), col("ts_ms").as("v_ms"), col("event_id").as("v_event"))
    p.join(v, col("p_user") === col("v_user") &&
        col("v_ms") >= col("p_ms") - windowMs && col("v_ms") <= col("p_ms"))
      .select(col("p_event"), col("v_event"), (col("p_ms") - col("v_ms")).as("lag_ms"))
  }

  /** Stream-stream interval join: each `leftType` event joined to the
    * same-user `rightType` events in the preceding `windowMs` — both sides
    * watermarked so the join state is evictable (the 100 TB requirement:
    * bounded state, not an unbounded build side). Inner joins emit eagerly;
    * the watermark only bounds retained state — so the delay is derived
    * from the join window itself (`windowMs` + 5 min disorder slack)
    * rather than a fixed constant: a row older than the window plus the
    * tolerated disorder can never produce another match, and every extra
    * watermark minute is pure retained state (the previous fixed 2 h
    * against a 1 h window held ~2× the needed rows at zero semantic
    * benefit). `noDataBatches = false` applies here precisely because the
    * inner join's output never waits on the watermark (see [[settle]]).
    * Settled output equals the batch twin [[intervalJoin]], checked
    * against the same oracle. */
  def streamingIntervalJoin(spark: SparkSession, dir: String,
      leftType: String = "purchase", rightType: String = "view",
      windowMs: Long = 3600000L): DataFrame = {
    val wmMs = windowMs + 300000L
    settle(spark, dir, stream => {
      val p = stream.filter(col("event_type") === leftType)
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_event"))
        .withWatermark("p_ts", s"$wmMs milliseconds")
      val v = stream.filter(col("event_type") === rightType)
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("event_id").as("v_event"))
        .withWatermark("v_ts", s"$wmMs milliseconds")
      p.join(v, col("p_user") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr(s"INTERVAL $windowMs MILLISECONDS") &&
          col("v_ts") <= col("p_ts"))
        .select(col("p_event"), col("v_event"),
          (unix_millis(col("p_ts")) - unix_millis(col("v_ts"))).as("lag_ms"))
    }, outputMode = "append", noDataBatches = false)
  }

  /** Stream-stream LEFT OUTER interval join (q267) — "purchases and the
    * views that preceded them, INCLUDING purchases that never had one,
    * live": the q64 inner machinery with `leftOuter`, the most
    * state-subtle built-in op a production funnel reaches for. Matches
    * emit eagerly (inner semantics); an UNMATCHED left row emits exactly
    * once, null-padded, only when the watermark passes its eviction point
    * (no future right row can match it) — output that exists purely
    * because of watermark advancement, which is why this query KEEPS the
    * no-data batch the inner join skips (the trailing empty micro-batch
    * is what evicts and emits the final nulls).
    *
    * Determinism: on a drained finite stream the watermark stops at
    * `min(max p_ts, max v_ts) − wmDelay`, so left rows at the corpus edge
    * are still in flight — matched rows already emitted, nulls not yet.
    * The settled frame therefore restricts to MATURED purchases
    * (`p_ms < cutoff`, cutoff computed from the batch table with the same
    * watermark arithmetic), making it EQUAL to the batch left join under
    * the same restriction — the oracle. The cross-batch null-only-after-
    * eviction behavior itself (invisible to any batch oracle) is pinned
    * with a MemoryStream in StreamingSpec.
    *
    * Scale: both sides watermarked → join state evictable (left rows held
    * at most `wmDelay` past their own time, right rows at most
    * `windowMs + wmDelay`) — bounded state, the 100 TB requirement. */
  def streamingIntervalJoinOuter(spark: SparkSession, dir: String,
      leftType: String = "purchase", rightType: String = "view",
      windowMs: Long = 3600000L): DataFrame = {
    val wmMs = windowMs + 300000L
    val settled = settle(spark, dir, stream => {
      val p = stream.filter(col("event_type") === leftType)
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_event"))
        .withWatermark("p_ts", s"$wmMs milliseconds")
      val v = stream.filter(col("event_type") === rightType)
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("event_id").as("v_event"))
        .withWatermark("v_ts", s"$wmMs milliseconds")
      p.join(v, col("p_user") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr(s"INTERVAL $windowMs MILLISECONDS") &&
          col("v_ts") <= col("p_ts"), "leftOuter")
        .select(col("p_event"), unix_millis(col("p_ts")).as("p_ms"),
          col("v_event"),
          (unix_millis(col("p_ts")) - unix_millis(col("v_ts"))).as("lag_ms"))
    }, outputMode = "append")
    // Maturity cutoff re-derived from the batch table with the stream's
    // own watermark arithmetic: final watermark = min of the two sides'
    // max event times, each less the delay. Strictly-below rows are
    // guaranteed settled (matched eagerly or null-emitted at eviction);
    // the boundary row itself is excluded from BOTH engines.
    val e = events(spark, dir)
      .select(unix_millis(col("ts")).as("ms"), col("event_type"))
    val cut = e.filter(col("event_type") === leftType).agg(max("ms").as("mp"))
      .crossJoin(e.filter(col("event_type") === rightType).agg(max("ms").as("mv")))
      .select((least(col("mp"), col("mv")) - lit(wmMs)).as("cutoff"))
    settled.crossJoin(broadcast(cut)).filter(col("p_ms") < col("cutoff"))
      .select("p_event", "p_ms", "v_event", "lag_ms")
  }

  /** Multi-stateful streaming pipeline (q299): stream-stream interval
    * JOIN followed by a tumbling-window AGGREGATION in ONE streaming
    * query — two stateful operators chained (the capability Spark added
    * for exactly this attribution shape; before it, the join had to
    * land in a sink and a second query re-read it). The join emits
    * matched (purchase, view) pairs eagerly; the downstream 1-hour
    * window on `p_ts` holds them in ITS OWN state and finalizes a
    * window only when the watermark passes its end — so this query
    * needs the no-data batch, like the outer joins, for the trailing
    * watermark advance to flush finished windows.
    *
    * Determinism: windows strictly below the drained-stream watermark
    * (`min(max p_ts, max v_ts) − wmDelay`) are guaranteed finalized;
    * the settled frame restricts to `window_end < cutoff` and the batch
    * twin (same join, epoch-aligned `floor(p_ms / 1h)` buckets, same
    * restriction) is the oracle.
    *
    * Scale: both state stores are watermark-evicted — join state by the
    * interval bounds (the q64 contract), window state by window end;
    * chaining adds no unbounded retention. */
  def streamingJoinThenWindow(spark: SparkSession, dir: String,
      leftType: String = "purchase", rightType: String = "view",
      windowMs: Long = 3600000L): DataFrame = {
    val wmMs = windowMs + 300000L
    val settled = settle(spark, dir, stream => {
      val p = stream.filter(col("event_type") === leftType)
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_event"))
        .withWatermark("p_ts", s"$wmMs milliseconds")
      val v = stream.filter(col("event_type") === rightType)
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("event_id").as("v_event"))
        .withWatermark("v_ts", s"$wmMs milliseconds")
      p.join(v, col("p_user") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr(s"INTERVAL $windowMs MILLISECONDS") &&
          col("v_ts") <= col("p_ts"))
        .groupBy(window(col("p_ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(unix_millis(col("w.start")).as("window_start_ms"),
          unix_millis(col("w.end")).as("window_end_ms"), col("n_pairs"))
    }, outputMode = "append")
    val e = events(spark, dir)
      .select(unix_millis(col("ts")).as("ms"), col("event_type"))
    val cut = e.filter(col("event_type") === leftType).agg(max("ms").as("mp"))
      .crossJoin(e.filter(col("event_type") === rightType).agg(max("ms").as("mv")))
      .select((least(col("mp"), col("mv")) - lit(wmMs)).as("cutoff"))
    settled.crossJoin(broadcast(cut))
      .filter(col("window_end_ms") < col("cutoff"))
      .select("window_start_ms", "n_pairs")
  }

  /** Stream-stream FULL OUTER interval join (q294) — completes the
    * stream-join matrix (inner q64, left outer q267): purchases with
    * their preceding views, PLUS purchases that never had a view (null
    * view side), PLUS views that never led to a purchase (null purchase
    * side) — the "both funnels at once" shape an attribution pipeline
    * otherwise runs as two queries. Matches emit eagerly; each unmatched
    * row emits null-padded exactly once when the watermark passes ITS
    * eviction point — a left (purchase) row once no future view can
    * precede it (`wm > p_ts`, held `wmDelay`), a right (view) row once no
    * future purchase window can reach back to it (`wm > v_ts + windowMs`).
    * Needs the no-data batch for the same reason q267 does: the final
    * null emissions exist purely because of watermark advancement.
    *
    * Determinism: the drained-stream watermark stops at
    * `min(max p_ts, max v_ts) − wmDelay`, so BOTH sides get a maturity
    * cutoff — purchases settled strictly below `cutoff`, views strictly
    * below `cutoff − windowMs` (their eviction lags by the join window).
    * The settled frame keeps matched+left-null rows by purchase maturity
    * and right-null rows by view maturity; the batch FULL OUTER under the
    * identical two-sided restriction is the oracle. Cross-batch
    * both-sided null-only-after-eviction is pinned in StreamingSpec.
    *
    * Scale: identical bounded-state contract to q267 — each side held at
    * most its eviction horizon past the watermark, state strictly
    * evictable at any corpus size. */
  def streamingIntervalJoinFullOuter(spark: SparkSession, dir: String,
      leftType: String = "purchase", rightType: String = "view",
      windowMs: Long = 3600000L): DataFrame = {
    val wmMs = windowMs + 300000L
    val settled = settle(spark, dir, stream => {
      val p = stream.filter(col("event_type") === leftType)
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_event"))
        .withWatermark("p_ts", s"$wmMs milliseconds")
      val v = stream.filter(col("event_type") === rightType)
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("event_id").as("v_event"))
        .withWatermark("v_ts", s"$wmMs milliseconds")
      p.join(v, col("p_user") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr(s"INTERVAL $windowMs MILLISECONDS") &&
          col("v_ts") <= col("p_ts"), "fullOuter")
        .select(col("p_event"), unix_millis(col("p_ts")).as("p_ms"),
          col("v_event"), unix_millis(col("v_ts")).as("v_ms"),
          (unix_millis(col("p_ts")) - unix_millis(col("v_ts"))).as("lag_ms"))
    }, outputMode = "append")
    val e = events(spark, dir)
      .select(unix_millis(col("ts")).as("ms"), col("event_type"))
    val cut = e.filter(col("event_type") === leftType).agg(max("ms").as("mp"))
      .crossJoin(e.filter(col("event_type") === rightType).agg(max("ms").as("mv")))
      .select((least(col("mp"), col("mv")) - lit(wmMs)).as("cutoff"))
    settled.crossJoin(broadcast(cut))
      .filter((col("p_event").isNotNull && col("p_ms") < col("cutoff")) ||
        (col("p_event").isNull && col("v_ms") < col("cutoff") - lit(windowMs)))
      .select("p_event", "p_ms", "v_event", "v_ms", "lag_ms")
  }

  /** Streaming ingest dedup — the pipeline front door that keeps a
    * re-delivered record (at-least-once sources re-send) from entering the
    * corpus twice: `dropDuplicatesWithinWatermark` keyed on the record's
    * identity, so dedup state is EVICTABLE once the watermark passes — the
    * 100 TB requirement (a plain `dropDuplicates` on a stream retains
    * every key ever seen). Keyed here on (user_id, event_type) — the
    * events-table stand-in for a document fingerprint; at ingest scale the
    * key would be [[graft.llmdata.TextAnalysis.fingerprint]].
    *
    * The projection keeps ONLY the key columns (plus `ts` for the
    * watermark, dropped after): which physical duplicate survives a
    * single-micro-batch file source is a partition race, so any non-key
    * column would make the settled output nondeterministic. The settled
    * result is exactly the distinct key set — the deterministic contract,
    * oracle-checked with a DISTINCT. */
  def streamingDedupKeys(spark: SparkSession, dir: String): DataFrame =
    settle(spark, dir, stream => stream
      .select(col("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type")),
      outputMode = "append")

  /** Sessionization as a genuine Structured Streaming query using the
    * built-in `session_window` (merging session state per user) — the
    * streaming mirror of [[sessionize]], checked against the same oracle.
    * `session_seq` is presentation-layer numbering applied to the settled
    * sessions; start/duration come from real event times (min/max inside
    * the session), not the gap-padded session_window end. */
  def streamingSessions(spark: SparkSession, dir: String, gapMs: Long = 300000L): DataFrame = {
    val settled = settle(spark, dir, stream => stream
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), s"$gapMs milliseconds").as("sw"), col("user_id"))
      .agg(min(unix_millis(col("ts"))).as("session_start_ms"),
        max(unix_millis(col("ts"))).as("session_end_ms"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start_ms"), col("session_end_ms"), col("n_events")))
    val w = Window.partitionBy("user_id").orderBy("session_start_ms")
    settled.withColumn("session_seq", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_seq"), col("session_start_ms"),
        (col("session_end_ms") - col("session_start_ms")).as("duration_ms"), col("n_events"))
  }

  // ---- CDC changelog compaction (q207 batch, q211 streaming) -------------

  /** CDC changelog reading of the events table: each event is a change
    * record for its `user_id` — `event_type = 'error'` is the tombstone
    * (DELETE), every other type an UPSERT carrying `(event_type, value)`;
    * the change sequence is `(ts, event_id)` (event_id unique → total
    * order). This is the Debezium/lakehouse MERGE shape: compact a
    * changelog to the latest surviving row per key. */
  private def changelog(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(col("user_id"),
      unix_millis(col("ts")).as("ts_ms"), col("event_id"),
      col("event_type"), col("value"))

  /** q207: latest-wins changelog compaction as ONE hash aggregation — per
    * key, `max(struct(ts_ms, event_id, payload...))` picks the newest
    * change (struct ordering = lexicographic on the leading seq fields),
    * then tombstoned keys drop. No window funnel: the per-key argmax is a
    * map-side-combinable agg, so at 100 TB the changelog shuffles only its
    * partial winners — the row_number()-over-everything formulation (the
    * oracle's spelling) would shuffle the full log into per-key sorts.
    * Same output, different asymptotics; hash equality certifies the
    * argmax-struct ≡ window-rank rewrite. */
  def cdcCompact(spark: SparkSession, dir: String): DataFrame =
    changelog(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts_ms"), col("event_id"), col("event_type"),
        col("value"))).as("last"))
      .filter(col("last.event_type") =!= "error")
      .select(col("user_id"), col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"))

  /** Keyed state for [[streamingCdcCompact]]: the newest change seen so
    * far for one key (constant size — the 100 TB state-store contract). */
  final case class CdcLast(user_id: Long, ts_ms: Long, event_id: Long,
      event_type: String, value: Double)

  /** q211: the SAME compaction as a live materialized view —
    * `mapGroupsWithState` folds each micro-batch into the per-key newest
    * change (max by `(ts_ms, event_id)`, order-independent across batch
    * boundaries), update mode emits the running winner, and the settle
    * step reduces the emission log to each key's final emission (the
    * greatest `(ts_ms, event_id)` — monotone per key, so the reduction is
    * exact). Tombstone filtering happens LAST, on the settled view: a key
    * whose latest change is a delete stays in state (a later upsert must
    * resurrect it) but drops from the materialized result — exactly the
    * upsert-view semantics of the batch twin, which the shared q207
    * oracle certifies. */
  def streamingCdcCompact(spark: SparkSession, dir: String): DataFrame = {
    val settled = settle(spark, dir, stream => {
      val s = stream.sparkSession
      import s.implicits._
      stream.select(col("user_id"),
          unix_millis(col("ts")).as("ts_ms"), col("event_id"),
          col("event_type"), col("value"))
        .as[(Long, Long, Long, String, Double)]
        .groupByKey(_._1)
        .mapGroupsWithState[CdcLast, CdcLast](GroupStateTimeout.NoTimeout) {
          (user: Long, batch: Iterator[(Long, Long, Long, String, Double)],
           state: GroupState[CdcLast]) =>
            var st = state.getOption.orNull
            batch.foreach { case (_, ts, id, tpe, v) =>
              if (st == null || ts > st.ts_ms ||
                  (ts == st.ts_ms && id > st.event_id))
                st = CdcLast(user, ts, id, tpe, v)
            }
            state.update(st)
            st
        }.toDF()
    }, outputMode = "update")
    val last = settled.groupBy(col("user_id"))
      .agg(max(struct(col("ts_ms"), col("event_id"), col("event_type"),
        col("value"))).as("last"))
    last.filter(col("last.event_type") =!= "error")
      .select(col("user_id"), col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"))
  }

  /** SCD Type-2 dimension build (q222): per user, the event-type change
    * history compacted into validity intervals — consecutive duplicate
    * states collapse (a change event only opens a new interval when the
    * state actually changed), each interval runs `[valid_from, valid_to)`
    * with `valid_to = next change` and NULL marking the current row.
    * This is the lakehouse slowly-changing-dimension shape every
    * warehouse MERGE reconstructs.
    *
    * Shape: two windows over the SAME user partitioning (lag to detect
    * the change, lead on the collapsed frame for the interval end) — one
    * exchange, per-key sorts, no global funnel. Intervals tile each
    * user's timeline exactly (no gaps/overlaps), pinned in
    * StreamingSpec. */
  def scd2Intervals(spark: SparkSession, dir: String): DataFrame =
    scd2IntervalsFrom(events(spark, dir))

  private[graft] def scd2IntervalsFrom(ev: DataFrame): DataFrame = {
    val e = ev.select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
      col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    val changes = e
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    changes
      .withColumn("valid_to_ms", lead(col("ts_ms"), 1).over(w))
      .select(col("user_id"), col("event_type").as("state"),
        col("ts_ms").as("valid_from_ms"), col("valid_to_ms"),
        col("valid_to_ms").isNull.as("is_current"))
  }

  /** Point-in-time-correct dimension join (q223): every purchase fact is
    * enriched with the SCD2 state (built from the signup/error change
    * stream only) that was valid AT the fact's own event time — the
    * training-data discipline that prevents feature leakage from the
    * future (joining "current" state into historical facts is the classic
    * offline/online skew bug).
    *
    * Shape: user equi-join + interval containment predicate. Intervals
    * partition each user's timeline, so at most ONE dimension row
    * matches per fact — the join IS the lookup, no argmax window over
    * facts. Facts before the first state row keep state 'none' via the
    * left join. */
  /** First/last-touch attribution (q226): for every purchase, the
    * earliest and latest touch (view/click) by the same user inside a
    * lookback window ending at the purchase — the marketing-attribution
    * join every growth pipeline runs. One per-user equi-join bounded by
    * the `[ts − lookback, ts]` range predicate, then BOTH endpoints and
    * the touch count from a single hash agg (`min(struct)`/`max(struct)`
    * argmin/argmax with event_id tiebreak — never a window over the fact
    * side). Purchases with no eligible touch survive via the left join
    * with a 0 count and null touch ids — silent inner-join fact loss is
    * the classic attribution bug.
    *
    * Scale: the range predicate bounds candidates per purchase to the
    * lookback horizon; both sides shuffle once on user_id. */
  def touchAttribution(spark: SparkSession, dir: String,
      lookbackMs: Long = 7L * 24 * 3600 * 1000): DataFrame =
    touchAttributionFrom(events(spark, dir), lookbackMs)

  private[graft] def touchAttributionFrom(ev: DataFrame,
      lookbackMs: Long = 7L * 24 * 3600 * 1000): DataFrame = {
    require(lookbackMs > 0)
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("event_type").as("touch_type"), unix_millis(col("ts")).as("touch_ms"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"))
    purchases.join(touches,
        purchases("user_id") === touches("user_id") &&
          touches("touch_ms") <= purchases("ts_ms") &&
          touches("touch_ms") >= purchases("ts_ms") - lookbackMs,
        "left")
      .groupBy(purchases("event_id"), purchases("user_id"), col("ts_ms"))
      .agg(
        count(col("touch_id")).as("n_touches"),
        min(struct(col("touch_ms"), col("touch_id"), col("touch_type"))).as("ft"),
        max(struct(col("touch_ms"), col("touch_id"), col("touch_type"))).as("lt"))
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("n_touches"),
        col("ft.touch_id").as("first_touch_id"),
        col("ft.touch_type").as("first_touch_type"),
        col("lt.touch_id").as("last_touch_id"),
        col("lt.touch_type").as("last_touch_type"))
  }

  /** Daily date-spine densification (q227): per-day event totals with
    * MISSING days zero-filled — the calendar-join every reporting layer
    * needs, because a day with no rows is invisible to a plain groupBy
    * and silently breaks moving averages and day-over-day deltas. The
    * spine generates from the corpus min/max day (`sequence` + explode —
    * a few thousand rows even for a decade), the per-day counts are one
    * hash agg, and the spine side broadcasts into the left join. Day is
    * emitted as a yyyy-MM-dd string so both engines compare the same
    * value representation. */
  def dailySpine(spark: SparkSession, dir: String): DataFrame =
    dailySpineFrom(events(spark, dir))

  private[graft] def dailySpineFrom(ev: DataFrame): DataFrame = {
    val e = ev.select(to_date(col("ts")).as("day"), col("user_id"))
    val counts = e.groupBy("day").agg(count(lit(1)).as("n_events"),
      countDistinct(col("user_id")).as("n_users"))
    val spine = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    spine.join(broadcast(counts), Seq("day"), "left")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
  }

  /** Lead–lag cross-correlation between two event-type daily series
    * (q263): Pearson r between views on day t−L and purchases on day t
    * for L ∈ {0..maxLag} — the marketing/forecasting question "does view
    * activity LEAD purchases, and by how many days?", answered on the
    * zero-filled [[dailySpine]] calendar (a missing day dropped from the
    * pairing would silently shift every lag after it — the q227/q232
    * correctness precondition).
    *
    * Determinism: the five moment sums (Σx, Σy, Σxy, Σx², Σy²) are exact
    * INTEGER aggregates of per-day counts; only the final closed-form
    * Pearson division touches doubles (one multiply, one IEEE sqrt —
    * identical in both engines), rounded to 6dp. Scale shape: one hash
    * agg over the fact stream builds both series; everything after runs
    * on the ≤|calendar|-row daily frame — the lag self-joins are
    * date_add equi-joins on a frame bounded by days, not rows. */
  def leadLagCorr(spark: SparkSession, dir: String, leadType: String = "view",
      targetType: String = "purchase", maxLag: Int = 2): DataFrame =
    leadLagCorrFrom(events(spark, dir), leadType, targetType, maxLag)

  private[graft] def leadLagCorrFrom(ev: DataFrame, leadType: String = "view",
      targetType: String = "purchase", maxLag: Int = 2): DataFrame = {
    require(maxLag >= 0)
    val e = ev.select(to_date(col("ts")).as("day"), col("event_type"))
    val c = e.groupBy("day").agg(
      sum(when(col("event_type") === leadType, 1L).otherwise(0L)).as("x"),
      sum(when(col("event_type") === targetType, 1L).otherwise(0L)).as("y"))
    val spine = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    // Broadcast the RIGHT (nullable) side: Spark cannot build-broadcast
    // the stream-preserved left side of a left-outer BHJ, so a left-side
    // hint would be silently ignored. `c` is a per-day aggregate, bounded
    // by the calendar like the spine itself.
    val daily = spine.join(broadcast(c), Seq("day"), "left")
      .select(col("day"), coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
    val branches = (0 to maxLag).map { l =>
      daily.select(col("day").as("a_day"), col("x"))
        .join(daily.select(col("day").as("b_day"), col("y")),
          date_add(col("a_day"), l) === col("b_day"))
        .agg(count(lit(1)).as("n_days"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(lit(l.toLong).as("lag"), col("n_days"),
          round((col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double") *
                 (col("n_days") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
            .as("r"))
    }
    branches.reduce(_.unionAll(_))
  }

  /** Daily trend report (q232) over the zero-filled [[dailySpine]]:
    * trailing 7-day moving average and day-over-day delta — the two
    * derived series the spine exists to make CORRECT (computed over raw
    * per-day aggregates, a missing day silently shortens the MA window
    * and fabricates a delta across the gap). The window is global but
    * runs over the POST-AGGREGATION frame — one row per calendar day, a
    * few thousand rows a decade — so the single-partition sort is a
    * deliberate, bounded choice, not a row-count funnel. */
  def dailyTrend(spark: SparkSession, dir: String): DataFrame =
    dailyTrendFrom(events(spark, dir))

  private[graft] def dailyTrendFrom(ev: DataFrame): DataFrame = {
    val spine = dailySpineFrom(ev)
    val w = Window.orderBy("day")
    val w7 = w.rowsBetween(-6, 0)
    spine
      .withColumn("dod_delta", col("n_events") - lag(col("n_events"), 1).over(w))
      .withColumn("ma7", round(sum(col("n_events")).over(w7).cast("double") /
        count(lit(1)).over(w7), 6))
      .select("day", "n_events", "dod_delta", "ma7")
  }

  /** The q223 point-in-time join as a STREAM (q283): purchase facts
    * arriving live enrich against a STATIC broadcast SCD2 dimension with
    * the interval-containment residual — a stateless stream-static
    * non-equi join (no watermark, no state store; the dim ships once per
    * executor and the stream never shuffles for the join). This is the
    * live half of the offline/online-skew discipline: the SAME dimension
    * build and the SAME containment predicate as the batch q223, so the
    * settled output hash-matches the identical oracle — training-serving
    * feature parity, certified. */
  def streamingPitEnrich(spark: SparkSession, dir: String): DataFrame =
    settle(spark, dir, stream => {
      val s2 = stream.sparkSession
      val dim = broadcast(
        scd2IntervalsFrom(events(s2, dir)
            .filter(col("event_type").isin("signup", "error")))
          .select(col("user_id").as("d_user"), col("state"),
            col("valid_from_ms"), col("valid_to_ms")))
      val facts = stream.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      facts.join(dim,
          facts("user_id") === col("d_user") &&
            col("valid_from_ms") <= facts("ts_ms") &&
            (col("valid_to_ms").isNull || facts("ts_ms") < col("valid_to_ms")),
          "left")
        .select(facts("event_id"), facts("user_id"), facts("ts_ms"),
          coalesce(col("state"), lit("none")).as("state_at_purchase"),
          col("valid_from_ms").as("state_since_ms"))
    }, outputMode = "append")

  def pitStateJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val dim = scd2IntervalsFrom(ev.filter(col("event_type").isin("signup", "error")))
      .select(col("user_id"), col("state"), col("valid_from_ms"), col("valid_to_ms"))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"))
    facts.join(dim,
        facts("user_id") === dim("user_id") &&
          dim("valid_from_ms") <= facts("ts_ms") &&
          (dim("valid_to_ms").isNull || facts("ts_ms") < dim("valid_to_ms")),
        "left")
      .select(facts("event_id"), facts("user_id"), facts("ts_ms"),
        coalesce(col("state"), lit("none")).as("state_at_purchase"),
        col("valid_from_ms").as("state_since_ms"))
  }
}
