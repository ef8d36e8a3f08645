package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's serving layer — 7 REST endpoints re-implementing
  * filter/aggregate/sort/limit over DynamoDB items in ~300 lines of Java
  * (api/src/main/java/com/citystream/api/CityStreamApiApplication.java:52-336)
  * — re-expressed as one-line declarative plans Catalyst owns (SURVEY.md §2.11).
  *
  * The serving queries consume the materialized outputs of
  * [[StreamAggregates]] (the reference's "DynamoDB tables"): serving-side
  * re-aggregation runs over pre-aggregated rows, not raw events — the
  * materialized-view shape of SURVEY.md §4.3. Deployed, each frame is
  * `KeyedUpsertSink.read` of a keyed store the streaming topology upserts
  * ([[graft.sources.KeyedUpsertSink]]): a view materialized once per commit
  * stamp, held as one partition when small, so each endpoint frame plans
  * without an exchange and runs as one Spark job. The registry passes the
  * batch forms instead, and Catalyst collapses that whole pipeline into one
  * plan.
  *
  * Time-range endpoints pin "now" to the data's `max(ts)` via a broadcast
  * scalar frame instead of `current_timestamp()` (FIXTURES.md §5 determinism;
  * the reference's `Instant.now()` at CityStreamApiApplication.java:150-152) —
  * a single cheap pre-pass at any scale, and the filter still pushes down.
  *
  * `orderBy(...).limit(k)` pairs compile to `TakeOrderedAndProject` — a
  * per-partition top-k + driver merge, NOT a global sort; this is the plan
  * shape that survives 100 TB.
  */
object Serving {

  /** GET /health (api/...:52-59): constant status row + a liveness count. */
  def health(normalized: DataFrame): DataFrame =
    normalized.agg(count(lit(1)).as("events_seen"))
      .select(lit("healthy").as("status"), col("events_seen"))

  /** GET /events/{city}?limit= (api/...:65-98, O1+F2+O5):
    * recent-first listing for one city. Tie-broken on event_id for a
    * deterministic top-k.
    */
  def eventsByCity(normalized: DataFrame, city: String, limit: Int): DataFrame =
    normalized
      .filter(col("city") === city)
      .orderBy(col("ts").desc, col("event_id").desc)
      .select("event_id", "rec_id", "ts_str", "city", "event_type", "severity", "description")
      .limit(limit)

  /** GET /summary/{city} (api/...:104-137, A3): per-type totals from the
    * pre-aggregated frame — SUM-regroup of a materialized view.
    */
  def summary(windowedAgg: DataFrame, city: String): DataFrame =
    windowedAgg
      .filter(col("city") === city)
      .groupBy("event_type")
      .agg(sum("event_count").as("total_events"))

  /** GET /cities (api/...:206-244, A4+O4): top-k cities by total events. */
  def cities(windowedAgg: DataFrame): DataFrame =
    windowedAgg
      .groupBy("city")
      .agg(sum("event_count").as("total_events"))
      .orderBy(col("total_events").desc, col("city"))

  /** GET /alerts?city&hours= (api/...:143-200, F4/F5/F6 + O2 + O5):
    * time-ranged alert retrieval, optionally per-city, recent-first, top 50.
    * `now` is pinned to max(ts) over the alert frame (broadcast scalar).
    */
  def alertsRecent(alerts: DataFrame, city: Option[String], hours: Int, limit: Int = 50): DataFrame = {
    val cutoff = alerts.agg(max(col("ts")).as("now_ts"))
    val base   = city.fold(alerts)(c => alerts.filter(col("city") === c))
    base
      .crossJoin(broadcast(cutoff))
      .filter(col("ts") >= col("now_ts") - expr(s"INTERVAL $hours HOURS"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .select("event_id", "city", "ts_str", "event_type", "severity", "description", "rec_id")
      .limit(limit)
  }

  /** GET /aggregations?city&eventType&limit= (api/...:250-288, F3 + O3 + O5):
    * recent windows for one (city, event_type). window_start strings sort
    * chronologically (ISO format), mirroring the reference's string-timestamp
    * ordering (SURVEY.md §2.6).
    */
  def aggregationsFor(windowedAgg: DataFrame, city: String, eventType: String, limit: Int): DataFrame =
    windowedAgg
      .filter(col("city") === city && col("event_type") === eventType)
      .orderBy(col("window_start").desc)
      .limit(limit)

  /** GET /stats, part 1 (api/...:294-306, A5): global scalar SUM. */
  def statsTotal(windowedAgg: DataFrame): DataFrame =
    windowedAgg.agg(sum("event_count").as("total_events"))

  /** GET /stats, part 2 (api/...:308-322, A6): alert counts by severity,
    * zero-seeded for high/critical exactly as the reference's HashMap seed:
    * one row per seeded severity, 0 where it has no alert. One global
    * aggregate (a conditional count per seeded severity) unpivoted into the
    * two rows, so no join and no exchange over a one-partition input.
    * `spark` is unused, kept for the callers.
    */
  def alertSeverityCounts(alerts: DataFrame, spark: SparkSession): DataFrame =
    alerts.agg(
        count(when(col("severity") === "high", lit(1))).as("high"),
        count(when(col("severity") === "critical", lit(1))).as("critical"))
      .selectExpr("stack(2, 'high', high, 'critical', critical) AS (severity, alert_count)")

  /** Signup→purchase conversion funnel: users who signed up, and of those,
    * users whose first purchase strictly follows their first signup —
    * a join+aggregate composition typical of the serving analytics the
    * reference's API layer approximates with hand loops. Two shuffles
    * (min-per-user, then a broadcastable join of the small signup set).
    */
  def conversionFunnel(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("signup_ts"))
    val converted = events.filter(col("event_type") === "purchase").as("e")
      .join(broadcast(signups).as("s"), col("e.user_id") === col("s.user_id"))
      .filter(col("e.ts") > col("signup_ts"))
      .select(col("e.user_id")).distinct()
    signups.agg(count(lit(1)).as("signed_up"))
      .crossJoin(broadcast(converted.agg(count(lit(1)).as("converted"))))
  }

  /** ORDERED multi-step funnel — [[conversionFunnel]]'s 3-step sequenced
    * big sibling: users whose FIRST signup precedes their first view
    * precedes their first purchase, the "did they follow the journey in
    * order" question funnel analytics actually asks (the unordered pair
    * count overstates conversion whenever a purchase predates the
    * signup).
    *
    * One conditional-min aggregation per user (`min(ts) FILTER
    * (type = step)` for all three steps in a single pass — no per-step
    * scans, no joins), then a 1-row count aggregate over the step
    * predicates. Two shuffles total, the second over user-level rows.
    */
  def orderedFunnel(events: DataFrame): DataFrame = {
    val firsts = events.groupBy("user_id").agg(
      min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
      min(when(col("event_type") === "view", col("ts"))).as("t_view"),
      min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
    firsts.agg(
      count(col("t_signup")).as("signed_up"),
      count(when(col("t_signup") < col("t_view"), lit(1))).as("then_viewed"),
      count(when(col("t_signup") < col("t_view") &&
        col("t_view") < col("t_purchase"), lit(1))).as("then_purchased"))
  }

  /** Day × hour activity heatmap via PIVOT — the wide layout a dashboard
    * grid renders directly: one row per day, one column per hour-of-day
    * (`h0`..`h23`, explicit value list so the schema is static — a
    * discovery pivot would need an extra pass AND make the output schema
    * data-dependent), zero-filled so empty cells read as 0 activity, not
    * missing data. One aggregation pass; the pivot itself is a map-side
    * reshape of the (day, hour) counts.
    */
  def dayHourHeatmap(events: DataFrame): DataFrame = {
    val hours = (0 to 23).toList
    events
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .pivot(hour(col("ts")), hours)
      .agg(count(lit(1)))
      .select(col("day") +: hours.map(h =>
        coalesce(col(s"`$h`"), lit(0L)).as(s"h$h")): _*)
      .orderBy("day")
  }

  /** Daily active users + event volume — the per-day rollup every serving
    * dashboard needs; one shuffle, distinct-per-group.
    */
  def dailyActive(events: DataFrame): DataFrame =
    events
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(countDistinct(col("user_id")).as("active_users"),
        count(lit(1)).as("event_count"))
      .orderBy("day")

  /** Cohort retention — the dashboard analytic behind every "week-N
    * retention" curve: users cohort by the week of their FIRST event,
    * and each (cohort_week, weeks_since) cell counts the cohort's users
    * still active that many weeks later. Week arithmetic stays exact:
    * both sides are Monday-truncated, so the day difference is a
    * multiple of 7 and the division is integer-exact on both engines.
    *
    * Scale shape: the (user, week) activity grid is distinct-reduced
    * BEFORE the cohort join (rows ∝ users × active-weeks, not events);
    * first-event weeks and the grid shuffle on the SAME user_id key, so
    * the join reuses the exchange; the final cell aggregate is
    * |weeks|²-bounded. No window functions anywhere.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val weekly = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("event_week"))
      .distinct()
    val cohorts = weekly.groupBy("user_id").agg(min(col("event_week")).as("cohort_week"))
    weekly.join(cohorts, Seq("user_id"))
      .groupBy(
        date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        (datediff(col("event_week"), col("cohort_week")) / 7).cast("long").as("weeks_since"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy("cohort_week", "weeks_since")
  }

  /** Rolling 7-day active users (WAU curve) — for each calendar day, the
    * distinct users active in the trailing 7-day window. The scale shape
    * is contribute-then-count, NOT a per-day rescan: the (user, day)
    * activity grid distinct-reduces first (rows ∝ users × active-days),
    * each grid row explodes into the ≤ 7 window-end days it contributes
    * to, and one distinct-count per window day finishes — no self-join
    * against a day dimension, no windowed distinct (which no engine
    * streams). Emitted days are those with ≥ 1 active window, so the
    * curve starts at the first day of data.
    */
  def rollingActive(events: DataFrame, windowDays: Int = 7): DataFrame =
    events
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
      .select(col("user_id"),
        explode(sequence(col("day"),
          col("day") + expr(s"INTERVAL ${windowDays - 1} DAYS"),
          expr("INTERVAL 1 DAY"))).as("window_end"))
      .groupBy(date_format(col("window_end"), "yyyy-MM-dd").as("window_end"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy("window_end")

  /** GET /metrics/producer (producer/.../KafkaProducerService.java:100-145,
    * A7): running count/sum/min/max/avg over the value stream plus a
    * throughput rate — the producer's LongAdder metrics as one aggregation.
    * Sum goes through DECIMAL(18,2) so the result is order-independent.
    */
  def producerMetrics(normalized: DataFrame): DataFrame =
    normalized.agg(
      count(lit(1)).as("event_count"),
      sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"),
      min(col("value")).as("value_min"),
      max(col("value")).as("value_max"),
      (sum(col("value").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("value_avg"),
      (count(lit(1)) /
        ((unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))) / lit(1e6)))
        .as("events_per_sec")
    )
}
