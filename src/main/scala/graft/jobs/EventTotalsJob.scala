package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftSession.LineageOps
import graft.operators.GeoOps
import graft.queries.Fixtures

/** Datamart 2 — per-zone weekly/monthly event totals (reference
  * src/spark/collector.py:562-894): weekly grain with monthly rollups
  * replicated onto the weekly rows (W6).
  *
  * The reference runs four separate scan→geo-tag→aggregate pipelines
  * (messages / reactions / registrations / subscriptions) and joins
  * them on [zone, week, month]. We fold the per-class weekly counts
  * into ONE conditional aggregation over a single geo-tagged pass —
  * one scan and one shuffle instead of four of each — and compute
  * "registrations" (each user's first event, W7) as the only extra
  * branch, left-joined and zero-filled. Monthly totals are window sums
  * over (zone, month) exactly like the reference.
  */
object EventTotalsJob {

  def run(spark: SparkSession, dir: String): DataFrame = {
    val tagged = GeoOps.tagNearestCity(
      Fixtures.geoEvents(spark, dir), UsersDemographicJob.cityObjs,
      col("lat"), col("lon"))
      .select(
        col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("city_id").as("zone_id"))
      // group on DATE keys (8-byte comparisons); the yyyy-MM-dd string
      // rendering happens once per OUTPUT row at the end, not twice
      // per input row here
      .withColumn("week", date_trunc("week", col("ts")).cast("date"))
      .withColumn("month", date_trunc("month", col("ts")).cast("date"))

    // ONE pass over the tagged events: a single pre-aggregation on
    // (user, zone, week, month, type) is the only full-data shuffle —
    // and map-side combine means only combined rows (bounded by
    // |users|×|types|×|weeks|, not |events|) ever move. Weekly counts
    // and registrations both derive from this compact frame with tiny
    // follow-up shuffles, replacing the reference's 4 scan pipelines
    // (and our previous 2) with 1.
    val pre = tagged
      .groupBy("user_id", "zone_id", "week", "month", "event_type")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("ts"), col("event_id"))).as("first_evt"))
      // compact (|users|×|types|×|weeks|) and read by both branches —
      // materialize once rather than re-running scan+tag+agg twice.
      // Measured without it (traced datamart_daily, 4× sf0.01 events,
      // 4 cores): shuffle write 824 → 1253 KB per pass and task-seconds
      // 1.4–1.9 → 2.0–2.4 s — the branches do not share one exchange.
      .truncateLineage()

    // Conditional aggregation replaces the per-class count pipelines.
    val weekly = pre
      .groupBy("zone_id", "week", "month")
      .agg(
        sum(when(col("event_type") === "click", col("cnt")).otherwise(0)).as("week_click"),
        sum(when(col("event_type") === "view", col("cnt")).otherwise(0)).as("week_view"),
        sum(when(col("event_type") === "purchase", col("cnt")).otherwise(0)).as("week_purchase"))

    // Registrations: each user's first event (W7) = argmin over the
    // per-group minima (min_by instead of a window, SURVEY §7.4.4).
    val regs = pre
      .groupBy("user_id")
      .agg(min_by(struct(col("zone_id"), col("week"), col("month")),
        col("first_evt")).as("first"))
      .select(col("first.zone_id"), col("first.week"), col("first.month"))
      .groupBy("zone_id", "week", "month")
      .agg(count(lit(1)).as("week_user"))

    val wMonth = org.apache.spark.sql.expressions.Window
      .partitionBy(col("zone_id"), col("month"))
    weekly
      .join(regs, Seq("zone_id", "week", "month"), "left")
      .na.fill(0, Seq("week_user"))
      .withColumn("month_click", sum(col("week_click")).over(wMonth))
      .withColumn("month_view", sum(col("week_view")).over(wMonth))
      .withColumn("month_purchase", sum(col("week_purchase")).over(wMonth))
      .withColumn("month_user", sum(col("week_user")).over(wMonth))
      .orderBy(col("zone_id"), col("week"), col("month"))
      // render the date keys as strings only now — output-cardinality
      // work (chronological order == lexicographic for yyyy-MM-dd)
      .withColumn("week", date_format(col("week"), "yyyy-MM-dd"))
      .withColumn("month", date_format(col("month"), "yyyy-MM-dd"))
  }
}
