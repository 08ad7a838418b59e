package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftSession.LineageOps
import graft.operators.{GeoBlocking, GeoOps}
import graft.queries.Fixtures

/** Datamart 3 — friend recommendations (reference
  * src/spark/collector.py:896-1150):
  *
  *   1. real contacts: bidirectional edge expansion of (user, partner)
  *      pairs via explode(array(...)) (F10), distinct;
  *   2. candidate pairs: geo-grid-blocked proximity pairs (≤ the
  *      distance rule) filtered by channel overlap — see below;
  *   3. minus contacts: left anti join (J6);
  *   4. per-user latest-event coordinates (we use LATEST — the
  *      reference's asc/first "last message" quirk is documented in
  *      SURVEY §7.4.3 and not reproduced), carried on the same
  *      per-user aggregate (J7);
  *   5. decorate with zone + local time (J8, F4).
  *
  * "Messages" are click events whose partner id comes from the props
  * JSON payload; "channels" are signup/view event types.
  *
  * Scale note — candidate generation: the reference self-joins
  * per-channel subscribers (quadratic in users,
  * collector.py:1000-1008) and filters distance afterwards
  * (collector.py:1081-1091). All the predicates are conjunctive, so
  * the engine evaluates them in the opposite order: the ≤ MaxDistKm
  * rule prunes pair GENERATION via geo-grid blocking
  * ([[graft.operators.GeoBlocking]], an equi-join on grid cells that
  * is linear for bounded point densities and oracle-checked by
  * geo_blocked_pairs), and the channel-overlap predicate then filters
  * blocked pairs. No step broadcasts an unbounded per-user table or
  * evaluates O(users²) pair predicates; the flag/coordinate
  * attachments are plain equi-joins the planner broadcasts only while
  * the per-user aggregate actually fits.
  */
object FriendRecsJob {

  val MaxDistKm = 300.0
  val ProcessedDttm = "2026-08-12 00:00:00"

  def run(spark: SparkSession, dir: String): DataFrame = {
    // Strict-compat mode (spark.graft.refCompat=true) reproduces the
    // reference's two documented quirks exactly: the sin-haversine
    // distance (collector.py:130) and EARLIEST-message coordinates
    // (collector.py:1028, 1045-1049 — asc sort + first). Default mode
    // keeps the engine semantics: correct asin haversine, latest-event
    // coordinates (SURVEY §7.4.1/§7.4.3). CompatSpec pins both.
    val refCompat = graft.functions.Geo.refCompat(spark)
    val geo = Fixtures.geoEvents(spark, dir)

    // 1. Real contacts from "messages" (click events, partner from
    // props). r17 (§1.2/§2.4): the partner ids ride the SAME per-user
    // aggregation pass as the channel flags and coordinates — the
    // former shape scanned the event corpus a second time just to
    // derive contact pairs. collect_set is bounded by construction:
    // the partner id is `payload % 100`, so a user's set holds ≤ 100
    // longs. try_cast, not cast: under Spark 4's default ANSI mode one
    // non-numeric props value would abort the whole datamart — the
    // same corrupt-feed posture as the coordinate quarantine below (a
    // bad payload yields a null partner, which the when() guard turns
    // into a skipped collect_set element exactly like the old
    // isNotNull filter).
    val partnerRaw =
      expr("try_cast(get_json_object(props, '$.k') AS long)") % 100L

    // One per-user aggregation carries the channel flags, the
    // latest-event coordinates AND the message-partner set — a single
    // scan+tag+shuffle where separate msgs/subFlags/lastCoords passes
    // would cost three.
    val tagged = GeoOps.tagNearestCity(geo, UsersDemographicJob.cityObjs,
      col("lat"), col("lon"))
    val perUser = tagged
      // the JSON parse runs once per row (a projection, so it is never
      // duplicated into both the when() guard and the element)
      .withColumn("__p",
        when(col("event_type") === "click", partnerRaw))
      .groupBy(col("user_id"))
      .agg(
        max(col("event_type") === "signup").as("has_signup"),
        max(col("event_type") === "view").as("has_view"),
        // null __p (non-click, corrupt payload) and self-partners fall
        // out here: a null/false when() yields null and collect_set
        // skips nulls — the old msgs filter, fused into the aggregate
        collect_set(when(col("__p") =!= col("user_id"), col("__p")))
          .as("partners"), {
          val best = struct(col("lat"), col("lon"), col("city_id"),
            col("timezone"), col("ts").as("last_ts"))
          val ord = struct(col("ts"), col("event_id"))
          (if (refCompat) min_by(best, ord) else max_by(best, ord)).as("b")
        })
      // One row per user and referenced five times downstream (the
      // blocking input, the contact expansion, both flag attachments,
      // the decoration) — materialize once instead of re-running
      // scan+tag+agg per reference. localCheckpoint over persist: no
      // cache-registry entry for callers to leak. Measured without it
      // (traced datamart_daily, 4× sf0.01 events, 4 cores): 14 → 17
      // jobs, task-seconds 0.9–1.2 → 2.9–3.6 s, warm wall 1.8–2.4 →
      // 2.5–3.5 s.
      .truncateLineage()

    // Contact exclusion is direction-symmetric (the reference expands
    // every message edge in both directions, F10), so candidates are
    // generated and deduped as UNDIRECTED (lo < hi) pairs — half the
    // distinct/anti volume — and both directions are emitted at the
    // end. Pairs come from the checkpointed per-user partner sets, not
    // a second corpus scan.
    val contacts = perUser
      .select(col("user_id"), explode(col("partners")).as("partner"))
      .select(
        least(col("user_id"), col("partner")).as("lo"),
        greatest(col("user_id"), col("partner")).as("hi"))
      .distinct()

    val lastCoords = perUser
      .select(col("user_id"), col("b.lat"), col("b.lon"),
        col("b.city_id"), col("b.timezone"), col("b.last_ts").as("last_ts"))

    // 2a. Proximity pairs by grid blocking: candidates come from an
    // equi-join on grid cells sized to MaxDistKm — Σ|cell|·9 pair
    // evaluations instead of |users|². The exact (UNROUNDED, matching
    // the oracle's predicate) haversine filter runs inside
    // pairsWithinKm on candidates only; each undirected pair surfaces
    // exactly once as (lo < hi). The longitude-shrink bound is DERIVED
    // from the input's measured latitude extreme (one scalar agg over
    // the already-checkpointed per-user aggregate) — a hardcoded
    // cos-bound would silently under-size cells the day the input
    // outgrows the fixture's |lat| ≤ 44° band. Cross-engine boundary
    // agreement is safe — the nearest pair distance to the 300 km cut
    // over ALL grid coordinate pairs is 1.7e-3 km away, dwarfing libm
    // ulps.
    // Coordinate quarantine: the fixture synthesizes valid coords, but
    // a data-sourced deployment can carry a corrupt row (|lat| > 90,
    // NaN, null) that would abort the job at the blocking grid's
    // measured-extreme guard — users without a usable position simply
    // can't be proximity candidates. No-op on valid inputs, and the
    // drop count is OBSERVED in-flight (free, no second pass) so a
    // feed-wide corruption surfaces as a metric instead of a silent
    // candidate shrink: read `queryExecution.observedMetrics(
    // "friend_recs_coord_quarantine")` after the job's action.
    val valid = GeoOps.validCoords(col("lat"), col("lon"))
    val blockingInput = lastCoords
      .select(col("user_id"), col("lat"), col("lon"))
      .observe("friend_recs_coord_quarantine",
        coalesce(sum(when(!valid, 1L).otherwise(0L)), lit(0L)).as("n_dropped"),
        count(lit(1)).as("n_users"))
      .where(valid)
    val near = GeoBlocking.pairsWithinKmAuto(
      blockingInput,
      "user_id", "lat", "lon", maxKm = MaxDistKm,
      distanceKm = graft.functions.Geo.distanceKm(refCompat))
      .select(col("id_a").as("lo"), col("id_b").as("hi"))

    // 2b. Channel-overlap filter on blocked pairs. Flags attach via
    // plain equi-joins: user-cardinality inputs must not be FORCED to
    // broadcast — the planner broadcasts while the per-user aggregate
    // fits the threshold and shuffle-joins beyond it.
    val pairs = near
      .join(perUser.select(col("user_id").as("lo"),
        col("has_signup").as("s_lo"), col("has_view").as("v_lo")), Seq("lo"))
      .join(perUser.select(col("user_id").as("hi"),
        col("has_signup").as("s_hi"), col("has_view").as("v_hi")), Seq("hi"))
      .where((col("s_lo") && col("s_hi")) || (col("v_lo") && col("v_hi")))
      .select("lo", "hi")

    // 3. Remove pairs that already messaged each other (anti join;
    // contacts are message-bounded and the planner broadcasts them
    // while they fit).
    val fresh = pairs.join(contacts, Seq("lo", "hi"), "left_anti")

    // 4./5. Expand survivors to both directions (the datamart
    // recommends symmetrically) and decorate from the left user's
    // latest event.
    fresh
      .select(explode(array(
        struct(col("lo").as("left_user"), col("hi").as("right_user")),
        struct(col("hi").as("left_user"), col("lo").as("right_user")))).as("e"))
      .select(col("e.left_user"), col("e.right_user"))
      .join(lastCoords.select(
        col("user_id").as("left_user"), col("city_id").as("zone_id"),
        col("timezone"), col("last_ts")), Seq("left_user"))
      .select(
        col("left_user").as("user_id"),
        col("right_user").as("rec_to_add_user_id"),
        lit(ProcessedDttm).as("processed_dttm"),
        col("zone_id"),
        date_format(from_utc_timestamp(col("last_ts"), col("timezone")),
          "yyyy-MM-dd HH:mm:ss").as("local_time"))
  }
}
