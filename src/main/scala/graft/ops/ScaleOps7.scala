package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Relational.t

/** Round-9 batch 3: graph + behavioral/temporal analytics — integer
  * PageRank (q96), dyadic-decay activity scoring (q97), forward-fill
  * densification (q98), funnel analysis (q99), retention cohorts (q100).
  *
  * Shared discipline: every cross-engine-compared number is integer
  * arithmetic (floor division, shifts, counts) or a SINGLE IEEE division
  * of exact int64s; iterative algorithms are fixed-round and unrolled in
  * the SQL mirror. Time arithmetic happens in whole days from a literal
  * epoch — no timezone- or precision-sensitive rounding. */
object ScaleOps7 {

  // --- integer PageRank over the supplier–customer graph (q96) ------------

  /** q96: PageRank on the bipartite supplier↔customer trade graph
    * (distinct pairs from lineitem⋈orders, both directions, so every
    * node has degree ≥ 1 — no dangling-mass term). The reference's
    * relational surface has no graph op at all; a curation stack needs
    * one (link-graph quality signals, dedup-cluster authority).
    *
    * Integer Pregel: ranks live in millionths (pr₀ = 1 000 000), each
    * round sends floor(pr·85 / (deg·100)) along every edge and lands on
    * base 150 000 — damping 0.85 in exact int64 arithmetic, so three
    * rounds are bit-reproducible by the unrolled SQL mirror. Node ids
    * namespace the two key spaces (supplier→2k, customer→2k+1).
    *
    * Scale shape: ONE cached, src-partitioned edge table carries its
    * degree (window count over the src partitioning — same exchange),
    * and EVERYTHING derives from that cache: the degree/start-rank
    * table is a partial-agg groupBy that reuses the src partitioning
    * (no exchange), and each Pregel round is a co-partitioned join
    * (pr arrives hash(node)-partitioned from the previous round's
    * groupBy, edges are hash(src)) plus ONE partial-agg groupBy on dst
    * — so a round costs exactly one edge-sized exchange and the whole
    * query ≈ 5 hash exchanges regardless of rounds' payload
    * duplication (the r9 first cut re-derived the graph per reference:
    * 30 exchanges; the audit caught it). At 100 TB the edge table
    * would be bucketed by src, making even the round joins
    * exchange-free on cold storage. */
  def q96Pagerank(s: SparkSession, dir: String): DataFrame = {
    // pairs deliberately NOT persisted since r18: the union sides share
    // the distinct's exchange via ReuseExchange, and the one-JVM
    // interleaved A/B (7 reps) measured the r9-r17
    // persisted form 4.33 s vs 3.30 s without it — cache population
    // serialized what the exchange reuse already deduplicates
    val pairs = Relational.fanOut(t(s, dir, "lineitem"))
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("s"), (col("o_custkey") * 2 + 1).as("c"))
      .distinct()
    val edges = pairs.select(col("s").as("src"), col("c").as("dst"))
      .unionByName(pairs.select(col("c").as("src"), col("s").as("dst")))
    val wSrc = Window.partitionBy(col("src"))
    val edgesD = edges.withColumn("deg", count(lit(1)).over(wSrc)).persist()
    // already hash(src)-partitioned by the window: no exchange
    val deg = edgesD.groupBy(col("src")).agg(max(col("deg")).as("deg"))
    var pr = deg.select(col("src").as("node"), lit(1000000L).as("pr"))
    for (_ <- 1 to 3) {
      pr = edgesD
        .join(pr, edgesD("src") === pr("node"))
        .select(col("dst"), expr("(pr * 85) div (deg * 100)").as("contrib"))
        .groupBy(col("dst"))
        .agg((lit(150000L) + sum(col("contrib"))).as("pr"))
        .select(col("dst").as("node"), col("pr"))
    }
    pr.join(deg.withColumnRenamed("src", "node"), Seq("node"))
      .select(col("node"), col("deg"), col("pr"))
      .orderBy(col("node"))
  }

  val q96Sql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT l_suppkey * 2 AS s, o_custkey * 2 + 1 AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |), edges AS (
      |  SELECT s AS src, c AS dst FROM pairs
      |  UNION ALL SELECT c AS src, s AS dst FROM pairs
      |), deg AS (
      |  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
      |), pr0 AS (
      |  SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM deg
      |), it1 AS (
      |  SELECT e.dst AS node,
      |    CAST(150000 + SUM((p.pr * 85) // (d.deg * 100)) AS BIGINT) AS pr
      |  FROM edges e JOIN pr0 p ON e.src = p.node JOIN deg d ON e.src = d.src
      |  GROUP BY e.dst
      |), it2 AS (
      |  SELECT e.dst AS node,
      |    CAST(150000 + SUM((p.pr * 85) // (d.deg * 100)) AS BIGINT) AS pr
      |  FROM edges e JOIN it1 p ON e.src = p.node JOIN deg d ON e.src = d.src
      |  GROUP BY e.dst
      |), it3 AS (
      |  SELECT e.dst AS node,
      |    CAST(150000 + SUM((p.pr * 85) // (d.deg * 100)) AS BIGINT) AS pr
      |  FROM edges e JOIN it2 p ON e.src = p.node JOIN deg d ON e.src = d.src
      |  GROUP BY e.dst
      |)
      |SELECT node, deg, pr FROM it3 JOIN deg ON node = deg.src
      |ORDER BY node""".stripMargin

  // --- dyadic-decay activity score (q97) ----------------------------------

  /** q97: exponentially-decayed per-user activity with a ONE-DAY
    * half-life over the 30-day event window — the recency-weighted
    * engagement score behind "active user" rankings. The decay factor is
    * deliberately dyadic (½/day): day-d counts weigh 2^(29−d), so the
    * whole accumulation is exact int64 arithmetic (a transcendental
    * exp(−λt) would not be identically rounded across engines); the only
    * IEEE op is the final presentation division by 2^29.
    *
    * Scale shape: one partial-agg groupBy to daily counts (the map-side
    * combine eats the per-day multiplicity), one groupBy to users. Day
    * indexes clamp into [0, 29] so data outside the window degrades to
    * the boundary weight rather than shifting out of range. */
  def q97DecayScore(s: SparkSession, dir: String): DataFrame = {
    Relational.events(s, dir)
      .select(col("user_id"),
        least(greatest(datediff(to_date(col("ts")),
          to_date(lit("2024-01-01"))), lit(0)), lit(29)).as("d"))
      .groupBy(col("user_id"), col("d"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("n_events"),
        sum(expr("n * shiftleft(CAST(1 AS BIGINT), 29 - d)")).as("score_int"))
      .withColumn("score",
        col("score_int").cast("double") /
          expr("shiftleft(CAST(1 AS BIGINT), 29)").cast("double"))
      .select(col("user_id"), col("n_events"), col("score_int"), col("score"))
      .orderBy(col("user_id"))
  }

  val q97Sql: String =
    """WITH daily AS (
      |  SELECT user_id,
      |    LEAST(GREATEST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)), 0), 29) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2
      |), agg AS (
      |  SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
      |    CAST(SUM(n * (CAST(1 AS BIGINT) << (29 - d))) AS BIGINT) AS score_int
      |  FROM daily GROUP BY user_id
      |)
      |SELECT user_id, n_events, score_int,
      |  CAST(score_int AS DOUBLE) / CAST(CAST(1 AS BIGINT) << 29 AS DOUBLE) AS score
      |FROM agg ORDER BY user_id""".stripMargin

  // --- forward-fill densification (q98) ------------------------------------

  /** q98: gap-filling a sparse per-user daily series to a dense one —
    * the densification step every feature pipeline needs before
    * windowed/joined consumption (a user with no Tuesday event still has
    * a Tuesday feature row carrying the last observed value).
    *
    * Law: per (user, day) the observation is the value of the LAST event
    * that day (ts DESC, event_id DESC tiebreak — the SCD2/upsert
    * discipline); the scaffold is users × the 30-day literal window; the
    * fill is last-non-null over days (leading days before the first
    * observation stay NULL). Values pass through untouched — no float
    * arithmetic at all.
    *
    * Scale shape: the scaffold is a BROADCAST range×users cross (30
    * rows × distinct users — never event-sized); daily dedup and the
    * fill window both partition by user, and the left join keys on
    * (user, day) — three exchanges over daily-granularity rows, not raw
    * events. */
  def q98ForwardFill(s: SparkSession, dir: String): DataFrame = {
    val ev = Relational.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("ts"), col("event_id"), col("value"))
    val dayW = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = ev.withColumn("rn", row_number().over(dayW))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value"))
    val users = ev.select(col("user_id")).distinct()
    val scaffold = users.crossJoin(
      broadcast(s.range(30).select(
        date_add(to_date(lit("2024-01-01")), col("id").cast("int")).as("day"))))
    val fillW = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scaffold
      .join(daily, Seq("user_id", "day"), "left")
      .withColumn("is_observed", col("value").isNotNull)
      .withColumn("value", last(col("value"), ignoreNulls = true).over(fillW))
      .select(col("user_id"), col("day").cast("timestamp").as("day"),
        col("value"), col("is_observed"))
      .orderBy(col("user_id"), col("day"))
  }

  val q98Sql: String =
    """WITH lastday AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                       ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |), daily AS (
      |  SELECT user_id, day, value FROM lastday WHERE rn = 1
      |), users AS (
      |  SELECT DISTINCT user_id FROM events
      |), scaffold AS (
      |  SELECT u.user_id, DATE '2024-01-01' + CAST(g.x AS INTEGER) AS day
      |  FROM users u CROSS JOIN (SELECT unnest(generate_series(0, 29)) AS x) g
      |), joined AS (
      |  SELECT s.user_id, s.day, d.value, d.value IS NOT NULL AS is_observed
      |  FROM scaffold s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
      |)
      |SELECT user_id, CAST(day AS TIMESTAMP) AS day,
      |  LAST_VALUE(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
      |  is_observed
      |FROM joined ORDER BY user_id, day""".stripMargin

  // --- funnel analysis (q99) -----------------------------------------------

  /** q99: strictly-ordered conversion funnel per user:
    * signup → first view AFTER signup → first click AFTER that view →
    * first purchase AFTER that click. Each stage time is a conditional
    * MIN over events later than the previous stage — events before the
    * prerequisite do NOT count (the ordering constraint that separates a
    * funnel from four independent MINs).
    *
    * Scale shape: four user-keyed aggregate-then-join passes; after the
    * first exchange on user_id every later groupBy/join is co-partitioned
    * (one real shuffle of event-granularity rows; stage tables are
    * user-granularity). */
  def q99Funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Relational.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    def stage(prev: DataFrame, prevCol: String, typ: String, out: String): DataFrame =
      ev.join(prev, Seq("user_id"))
        .filter(col("event_type") === typ && col("ts") > col(prevCol))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as(out))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_signup"))
    val s2 = stage(s1, "t_signup", "view", "t_view")
    val s3 = stage(s2, "t_view", "click", "t_click")
    val s4 = stage(s3, "t_click", "purchase", "t_purchase")
    ev.select(col("user_id")).distinct()
      .join(s1, Seq("user_id"), "left")
      .join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .join(s4, Seq("user_id"), "left")
      .withColumn("stage",
        when(col("t_purchase").isNotNull, 4L)
          .when(col("t_click").isNotNull, 3L)
          .when(col("t_view").isNotNull, 2L)
          .when(col("t_signup").isNotNull, 1L)
          .otherwise(0L))
      .select(col("user_id"), col("t_signup"), col("t_view"), col("t_click"),
        col("t_purchase"), col("stage"))
      .orderBy(col("user_id"))
  }

  val q99Sql: String =
    """WITH s1 AS (
      |  SELECT user_id, MIN(ts) AS t_signup FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id
      |), s2 AS (
      |  SELECT e.user_id, MIN(ts) AS t_view FROM events e JOIN s1 USING (user_id)
      |  WHERE event_type = 'view' AND ts > t_signup GROUP BY e.user_id
      |), s3 AS (
      |  SELECT e.user_id, MIN(ts) AS t_click FROM events e JOIN s2 USING (user_id)
      |  WHERE event_type = 'click' AND ts > t_view GROUP BY e.user_id
      |), s4 AS (
      |  SELECT e.user_id, MIN(ts) AS t_purchase FROM events e JOIN s3 USING (user_id)
      |  WHERE event_type = 'purchase' AND ts > t_click GROUP BY e.user_id
      |)
      |SELECT u.user_id, t_signup, t_view, t_click, t_purchase,
      |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 4
      |            WHEN t_click IS NOT NULL THEN 3
      |            WHEN t_view IS NOT NULL THEN 2
      |            WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
      |FROM (SELECT DISTINCT user_id FROM events) u
      |LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
      |LEFT JOIN s3 USING (user_id) LEFT JOIN s4 USING (user_id)
      |ORDER BY user_id""".stripMargin

  // --- retention cohorts (q100) --------------------------------------------

  /** q100: weekly retention matrix — users grouped into cohorts by
    * first-seen week, counted in every later week they reappear (the
    * triangle heatmap behind every retention dashboard). Whole-day
    * arithmetic from the literal epoch, floor-divided into weeks; the
    * distinct (user, week) projection makes COUNT(*) a distinct-user
    * count without a per-cell count-distinct expansion.
    *
    * Scale shape: first-seen is one user groupBy; activity re-joins on
    * user (co-partitioned after the first exchange); the matrix is a
    * partial-agg groupBy over ≤ users×weeks distinct rows. */
  def q100Retention(s: SparkSession, dir: String): DataFrame = {
    val ev = Relational.events(s, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("d"))
    val firstd = ev.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
    ev.join(firstd, Seq("user_id"))
      .select(col("user_id"), expr("d0 div 7").as("cohort_week"),
        expr("d div 7").as("week"))
      .distinct()
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val q100Sql: String =
    """WITH firstd AS (
      |  SELECT user_id,
      |    MIN(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))) AS d0
      |  FROM events GROUP BY user_id
      |), act AS (
      |  SELECT DISTINCT e.user_id, f.d0 // 7 AS cohort_week,
      |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS week
      |  FROM events e JOIN firstd f USING (user_id)
      |)
      |SELECT cohort_week, week - cohort_week AS week_offset,
      |  CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM act GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
