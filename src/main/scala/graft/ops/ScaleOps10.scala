package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Relational.t

/** Round-9 batch 9: five analytics operators rounding out the platform's
  * behavioral / statistical surface — sweep-line peak concurrency over
  * gap-sessionized activity (q123), support-ranked basket association
  * pairs with confidence/lift (q124), a Benford first-digit conformance
  * readout (q125), MAD-based robust outlier detection (q126), and BFS
  * hop-distance distribution over the part co-purchase graph (q127).
  *
  * Cross-engine exactness discipline (the ScaleOps7/8/9 rules): every
  * comparison-bearing number is an exact integer law or a FIXED tree of
  * deterministic IEEE-754 ops on bit-identical inputs, mirrored
  * parenthesis-for-parenthesis in the DuckDB SQL. Doubles never enter an
  * engine-ordered Σ; sqrt is IEEE-correctly-rounded in both engines so a
  * single sqrt on an identical argument is safe.
  */
object ScaleOps10 {

  // --- sweep-line peak concurrency (q123) ---------------------------------

  /** q123: peak concurrent sessions per hour — the classic sweep line over
    * the q27 gap-sessionized intervals (30-min inactivity gap). Each
    * session contributes +1 at its start and −1 at its end; the running
    * sum over the boundary stream is the instantaneous concurrency, and
    * the per-hour MAX of that is the capacity-planning readout.
    *
    * Tie law (pinned so both engines walk the same total order): at equal
    * timestamps, starts sort before ends (delta DESC — touching sessions
    * count as concurrent), then (user_id, session_seq) completes a UNIQUE
    * total order, so the running sum is deterministic.
    *
    * Scale shape: a naive global running sum would be one unpartitioned
    * window — a single-task sort at 100 TB. This implementation is the
    * two-pass distributed sweep: the running sum is computed WITHIN each
    * hour partition (hash-partitioned window), and each hour adds the
    * prefix offset of all earlier hours — an unpartitioned window only
    * over the HOUR-LEVEL aggregate (|hours| rows, driver-small: ~720 for
    * a 30-day corpus regardless of data scale), broadcast back. Hour
    * order refines timestamp order, so per-hour prefix + earlier-hour
    * offset equals the global prefix exactly — the mirror computes the
    * naive global form and the integers agree. */
  def q123Concurrency(s: SparkSession, dir: String): DataFrame = {
    // sessions deliberately NOT cached: the r18 one-JVM interleaved A/B
    // (7 reps) measured the cached form 2.62 s vs 1.50 s
    // uncached — the branch re-runs of the sessionize chain are parallel
    // and share the user-keyed exchange via ReuseExchange, while the
    // cache serializes its population and re-reads
    val sessions = graft.streaming.Streaming.sessionizeBatch(
      Relational.events(s, dir), "user_id", "ts", gapMs = 30 * 60 * 1000L)
    val deltas = sessions
      .select(col("user_id"), col("session_seq"),
        col("session_start").as("ts"), lit(1).as("delta"))
      .unionByName(sessions.select(col("user_id"), col("session_seq"),
        col("session_end").as("ts"), lit(-1).as("delta")))
      .withColumn("hr", date_trunc("hour", col("ts")))
    val wIn = Window.partitionBy(col("hr"))
      .orderBy(col("ts"), col("delta").desc, col("user_id"), col("session_seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hourAgg = deltas.groupBy(col("hr")).agg(sum(col("delta")).as("hsum"))
    // |hours| rows — the only unpartitioned window, bounded by calendar
    // span (not data volume), then broadcast back to the boundary stream.
    val wOff = Window.orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hourAgg
      .withColumn("off", coalesce(sum(col("hsum")).over(wOff), lit(0L)))
      .select(col("hr"), col("off"))
    deltas
      .withColumn("run_in", sum(col("delta")).over(wIn))
      .join(broadcast(offsets), Seq("hr"))
      .withColumn("conc", col("run_in") + col("off"))
      .groupBy(col("hr"))
      .agg(max(col("conc")).as("peak_concurrent"),
        count(lit(1)).as("n_boundaries"))
      .orderBy(col("hr"))
  }

  /** Mirror: q27's session derivation verbatim, then the naive global
    * running sum under the same unique tie law — hour-partitioned prefix
    * plus earlier-hour offsets equals this global prefix exactly. */
  val q123Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), seq AS (
      |  SELECT user_id, ts,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM flagged
      |), sess AS (
      |  SELECT user_id, session_seq, MIN(ts) AS st, MAX(ts) AS en
      |  FROM seq GROUP BY user_id, session_seq
      |), deltas AS (
      |  SELECT user_id, session_seq, st AS ts, 1 AS delta FROM sess
      |  UNION ALL
      |  SELECT user_id, session_seq, en AS ts, -1 AS delta FROM sess
      |), run AS (
      |  SELECT ts,
      |    SUM(delta) OVER (ORDER BY ts, delta DESC, user_id, session_seq
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      |  FROM deltas
      |)
      |SELECT date_trunc('hour', ts) AS hr,
      |  CAST(MAX(conc) AS BIGINT) AS peak_concurrent,
      |  COUNT(*) AS n_boundaries
      |FROM run GROUP BY 1 ORDER BY hr""".stripMargin

  // --- basket association pairs (q124) ------------------------------------

  /** q124: market-basket association mining over order baskets — the top
    * 25 co-purchased part pairs by support, with confidence and lift as
    * the readout. Curation stacks run the same shape over (document,
    * n-gram) co-occurrence to find template families; this is the
    * relational form on first-class tables.
    *
    * Laws: support/confidence/lift are single-division IEEE trees over
    * exact integer counts — support = pair/n, confidence = pair/c1 (the
    * p1⇒p2 direction), lift = (pair·n)/(c1·c2), each operand cast to
    * double once, one multiply per side, one division. The ranking is by
    * the INTEGER pair count (then p1, p2) so row selection never depends
    * on a float compare.
    *
    * Scale shape: the pair generation is the per-order self-join —
    * quadratic only in BASKET size (≤7 items in TPC-H-shaped data), a
    * hash-shuffle on orderkey that AQE handles like any grouped join.
    * Item counts join in broadcast (|parts| = 0.2 %·SF of lineitem); the
    * 1-row basket total is a broadcast cross join. At 100 TB the only
    * big exchanges are the orderkey shuffle and the (p1,p2) partial-agg
    * groupBy — both map-side combined. */
  def q124BasketLift(s: SparkSession, dir: String): DataFrame = {
    // baskets deliberately NOT cached (the q127 edges discipline): its
    // four consumers share the distinct's exchange via ReuseExchange and
    // one pair-join side rides a broadcast built off its own scan; the
    // r18 one-JVM A/B measured the cached form 3.65 s vs 3.29 s uncached
    val baskets = Relational.fanOut(t(s, dir, "lineitem"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val itemCnt = baskets.groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val nOrders = baskets.select(countDistinct(col("ok")).as("n"))
    val a = baskets.select(col("ok"), col("pk").as("p1"))
    val b = baskets.select(col("ok"), col("pk").as("p2"))
    a.join(b, Seq("ok")).filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("pair_cnt"))
      .join(broadcast(itemCnt.select(col("pk").as("p1"), col("c").as("c1"))), Seq("p1"))
      .join(broadcast(itemCnt.select(col("pk").as("p2"), col("c").as("c2"))), Seq("p2"))
      .crossJoin(broadcast(nOrders))
      .select(col("p1"), col("p2"), col("pair_cnt"), col("c1"), col("c2"),
        (col("pair_cnt").cast("double") / col("n").cast("double")).as("support"),
        (col("pair_cnt").cast("double") / col("c1").cast("double")).as("confidence"),
        ((col("pair_cnt").cast("double") * col("n").cast("double"))
          / (col("c1").cast("double") * col("c2").cast("double"))).as("lift"))
      .orderBy(col("pair_cnt").desc, col("p1"), col("p2"))
      .limit(25)
  }

  val q124Sql: String =
    """WITH baskets AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |), item AS (
      |  SELECT pk, COUNT(*) AS c FROM baskets GROUP BY pk
      |), tot AS (
      |  SELECT COUNT(DISTINCT ok) AS n FROM baskets
      |), pairs AS (
      |  SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS pair_cnt
      |  FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY a.pk, b.pk
      |)
      |SELECT p1, p2, pair_cnt, i1.c AS c1, i2.c AS c2,
      |  CAST(pair_cnt AS DOUBLE) / CAST(n AS DOUBLE) AS support,
      |  CAST(pair_cnt AS DOUBLE) / CAST(i1.c AS DOUBLE) AS confidence,
      |  (CAST(pair_cnt AS DOUBLE) * CAST(n AS DOUBLE))
      |    / (CAST(i1.c AS DOUBLE) * CAST(i2.c AS DOUBLE)) AS lift
      |FROM pairs JOIN item i1 ON p1 = i1.pk JOIN item i2 ON p2 = i2.pk
      |CROSS JOIN tot
      |ORDER BY pair_cnt DESC, p1, p2 LIMIT 25""".stripMargin

  // --- Benford first-digit conformance (q125) ------------------------------

  /** q125: Benford's-law first-digit distribution of lineitem extended
    * prices — the forensic data-quality screen (synthetic or fabricated
    * value columns fail it; a pipeline ingesting external data runs this
    * per source). One row per digit 1–9 with the observed count, the
    * Benford expectation, and a standardized deviation.
    *
    * Laws: the first significant digit is read from the INTEGER cents —
    * floor(price·100 + 0.5) (multiply/add/floor: one fixed IEEE tree; no
    * engine-divergent half-even vs half-away rounding builtin) cast to a
    * string in base 10, first character. No log10 on data anywhere (libm
    * log10 is not cross-engine reproducible); the Benford expectations
    * log10(1+1/d) are nine compile-time double LITERALS, so expected
    * counts are one multiply and the z-score is (obs − en)/sqrt(en·(1−p))
    * — sqrt is IEEE-correctly-rounded in both engines.
    *
    * Scale shape: one map + one 9-group partial-agg groupBy; the window
    * total runs over 9 rows. Nothing else shuffles. */
  def q125Benford(s: SparkSession, dir: String): DataFrame = {
    // log10(1 + 1/d), d = 1..9, at full double precision
    val benford = Seq(
      0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
      0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
      0.05799194697768673, 0.05115252244738129, 0.04575749056067514)
    val li = Relational.fanOut(t(s, dir, "lineitem"))
      .filter(col("l_extendedprice") > 0)
      .select(floor(col("l_extendedprice") * lit(100.0) + lit(0.5))
        .cast("long").as("cents"))
      .select(substring(col("cents").cast("string"), 1, 1).cast("int").as("digit"))
    val wAll = Window.partitionBy()
    li.groupBy(col("digit")).agg(count(lit(1)).as("obs"))
      .withColumn("n", sum(col("obs")).over(wAll))
      .withColumn("benford_p", element_at(array(benford.map(lit): _*), col("digit")))
      .withColumn("expected", col("n").cast("double") * col("benford_p"))
      .withColumn("z",
        (col("obs").cast("double") - col("expected"))
          / sqrt(col("expected") * (lit(1.0) - col("benford_p"))))
      .select(col("digit"), col("obs"), col("benford_p"), col("expected"), col("z"))
      .orderBy(col("digit"))
  }

  val q125Sql: String =
    """WITH digits AS (
      |  SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(l_extendedprice * 100.0 + 0.5)
      |    AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
      |  FROM lineitem WHERE l_extendedprice > 0
      |), counts AS (
      |  SELECT digit, COUNT(*) AS obs FROM digits GROUP BY digit
      |), tot AS (
      |  SELECT digit, obs, SUM(obs) OVER () AS n,
      |    CAST(CASE digit
      |      WHEN 1 THEN 0.3010299956639812 WHEN 2 THEN 0.17609125905568124
      |      WHEN 3 THEN 0.12493873660829992 WHEN 4 THEN 0.09691001300805642
      |      WHEN 5 THEN 0.07918124604762482 WHEN 6 THEN 0.06694678963061322
      |      WHEN 7 THEN 0.05799194697768673 WHEN 8 THEN 0.05115252244738129
      |      WHEN 9 THEN 0.04575749056067514 END AS DOUBLE) AS benford_p
      |  FROM counts
      |)
      |SELECT digit, obs, benford_p,
      |  CAST(n AS DOUBLE) * benford_p AS expected,
      |  (CAST(obs AS DOUBLE) - (CAST(n AS DOUBLE) * benford_p))
      |    / sqrt((CAST(n AS DOUBLE) * benford_p) * (1.0 - benford_p)) AS z
      |FROM tot ORDER BY digit""".stripMargin

  // --- MAD robust outliers (q126) ------------------------------------------

  /** q126: median-absolute-deviation robust outliers of order totals per
    * priority class — the heavy-tail-safe twin of q102's Tukey fences
    * (quartile fences break down past ~25 % contamination; MAD holds to
    * 50 %). Flags |x − med| > 3.5·1.4826·MAD, the standard robust-z rule.
    *
    * Exactness: both medians are EXACT order statistics in integer cents,
    * doubled to dodge the odd/even interpolation divide — med2 = 2·median
    * is the sum of the middle one-or-two values scaled by (2 − (hi−lo)),
    * a pure integer; deviations are |2c − med2| (= 2·|c − med|, integer);
    * the MAD median repeats the trick, giving mad4 = 4·MAD as an integer.
    * The outlier test 2·dev2 > 5.1891·mad4 compares an exact integer cast
    * against one literal multiply (5.1891 = 3.5·1.4826 as a compile-time
    * double), so the flag is bit-deterministic; when MAD = 0 every
    * nonzero deviation flags (strict >) — the degenerate-scale
    * convention, documented here and mirrored below. The printable
    * med/mad are single divisions by the power-of-two scale (exact
    * mantissa shifts).
    *
    * Scale shape: two chained hash-partitioned windows per priority group
    * plus one final 5-group agg — the exact-median-by-window pattern is
    * per-GROUP, so it distributes; no global sort exists. */
  def q126MadOutliers(s: SparkSession, dir: String): DataFrame = {
    val base = Relational.fanOut(t(s, dir, "orders"))
      .select(col("o_orderpriority").as("grp"), col("o_orderkey"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
    val wG = Window.partitionBy(col("grp"))
    val w1 = wG.orderBy(col("cents"), col("o_orderkey"))
    val stage1 = base
      .withColumn("rn", row_number().over(w1))
      .withColumn("cnt", count(lit(1)).over(wG))
      .withColumn("lo", expr("(cnt + 1) div 2"))
      .withColumn("hi", expr("(cnt + 2) div 2"))
      .withColumn("med2",
        sum(when(col("rn").between(col("lo"), col("hi")), col("cents"))).over(wG)
          * (lit(2L) - (col("hi") - col("lo"))))
      .withColumn("dev2", abs(lit(2L) * col("cents") - col("med2")))
    val w2 = wG.orderBy(col("dev2"), col("o_orderkey"))
    val stage2 = stage1
      .withColumn("rn2", row_number().over(w2))
      .withColumn("mad4",
        sum(when(col("rn2").between(col("lo"), col("hi")), col("dev2"))).over(wG)
          * (lit(2L) - (col("hi") - col("lo"))))
      .withColumn("is_out",
        when((lit(2L) * col("dev2")).cast("double")
          > lit(5.1891) * col("mad4").cast("double"), 1L).otherwise(0L))
    stage2.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        (max(col("med2")).cast("double") / lit(2.0)).as("med"),
        (max(col("mad4")).cast("double") / lit(4.0)).as("mad"),
        sum(col("is_out")).as("n_outliers"))
      .orderBy(col("grp"))
  }

  val q126Sql: String =
    """WITH base AS (
      |  SELECT o_orderpriority AS grp, o_orderkey,
      |    CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM orders
      |), s1 AS (
      |  SELECT grp, o_orderkey, cents,
      |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cents, o_orderkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY grp) AS cnt
      |  FROM base
      |), s1b AS (
      |  SELECT *, (cnt + 1) // 2 AS lo, (cnt + 2) // 2 AS hi FROM s1
      |), s1c AS (
      |  SELECT *,
      |    SUM(CASE WHEN rn BETWEEN lo AND hi THEN cents END)
      |      OVER (PARTITION BY grp) * (2 - (hi - lo)) AS med2
      |  FROM s1b
      |), s2 AS (
      |  SELECT *, ABS(2 * cents - med2) AS dev2 FROM s1c
      |), s2b AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY dev2, o_orderkey) AS rn2
      |  FROM s2
      |), s2c AS (
      |  SELECT *,
      |    SUM(CASE WHEN rn2 BETWEEN lo AND hi THEN dev2 END)
      |      OVER (PARTITION BY grp) * (2 - (hi - lo)) AS mad4
      |  FROM s2b
      |)
      |SELECT grp, COUNT(*) AS n,
      |  CAST(MAX(med2) AS DOUBLE) / 2.0 AS med,
      |  CAST(MAX(mad4) AS DOUBLE) / 4.0 AS mad,
      |  CAST(SUM(CASE WHEN CAST(2 * dev2 AS DOUBLE)
      |      > CAST(5.1891 AS DOUBLE) * CAST(mad4 AS DOUBLE)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM s2c GROUP BY grp ORDER BY grp""".stripMargin

  // --- BFS hop distribution (q127) -----------------------------------------

  /** q127: breadth-first hop-distance distribution from the lowest part
    * key over the part co-purchase graph (parts sharing an order) —
    * "how connected is the catalog", the reachability readout a
    * dedup-cluster or link-graph layer runs to size its blast radius.
    * Output: one row per hop 0–3 with the number of parts first reached
    * at that hop (unreached parts are absent, by definition of BFS).
    *
    * Spark side is frontier BFS (the textbook Pregel form): the visited
    * set grows by (frontier ⋈ edges) anti-joined against itself, three
    * static rounds. The mirror is a recursive CTE enumerating all walks
    * of length ≤ 3 and taking MIN(hop) per node — BFS distance and
    * min-over-walks are the same integer, while the two engines' native
    * idioms stay idiomatic.
    *
    * Scale shape — ADAPTIVE since r10 (the r9 verdict's "broadcast
    * bound is prose, not code"): the edge table (co-purchase pairs,
    * both directions) is built once and persisted; frontier and visited
    * sets are NODE-sized. The entry point MEASURES the node set first
    * (one approx_count_distinct scan — no shuffle beyond partial aggs)
    * and branches on [[BfsBroadcastMaxNodes]] (8M ≈ 64 MB of raw longs
    * per executor before hashmap overhead):
    *   - node set under the bound: each round BROADCASTS frontier and
    *     visited against the cached edges — one broadcast hash join +
    *     one node-sized dedup per round, edges never re-shuffled.
    *   - above it (a graph whose node set rivals the fact table —
    *     would OOM the driver in broadcast form): the SHUFFLE form —
    *     edges persisted pre-partitioned on src, so each round's
    *     frontier join shuffles only the node-sized frontier against
    *     the stationary edge partitioning, and the anti-join runs as a
    *     regular hash join on node.
    * Both branches produce identical hop counts (spec'd on the chain
    * fixture and the real corpus). */
  /** Per-(corpus identity) memo of the measured node count — the r10
    * advice: the adaptive entry paid an unconditional full lineitem scan
    * per invocation, and the approximate count could flip the branch
    * between runs near the bound. Keyed on the part-file signature (the
    * trainMemo pattern), so repeated bench/spec invocations measure once
    * per corpus AND the branch choice is stable within a corpus
    * lifetime; a rewritten corpus re-measures. */
  private val nodeCountMemo =
    scala.collection.concurrent.TrieMap[(String, String), Long]()

  /** Node-set bound of [[q127BfsHops]]'s broadcast-frontier branch. */
  private[graft] val BfsBroadcastMaxNodes = 8000000L

  def q127BfsHops(s: SparkSession, dir: String): DataFrame = {
    val nNodes = nodeCountMemo.getOrElseUpdate(
      (dir, Relational.corpusSignature(s, dir, "lineitem")),
      Relational.fanOut(t(s, dir, "lineitem"))
        .agg(approx_count_distinct(col("l_partkey")).as("n")).head().getLong(0))
    bfsHops(s, dir, broadcastFrontier = nNodes <= BfsBroadcastMaxNodes)
  }

  /** The shuffle branch, callable directly for specs/stress. */
  private[graft] def q127BfsHopsShuffle(s: SparkSession, dir: String): DataFrame =
    bfsHops(s, dir, broadcastFrontier = false)

  private def bfsHops(s: SparkSession, dir: String,
      broadcastFrontier: Boolean): DataFrame = {
    // baskets deliberately NOT cached: the self-join's two sides share
    // the distinct's shuffle via AQE exchange reuse (both arrive
    // ok-partitioned — the join re-shuffles nothing); an
    // InMemoryRelation here would break that reuse and force two fresh
    // exchanges (measured: 9.0 s cached vs 6.1 s reused at sf0.1)
    val baskets = Relational.fanOut(t(s, dir, "lineitem"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val a = baskets.select(col("ok"), col("pk").as("src"))
    val b = baskets.select(col("ok"), col("pk").as("dst"))
    // NO distinct on the edge list: BFS reachability is insensitive to
    // duplicate edges (the per-round `reached` dedup is what guards the
    // counts), and the full-width edge shuffle it would cost buys <1 %
    // dedup on basket data — the mirror's DISTINCT is semantic garnish
    // the walk result provably doesn't depend on
    val edges0 = a.join(b, Seq("ok")).filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    // shuffle form: pin the edge partitioning to src ONCE so every
    // round's frontier join shuffles only the node-sized frontier
    // against stationary edges
    val edges = (if (broadcastFrontier) edges0
                 else edges0.repartition(col("src"))).persist()
    val seed = baskets.agg(min(col("pk")).as("node"))
      .select(col("node"), lit(0).as("hop"))
    // Each round's increment is MATERIALIZED (localCheckpoint — the
    // clusterPairs discipline) before the next round references it: the
    // lazy form re-executed the whole union lineage inside every round's
    // frontier/visited broadcast — one plan carried 68 parquet scans / 61
    // broadcast exchanges, and a profiled run paid ~14 REAL full-lineitem
    // scans (ReuseExchange dedups identical subplans, but each round's
    // visited differs). Checkpointed, the corpus is scanned once for the
    // edge build and once for the seed; every round is a node-sized job
    // against the cached edges. Visited sets are node-sized, so the
    // retained blocks are small and freed by the ContextCleaner with the
    // returned plan.
    var visited = seed.localCheckpoint()
    for (h <- 1 to 3) {
      val frontier0 = visited.filter(col("hop") === h - 1).select(col("node"))
      val frontier = if (broadcastFrontier) broadcast(frontier0) else frontier0
      val reached = edges.join(frontier, edges("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
      val vis0 = visited.select(col("node"))
      val vis = if (broadcastFrontier) broadcast(vis0) else vis0
      val fresh = reached
        .join(vis, Seq("node"), "left_anti")
        .withColumn("hop", lit(h))
        .localCheckpoint()
      visited = visited.unionByName(fresh)
    }
    visited.groupBy(col("hop")).agg(count(lit(1)).as("n_parts"))
      .orderBy(col("hop"))
  }

  /** Mirror: recursive walk enumeration bounded at hop 3; UNION (not
    * UNION ALL) dedupes (node, hop) states so the recursion is finite;
    * MIN(hop) per node collapses walks to BFS distance. */
  val q127Sql: String =
    """WITH RECURSIVE baskets AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |), edges AS (
      |  SELECT DISTINCT a.pk AS src, b.pk AS dst
      |  FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.pk <> b.pk
      |), walk(node, hop) AS (
      |  SELECT (SELECT MIN(pk) FROM baskets), 0
      |  UNION
      |  SELECT e.dst, w.hop + 1
      |  FROM walk w JOIN edges e ON e.src = w.node WHERE w.hop < 3
      |)
      |SELECT hop, COUNT(*) AS n_parts FROM (
      |  SELECT node, CAST(MIN(hop) AS INTEGER) AS hop FROM walk GROUP BY node
      |) GROUP BY hop ORDER BY hop""".stripMargin
}
