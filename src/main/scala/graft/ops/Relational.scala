package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Core relational operators over the driver-provided TPC-H-ish tables.
  *
  * Each query is the Spark-first restatement of an operator family from
  * SURVEY.md §2 (reference: tan-res-space/nspc-etl-basic,
  * src/file-to-sql-loader.py). The reference delegates relational work to an
  * RDBMS via generated SQL; here each capability is a Catalyst plan.
  *
  * Scale notes (100 TB design intent):
  *  - fact tables (lineitem/orders/events) are only ever scanned with
  *    column pruning + predicate pushdown (select/filter before agg);
  *  - fixed-cardinality dims (region=5, nation=25, literal band tables)
  *    carry an explicit `broadcast` hint; SF-scaling dims (customer, part,
  *    supplier) are left to Catalyst/AQE statistics — broadcast while they
  *    fit, sort-merge at 100 TB where a forced broadcast would OOM;
  *  - aggregates are expressed as groupBy/agg ⇒ partial (map-side) + final
  *    hash aggregation, no driver-side collection;
  *  - double-typed measures are cast to DECIMAL before SUM so results are
  *    order-independent (bit-exact vs the DuckDB oracle), then emitted as
  *    DOUBLE for a stable comparison surface.
  */
object Relational {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Guarded scan-parallelism fix: the bench inputs are SINGLE-ROW-GROUP
    * parquet files (measured: every sf0.1 table is 1 row group), so the
    * scan — and every narrow op above the first shuffle — runs as ONE
    * task no matter how `spark.sql.files.maxPartitionBytes` is tuned: a
    * row group is consumed by exactly one split, byte-range splits beyond
    * it read zero rows. Physically repartitioning the (tiny) input bytes
    * is therefore the only way to spread the expensive per-row work, and
    * is the right trade at bench scale. On real many-file/many-row-group
    * inputs the guard makes this a no-op.
    *
    * The guard itself is metadata-only: file count via `inputFiles` plus
    * at most `target` driver-side FS stats, never `df.rdd` — which would
    * force eager physical planning of the whole query on every
    * construction. */
  def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.length >= target) df // many files: scan is already parallel
    else if (files.isEmpty) df    // non-file source (in-memory test data)
    else {
      // few files: bounded number of FS stats; estimate Spark's byte-range
      // splits per file. Single-row-group bench files land at 1 split each.
      val conf = spark.sessionState.conf
      val hconf = spark.sparkContext.hadoopConfiguration
      val sizes = files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(hconf).getFileStatus(p).getLen
      }
      val maxSplit = math.max(conf.filesOpenCostInBytes,
        math.min(conf.filesMaxPartitionBytes, sizes.sum / math.max(1, target)))
      val estSplits = sizes.map(s => math.max(1L, (s + maxSplit - 1) / maxSplit)).sum
      if (estSplits < target) df.repartition(target) else df
    }
  }

  /** Cheap corpus-identity signature for per-JVM memo keys (the r10
    * advice: a memo keyed on `dir` alone silently serves stale state when
    * a corpus at the same path is rewritten within one JVM — real for
    * overwritten /tmp stress corpora). Identity = the table directory's
    * part-file listing with sizes and mtimes: any rewrite (even same-size)
    * changes mtimes, and the listing is driver-side metadata only — no
    * data scan, a handful of FS stats. */
  def corpusSignature(spark: SparkSession, dir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) s"missing:$p"
    else if (fs.getFileStatus(p).isFile) {
      val st = fs.getFileStatus(p)
      s"file:${st.getLen}:${st.getModificationTime}"
    } else
      fs.listStatus(p).filterNot(_.getPath.getName.startsWith("_"))
        .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .sorted.mkString("|")
  }

  /** Schema-adaptive events reader. The driver has shipped the events
    * table under two physical encodings across refreshes:
    *   - TIMESTAMP(NANOS) parquet timestamps, which Spark's vectorized
    *     reader rejects — read nanos as long (`nanosAsLong=true`) and
    *     truncate to micros with integer arithmetic (ns ≈ 1.7e18 overflows
    *     double's exact range, so no FP division; DuckDB truncates ns→us
    *     identically);
    *   - native timestamp[us] (isAdjustedToUTC=false ⇒ TIMESTAMP_NTZ in
    *     Spark) — pass through, cast to session-local TimestampType so
    *     every downstream consumer sees the same type either way (session
    *     TZ is UTC everywhere in this library, so the cast is
    *     value-preserving and matches what DuckDB reads).
    * Branching on the *read-time* dtype of `ts` (not a hardcoded encoding)
    * is what a production ingest layer owes its callers: both worlds read
    * correctly with no caller-visible difference. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // nanosAsLong is only consulted at schema-inference time (the
    // spark.read call below) and only affects NANOS-typed columns, so
    // set-read-restore is harmless on native-µs data and leaves no lasting
    // session-conf mutation for library users (verified by test).
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val raw = fanOut(t(spark, dir, "events"))
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampType => raw
        case _ => // TIMESTAMP_NTZ (µs/ms parquet, isAdjustedToUTC=false)
          raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
      }
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  /** Exact, order-independent sum of a double column: cast each value to
    * DECIMAL(18,4) (exact), sum exactly, emit as double. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")
  /** Average as double-division of the exact decimal sum — identical IEEE
    * op in Spark and DuckDB (decimal division scale rules differ between
    * engines, so divide in double space). */
  private def davg(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double") / count(c)
  /** Monetary double → exact DECIMAL(12,4); rate double → DECIMAL(6,4).
    * Small precisions keep decimal products exact (never >38 digits). */
  private def money(c: Column): Column = c.cast("decimal(12,4)")
  private def frac(c: Column): Column = c.cast("decimal(6,4)")

  // ----------------------------------------------------------------------
  // E. Aggregation: TPC-H Q1-style pricing summary (SURVEY §2 E1/E2;
  // reference profiling/row-count aggregates src/file-to-sql-loader.py:696-747).
  // Scan reads only 7 of 11 lineitem columns; filter pushed to parquet.
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = fanOut(t(s, dir, "lineitem"))
    // exact decimal products (no double rounding mid-expression): price fits
    // DECIMAL(12,4), disc/tax DECIMAL(6,4) ⇒ products stay within 38 digits.
    val discPrice = money(col("l_extendedprice")) * (lit(1) - frac(col("l_discount")))
    val charge    = discPrice * (lit(1) + frac(col("l_tax")))
    li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        // data is 2-dp ⇒ scale-4/6 casts are lossless; they keep the
        // decimal's unscaled int < 2^53 so the duckdb double cast is exact
        sum(discPrice).cast("decimal(38,4)").cast("double").as("sum_disc_price"),
        sum(charge).cast("decimal(38,6)").cast("double").as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (1 - CAST(l_discount AS DECIMAL(6,4))) * (1 + CAST(l_tax AS DECIMAL(6,4)))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ----------------------------------------------------------------------
  // A/C. Scan + filter with pushdown + projection pruning (SURVEY §2 A1-A3,
  // C1-C3; reference validation filters src/file-to-sql-loader.py:1070-1086).
  def q02FilterScan(s: SparkSession, dir: String): DataFrame = {
    fanOut(t(s, dir, "lineitem"))
      .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
              col("l_shipdate") <  to_timestamp(lit("1996-01-01")) &&
              col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
              col("l_quantity") < 24)
      .agg(sum(money(col("l_extendedprice")) * frac(col("l_discount"))).cast("decimal(38,4)").cast("double").as("revenue"),
           count(lit(1)).as("n"))
  }

  val q02Sql: String =
    """SELECT
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(l_discount AS DECIMAL(6,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  // ----------------------------------------------------------------------
  // D. Multi-way equi-join + agg (SURVEY §2 D1 join semantics). Broadcast
  // policy: FORCE the hint only on fixed-cardinality dims (nation=25,
  // region=5 — small at any SF); customer scales with SF, so Catalyst/AQE
  // decides from statistics (still broadcast at bench scale, sort-merge at
  // 100 TB where a forced broadcast would OOM the executors).
  def q03JoinRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = fanOut(t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount"))
    val o  = t(s, dir, "orders").select("o_orderkey", "o_custkey")
    val c  = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val n  = t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    val r  = t(s, dir, "region").select("r_regionkey", "r_name")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(money(col("l_extendedprice")) * (lit(1) - frac(col("l_discount")))).cast("decimal(38,4)").cast("double").as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q03Sql: String =
    """SELECT r_name, n_name,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  // ----------------------------------------------------------------------
  // D. Broadcast dim join (SURVEY §2 D1): part is statistics-small here ⇒
  // Catalyst broadcasts it unhinted, and the lineitem side never shuffles
  // for the join; no forced hint because part scales with SF.
  def q04BroadcastDim(s: SparkSession, dir: String): DataFrame = {
    val li = fanOut(t(s, dir, "lineitem").select("l_partkey", "l_extendedprice", "l_quantity"))
    val p  = t(s, dir, "part").select("p_partkey", "p_brand")
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(dsum(col("l_extendedprice")).as("sum_price"),
           dsum(col("l_quantity")).as("sum_qty"),
           count(lit(1)).as("n"))
      .orderBy(col("p_brand"))
  }

  val q04Sql: String =
    """SELECT p_brand,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ----------------------------------------------------------------------
  // C4/D3. Anti-join — the reference's pending-files resume filter
  // (src/file-to-sql-loader.py:231-251) restated as left_anti.
  def q05AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select("c_custkey", "c_name")
    val o = t(s, dir, "orders").select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .orderBy(col("c_custkey"))
  }

  val q05Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
      |ORDER BY c_custkey""".stripMargin

  // ----------------------------------------------------------------------
  // D. Semi-join (EXISTS).
  def q06SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val su = t(s, dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    val li = t(s, dir, "lineitem").select("l_suppkey", "l_quantity")
      .filter(col("l_quantity") > 45)
    su.join(li, su("s_suppkey") === li("l_suppkey"), "left_semi")
      .orderBy(col("s_suppkey"))
  }

  val q06Sql: String =
    """SELECT s_suppkey, s_name, s_acctbal FROM supplier
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity > 45)
      |ORDER BY s_suppkey""".stripMargin

  // ----------------------------------------------------------------------
  // E4. Distinct (SELECT DISTINCT SourceFile, src/file-to-sql-loader.py:236-241).
  def q07Distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_orderstatus"), col("o_orderpriority"))
      .distinct()
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  val q07Sql: String =
    """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // ----------------------------------------------------------------------
  // F1/F3. Order-by + limit (top-k). Tie-broken on the key so the result is
  // fully deterministic (SURVEY §2 F1: ORDER BY … DESC + fetchone).
  def q08TopK(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select("o_custkey", "o_totalprice")
    val c = t(s, dir, "customer").select("c_custkey", "c_name")
    o.groupBy(col("o_custkey"))
      .agg(dsum(col("o_totalprice")).as("total_spent"), count(lit(1)).as("n_orders"))
      .join(c, col("o_custkey") === col("c_custkey"))  // customer scales with SF: no forced hint
      .select(col("c_custkey"), col("c_name"), col("total_spent"), col("n_orders"))
      .orderBy(col("total_spent").desc, col("c_custkey"))
      .limit(10)
  }

  val q08Sql: String =
    """SELECT c_custkey, c_name,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spent,
      |  COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY total_spent DESC, c_custkey
      |LIMIT 10""".stripMargin

  // ----------------------------------------------------------------------
  // F4/H. Last-wins dedup via window row_number — the reference's
  // duplicate-PK-within-file contract (test/test_upsert_operations.py:361-395,
  // 'last_wins'). Here: latest event per user, ordered by (ts, event_id).
  def q09LastWins(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select("event_id", "ts", "user_id", "event_type", "value")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    e.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
              col("event_type").as("last_event_type"), col("value").as("last_value"))
      .orderBy(col("user_id"))
  }

  val q09Sql: String =
    """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type, value AS last_value
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // ----------------------------------------------------------------------
  // D1/I5. The upsert merge itself: target=customer, source=an update set
  // derived from orders (new acctbal per active customer + synthetic new
  // customers). Full-outer join + per-column coalesce = MERGE WHEN MATCHED
  // UPDATE / WHEN NOT MATCHED INSERT (src/file-to-sql-loader.py:1340-1366),
  // restated as one Catalyst plan with an atomic overwrite downstream.
  def q10UpsertMerge(s: SparkSession, dir: String): DataFrame = {
    val target = t(s, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
              col("c_acctbal").cast("decimal(18,4)").as("acctbal"))
    // source: per-customer order count as the "new" acctbal; ids shifted to
    // also produce not-matched (insert) rows.
    val source = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).cast("decimal(18,4)").as("s_acctbal"))
      .select((col("o_custkey") + 25).as("id"),
              concat(lit("upserted#"), (col("o_custkey") + 25)).as("s_name"),
              col("s_acctbal"))
    target.join(source, Seq("id"), "full_outer")
      .select(
        col("id"),
        coalesce(col("s_name"), col("name")).as("name"),
        coalesce(col("s_acctbal"), col("acctbal")).cast("double").as("acctbal"),
        when(col("s_name").isNotNull && col("name").isNotNull, lit("updated"))
          .when(col("s_name").isNotNull, lit("inserted"))
          .otherwise(lit("kept")).as("merge_action"))
      .orderBy(col("id"))
  }

  val q10Sql: String =
    """WITH target AS (
      |  SELECT c_custkey AS id, c_name AS name, CAST(c_acctbal AS DECIMAL(18,4)) AS acctbal FROM customer
      |), source AS (
      |  SELECT o_custkey + 25 AS id,
      |         'upserted#' || CAST(o_custkey + 25 AS VARCHAR) AS s_name,
      |         CAST(COUNT(*) AS DECIMAL(18,4)) AS s_acctbal
      |  FROM orders GROUP BY o_custkey
      |)
      |SELECT COALESCE(target.id, source.id) AS id,
      |       COALESCE(s_name, name) AS name,
      |       CAST(COALESCE(s_acctbal, acctbal) AS DOUBLE) AS acctbal,
      |       CASE WHEN s_name IS NOT NULL AND name IS NOT NULL THEN 'updated'
      |            WHEN s_name IS NOT NULL THEN 'inserted'
      |            ELSE 'kept' END AS merge_action
      |FROM target FULL OUTER JOIN source ON target.id = source.id
      |ORDER BY id""".stripMargin

  // ----------------------------------------------------------------------
  // G. Union (the upsert state union, SURVEY §2 G) — unionByName of two
  // disjoint filtered slices, then agg for a stable small output.
  def q11Union(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val hi = o.filter(col("o_totalprice") > 300000)
      .select(col("o_orderkey"), lit("high").as("bucket"))
    val lo = o.filter(col("o_totalprice") < 50000)
      .select(col("o_orderkey"), lit("low").as("bucket"))
    hi.unionByName(lo)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
      .orderBy(col("bucket"))
  }

  val q11Sql: String =
    """SELECT bucket, COUNT(*) AS n, MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      |FROM (
      |  SELECT o_orderkey, 'high' AS bucket FROM orders WHERE o_totalprice > 300000
      |  UNION ALL
      |  SELECT o_orderkey, 'low' AS bucket FROM orders WHERE o_totalprice < 50000
      |)
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  // ----------------------------------------------------------------------
  // E. Rollup (multi-level aggregate; generalizes the reference's batch
  // roll-up E3, src/file-to-sql-loader.py:1601-1638).
  def q12Rollup(s: SparkSession, dir: String): DataFrame =
    fanOut(t(s, dir, "lineitem"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val q12Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ----------------------------------------------------------------------
  // H. Analytic window: running revenue per customer over order dates
  // (frame = unbounded preceding .. current row).
  def q13WindowRunning(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
              col("o_totalprice").cast("decimal(18,4)").as("p"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.withColumn("running_total", sum(col("p")).over(w).cast("double"))
      .withColumn("order_rank", row_number().over(
        Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))))
      .select(col("o_custkey"), col("o_orderkey"), col("order_rank"), col("running_total"))
      .orderBy(col("o_custkey"), col("order_rank"))
  }

  val q13Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_rank,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      |FROM orders
      |ORDER BY o_custkey, order_rank""".stripMargin

  // ----------------------------------------------------------------------
  // Time-bucket aggregation over the events table (the streaming-shaped
  // batch query; tumbling 1-hour windows via date_trunc).
  def q14TimeBucket(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  val q14Sql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin
}
