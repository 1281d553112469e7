package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Ground-truth laws for the round-9 batch-9 operators: sweep-line peak
  * concurrency (q123), basket association pairs (q124), Benford digit
  * conformance (q125), MAD robust outliers (q126), BFS hop distances
  * (q127). Hand fixtures pin the arithmetic; real-corpus cross-checks pin
  * the distributed two-pass forms against naive single-pass re-derivations. */
class ScaleOps10Spec extends GraftSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def writeEvents(dir: java.nio.file.Path,
                          rows: Seq[(Long, Timestamp, Long, String, Double)]): Unit =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  // --- q123 peak concurrency -----------------------------------------------

  test("q123: hand sweep — same-ts start-before-end tie law, cross-hour offset carry") {
    val dir = tempDir("q123-hand")
    writeEvents(dir, Seq(
      // user 1: one session 00:00–00:10
      (1L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 00:10:00"), 1L, "click", 1.0),
      // user 2: point session at 00:05 (start and end share one ts —
      // the +1 must land before the −1)
      (3L, ts("2024-01-01 00:05:00"), 2L, "click", 1.0),
      // user 4: session SPANNING the hour boundary 00:50–01:10 (20-min
      // gap stays one session); its −1 is hour 1's only boundary and is
      // only correct through the earlier-hour offset
      (4L, ts("2024-01-01 00:50:00"), 4L, "click", 1.0),
      (5L, ts("2024-01-01 01:10:00"), 4L, "click", 1.0),
      // user 3: 40-min gap → TWO point sessions inside hour 2
      (6L, ts("2024-01-01 02:00:00"), 3L, "click", 1.0),
      (7L, ts("2024-01-01 02:40:00"), 3L, "click", 1.0)))
    val got = graft.ops.ScaleOps10.q123Concurrency(spark, dir.toString)
      .collect().map(r => (r.getAs[Timestamp]("hr").toString,
        r.getAs[Long]("peak_concurrent"), r.getAs[Long]("n_boundaries"))).toSeq
    assert(got == Seq(
      ("2024-01-01 00:00:00.0", 2L, 5L),   // u1+u2 overlap at 00:05
      ("2024-01-01 01:00:00.0", 0L, 1L),   // lone −1, offset +1 from hour 0
      ("2024-01-01 02:00:00.0", 1L, 4L)))  // two disjoint point sessions
  }

  test("q123: two-pass hour-partitioned sweep equals the naive global running sum on the real corpus") {
    val sessions = graft.streaming.Streaming.sessionizeBatch(
      graft.ops.Relational.events(spark, sf), "user_id", "ts",
      gapMs = 30 * 60 * 1000L)
    val deltas = sessions
      .select(col("user_id"), col("session_seq"),
        col("session_start").as("ts"), lit(1).as("delta"))
      .unionByName(sessions.select(col("user_id"), col("session_seq"),
        col("session_end").as("ts"), lit(-1).as("delta")))
    // naive: ONE unpartitioned window (the form the operator avoids)
    val wAll = Window
      .orderBy(col("ts"), col("delta").desc, col("user_id"), col("session_seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = deltas
      .withColumn("conc", sum(col("delta")).over(wAll))
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(max(col("conc")).as("peak_concurrent"), count(lit(1)).as("n_boundaries"))
      .collect().map(r => (r.getAs[Timestamp]("hr"),
        r.getAs[Long]("peak_concurrent"), r.getAs[Long]("n_boundaries"))).toSet
    val got = graft.ops.ScaleOps10.q123Concurrency(spark, sf)
      .collect().map(r => (r.getAs[Timestamp]("hr"),
        r.getAs[Long]("peak_concurrent"), r.getAs[Long]("n_boundaries"))).toSet
    assert(got == naive && got.nonEmpty)
  }

  // --- q124 basket association ---------------------------------------------

  test("q124: hand baskets — counts, support, confidence, lift; duplicate rows fold") {
    val dir = tempDir("q124-hand")
    // orders 1:{1,2,3} 2:{1,2} 3:{1,2} 4:{3}; order 2 carries part 1
    // twice — DISTINCT must fold it before counting
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 1L), (2L, 2L),
        (3L, 1L), (3L, 2L), (4L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = graft.ops.ScaleOps10.q124BasketLift(spark, dir.toString).collect()
    assert(rows.length == 3)
    val top = rows.head
    assert(top.getAs[Long]("p1") == 1L && top.getAs[Long]("p2") == 2L)
    assert(top.getAs[Long]("pair_cnt") == 3L)
    assert(top.getAs[Double]("support") == 3.0 / 4.0)
    assert(top.getAs[Double]("confidence") == 1.0)          // 3/3
    assert(top.getAs[Double]("lift") == (3.0 * 4.0) / (3.0 * 3.0))
    // the two singleton pairs (1,3) and (2,3), any order after the tie law
    assert(rows.drop(1).map(_.getAs[Long]("pair_cnt")).toSeq == Seq(1L, 1L))
  }

  test("q124: real corpus invariants — pair_cnt ≤ min(c1,c2), confidence ≤ 1, support ∈ (0,1]") {
    val rows = graft.ops.ScaleOps10.q124BasketLift(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 25)
    rows.foreach { r =>
      val (pc, c1, c2) = (r.getAs[Long]("pair_cnt"), r.getAs[Long]("c1"), r.getAs[Long]("c2"))
      assert(pc >= 1 && pc <= math.min(c1, c2))
      assert(r.getAs[Double]("confidence") <= 1.0)
      val sup = r.getAs[Double]("support")
      assert(sup > 0.0 && sup <= 1.0)
      assert(r.getAs[Long]("p1") < r.getAs[Long]("p2"))
    }
  }

  // --- q125 Benford --------------------------------------------------------

  test("q125: hand prices — cents digit law and z sign") {
    val dir = tempDir("q125-hand")
    // 1.00→100(d1), 2.50→250(d2), 19.99→1999(d1), 0.05→5(d5)
    Seq(1.00, 2.50, 19.99, 0.05).toDF("l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = graft.ops.ScaleOps10.q125Benford(spark, dir.toString).collect()
    val byDigit = rows.map(r => r.getAs[Int]("digit") -> r.getAs[Long]("obs")).toMap
    assert(byDigit == Map(1 -> 2L, 2 -> 1L, 5 -> 1L))
    val d1 = rows.find(_.getAs[Int]("digit") == 1).get
    assert(d1.getAs[Double]("expected") == 4.0 * 0.3010299956639812)
    assert(d1.getAs[Double]("z") > 0.0) // 2 observed vs 1.204 expected
  }

  test("q125: real corpus — digits cover 1..9, obs sums to row count, z re-derives") {
    val rows = graft.ops.ScaleOps10.q125Benford(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("digit")).toSeq == (1 to 9))
    val nLineitem = graft.ops.Relational.t(spark, sf, "lineitem")
      .filter(col("l_extendedprice") > 0).count()
    assert(rows.map(_.getAs[Long]("obs")).sum == nLineitem)
    rows.foreach { r =>
      val (obs, p, en) = (r.getAs[Long]("obs"), r.getAs[Double]("benford_p"),
        r.getAs[Double]("expected"))
      assert(en == nLineitem.toDouble * p)
      assert(r.getAs[Double]("z") == (obs.toDouble - en) / math.sqrt(en * (1.0 - p)))
    }
  }

  // --- q126 MAD outliers ---------------------------------------------------

  test("q126: hand groups — odd/even exact medians, MAD, robust-z flags") {
    val dir = tempDir("q126-hand")
    // group A (odd n): cents [1,2,3,4,100] → med 3, MAD 1, one outlier
    // (dev 97 > 5.1891·1); group B (even n): cents [10,20,30,40] →
    // med 25 (interpolated EXACTLY via the doubled law), devs
    // [15,5,5,15] → MAD 10, no outlier (15 < 51.891)
    val rows =
      Seq(("A", 1L, 0.01), ("A", 2L, 0.02), ("A", 3L, 0.03), ("A", 4L, 0.04),
          ("A", 5L, 1.00),
          ("B", 6L, 0.10), ("B", 7L, 0.20), ("B", 8L, 0.30), ("B", 9L, 0.40))
    rows.toDF("o_orderpriority", "o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = graft.ops.ScaleOps10.q126MadOutliers(spark, dir.toString)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("n"),
        r.getAs[Double]("med"), r.getAs[Double]("mad"),
        r.getAs[Long]("n_outliers"))).toSeq
    assert(got == Seq(("A", 5L, 3.0, 1.0, 1L), ("B", 4L, 25.0, 10.0, 0L)))
  }

  test("q126: real corpus — med/mad re-derive from sorted per-group cents") {
    val cents = graft.ops.Relational.t(spark, sf, "orders")
      .select(col("o_orderpriority").as("grp"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def med2(xs: Seq[Long]): Long = { // 2·median, exact
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) 2 * s(n / 2) else s(n / 2 - 1) + s(n / 2)
    }
    val expected = cents.groupBy(_._1).map { case (g, vs) =>
      val cs = vs.map(_._2).toSeq
      val m2 = med2(cs)
      val dev2 = cs.map(c => math.abs(2 * c - m2))
      val mad4 = med2(dev2)
      val nOut = dev2.count(d => (2L * d).toDouble > 5.1891 * mad4.toDouble)
      (g, (cs.length.toLong, m2.toDouble / 2.0, mad4.toDouble / 4.0, nOut.toLong))
    }
    val got = graft.ops.ScaleOps10.q126MadOutliers(spark, sf)
      .collect().map(r => (r.getAs[String]("grp"),
        (r.getAs[Long]("n"), r.getAs[Double]("med"), r.getAs[Double]("mad"),
         r.getAs[Long]("n_outliers")))).toMap
    assert(got == expected && got.nonEmpty)
  }

  // --- q127 BFS ------------------------------------------------------------

  test("q127: hand chain graph — one part per hop, hop-4 node excluded") {
    val dir = tempDir("q127-hand")
    // path 1-2-3-4-5 via two-part orders; part 5 is 4 hops out → absent
    Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 3L), (3L, 4L),
        (4L, 4L), (4L, 5L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = graft.ops.ScaleOps10.q127BfsHops(spark, dir.toString)
      .collect().map(r => (r.getAs[Int]("hop"), r.getAs[Long]("n_parts"))).toSeq
    assert(got == Seq((0, 1L), (1, 1L), (2, 1L), (3, 1L)))
  }

  test("q127: real corpus — hop 0 is the single seed, reached ≤ distinct parts, hops ascend") {
    val rows = graft.ops.ScaleOps10.q127BfsHops(spark, sf)
      .collect().map(r => (r.getAs[Int]("hop"), r.getAs[Long]("n_parts"))).toSeq
    assert(rows.head == (0, 1L))
    assert(rows.map(_._1) == rows.map(_._1).sorted)
    val nParts = graft.ops.Relational.t(spark, sf, "lineitem")
      .select(col("l_partkey")).distinct().count()
    assert(rows.map(_._2).sum <= nParts)
  }

  test("q127: broadcast and shuffle frontier strategies produce identical hop counts; adaptive routes by the node bound") {
    // chain fixture, both strategies
    val dir = tempDir("q127-strat")
    Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 3L), (3L, 4L),
        (4L, 4L), (4L, 5L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val expected = Seq((0, 1L), (1, 1L), (2, 1L), (3, 1L))
    val shuffled = graft.ops.ScaleOps10.q127BfsHopsShuffle(spark, dir.toString)
      .collect().map(r => (r.getAs[Int]("hop"), r.getAs[Long]("n_parts"))).toSeq
    assert(shuffled == expected, "shuffle strategy must match the chain law")
    // real corpus: the two strategies agree row-for-row
    val bc = graft.ops.ScaleOps10.q127BfsHops(spark, sf)
      .collect().map(r => (r.getAs[Int]("hop"), r.getAs[Long]("n_parts"))).toSeq
    val sh = graft.ops.ScaleOps10.q127BfsHopsShuffle(spark, sf)
      .collect().map(r => (r.getAs[Int]("hop"), r.getAs[Long]("n_parts"))).toSeq
    assert(bc == sh, s"strategies diverged: $bc vs $sh")
  }
}
