package graft

import org.apache.spark.sql.functions._
import graft.ops.Relational
import graft.ingest.Reader

/** Pins the metadata-only fanOut guard (round-3 hygiene: no eager physical
  * planning during query construction) and the file-order row index. */
class FanOutSpec extends GraftSuite {
  import spark.implicits._

  test("fanOut repartitions a single-row-group file, is identity on many files") {
    // single parquet file (1 row group) < defaultParallelism splits ⇒ repartition
    val one = Relational.t(spark, "/root/testdata/sf0.001", "lineitem")
    val fanned = Relational.fanOut(one)
    assert(fanned.queryExecution.logical.toString.contains("Repartition"),
      fanned.queryExecution.logical.toString)
    // many small files ≥ parallelism ⇒ identity (no Exchange injected)
    val dir = tempDir("fanout_many").toString
    (1 to 8).toDF("id").repartition(8).write.mode("overwrite").parquet(dir)
    val many = spark.read.parquet(dir) // 8 files ≥ local[4] parallelism
    val out = Relational.fanOut(many)
    assert(!out.queryExecution.logical.toString.contains("Repartition"),
      out.queryExecution.logical.toString)
    // non-file (in-memory) source ⇒ identity, no crash
    val mem = Seq(1, 2, 3).toDF("x")
    assert(Relational.fanOut(mem).queryExecution.logical eq mem.queryExecution.logical)
  }

  test("events() leaves no lasting nanosAsLong session-conf mutation") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key) // back to the registered default ("false")
    val df = Relational.events(spark, "/root/testdata/sf0.001")
    assert(spark.conf.get(key) == "false", "conf leaked after construction")
    assert(df.count() > 0) // and the lazy plan still executes post-restore
    assert(spark.conf.get(key) == "false", "conf leaked after execution")
  }

  test("withRowIndex: CSV rows get contiguous file-order ordinals") {
    val dir = tempDir("rowidx")
    val csvPath = writeFile(dir, "f.csv", "s,v\na,1\nb,2\nc,3\n")
    val csv = spark.read.option("header", "true").csv(csvPath)
    val idx = Reader.withRowIndex(csv)
    assert(idx.select("s", "_row_idx").as[(String, Long)].collect().sortBy(_._2).toSeq ==
      Seq(("a", 0L), ("b", 1L), ("c", 2L)))
  }
}
