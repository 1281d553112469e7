package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Stress modes that measure BOTH arms of a routing the engine still
  * carries, or check an oracle precondition, on synthetic or
  * `StressGen` corpora. Scaling curves of registered queries live in
  * `Inspect curve`. Modes:
  *
  *  - `skew <base>`: the boilerplate-skew adversarial case — one sentence
  *    shared by ~30% of documents. Prints the candidate-pair space
  *    Σ df·(df−1)/2 with and without the df cap (the uncapped number is
  *    the join size a production run would have to materialize) and times
  *    the CAPPED production path ([[Dedup.nearDupPairs]]) at 1× and 10×,
  *    plus the uncapped path at 1× for contrast.
  *  - `snmskew <base> [nDocs]`: q148's sorted-neighborhood blocking,
  *    windowed vs rank-join, on a one-hot-key corpus.
  *  - `packskew <base> [nDocs]`: the one-dominant-source packing corpus —
  *    differential + balance evidence for the hierarchical prefix sum
  *    ([[graft.pipeline.Packing.packAssignmentsByCount]]).
  *  - `tert <base> [nDocs]`: q179's tertile boundaries, exact vs
  *    histogram route, on a 95%-one-language corpus.
  *  - `bpebatch <dir> [merges]`: sequential vs batched BPE training.
  *  - `apnd <base> [nDocs]`: fingerprint-index append vs rebuild.
  *  - `audit <sfDir>`: hash-collision and whitespace preconditions of the
  *    hash-mirrored oracle queries. */
object ScaleStress {

  /** Median-of-reps wall time plus the (stable) result count. */
  private def timed(spark: SparkSession, reps: Int)(f: => Long): (Double, Long) = {
    val runs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val n = f
      val r = ((System.nanoTime() - t0) / 1e9, n)
      spark.catalog.clearCache()
      r
    }
    (runs.map(_._1).sorted.apply(reps / 2), runs.head._2)
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("skew") => skew(args.lift(1).getOrElse("/tmp/stress_r5"))
    case Some("audit") => audit(args.lift(1).getOrElse("/root/testdata/sf0.1"))
    case Some("snmskew") => snmSkew(args.lift(1).getOrElse("/tmp/stress_snm"),
      args.lift(2).map(_.toInt).getOrElse(120000))
    case Some("packskew") => packSkew(args.lift(1).getOrElse("/tmp/stress_pack"),
      args.lift(2).map(_.toInt).getOrElse(400000))
    case Some("bpebatch") => bpeBatch(args.lift(1).getOrElse("/tmp/stress_facts/x10"),
      args.lift(2).map(_.toInt).getOrElse(256))
    case Some("apnd") => apnd(args.lift(1).getOrElse("/tmp/stress_apnd"),
      args.lift(2).map(_.toInt).getOrElse(100000))
    case Some("tert") => tert(args.lift(1).getOrElse("/tmp/stress_tert"),
      args.lift(2).map(_.toInt).getOrElse(4000000))
    case _ =>
      System.err.println("usage: graft.ScaleStress " +
        "skew|snmskew|packskew|tert|bpebatch|apnd|audit <dir> [size]")
      sys.exit(1)
  }

  // --- batched-BPE driver-round saving mode ---------------------------------

  /** Measured driver-round saving of the pipeline's batched trainer at
    * a REAL vocab size (the r11 verdict's "wire it in and measure"):
    * trains `merges` merges over a stress corpus sequentially (one
    * driver sync per merge) and at batchK = [[graft.text.Bpe.DefaultBatchK]],
    * reporting wall time, driver rounds, and the schedule-prefix overlap
    * (batched is an approximation on conflict-heavy corpora; the
    * boundary is spec-documented, the overlap is reported, not
    * asserted). */
  def bpeBatch(dir: String, merges: Int): Unit = {
    val spark = Inspect.session()
    require(new java.io.File(s"$dir/documents.parquet").exists(),
      s"no documents at $dir — generate with StressGen facts")
    val words = graft.text.Bpe.vocabWords(
      spark.read.parquet(s"$dir/documents.parquet"), "text").cache()
    words.count()
    def timedTrain(f: => Seq[graft.text.Bpe.Merge])
        : (Double, Seq[graft.text.Bpe.Merge], Int) = {
      val t0 = System.nanoTime()
      val m = f
      ((System.nanoTime() - t0) / 1e9, m, graft.text.Bpe.lastDriverRounds.get())
    }
    val (seqSec, seqM, seqRounds) =
      timedTrain(graft.text.Bpe.trainSequential(words, merges))
    val (batSec, batM, batRounds) =
      timedTrain(graft.text.Bpe.trainBatched(words, merges,
        graft.text.Bpe.DefaultBatchK))
    val overlap = seqM.map(m => (m._2, m._3)).toSet
      .intersect(batM.map(m => (m._2, m._3)).toSet).size
    println(f"BPEBATCH merges=$merges sequential=${seqSec}%.1fs rounds=$seqRounds " +
      f"batched=${batSec}%.1fs rounds=$batRounds " +
      f"speedup=${seqSec / batSec}%.2fx roundRatio=${seqRounds.toDouble / batRounds}%.1fx " +
      f"scheduleOverlap=$overlap/${merges}")
    words.unpersist()
    spark.stop()
  }

  // --- SNM blocking skew mode ----------------------------------------------

  /** Adversarial corpus for q148's sorted-neighborhood blocking: ≥30 %
    * of documents share ONE 24-char sort-key (identical skey AND
    * identical 2-char block — the worst case for the r9 per-block
    * window, which would sort all of them in a single task). Verifies
    * the r10 rank-join path is (a) row-identical to the windowed
    * reference and (b) balanced: prints the hot block's mass fraction
    * (the windowed form's largest window partition) against the range
    * exchange's max/mean partition sizes, and both paths' wall times. */
  def snmSkew(base: String, nDocs: Int): Unit = {
    val spark = Inspect.session()
    import spark.implicits._
    val dir = s"$base/skewdocs"
    val hot = "the quick brown fox jump" // 24 chars — one skey, one block
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      when(col("id") % 10 < 3, // 30% in the hot key run, tails diverge
        concat(lit(hot + "s over lazy dog number "), col("id")))
        .otherwise(concat(
          // spread the rest across blocks: two pseudo-random letters
          org.apache.spark.sql.functions.chr(lit(97) + pmod(col("id") * 131, lit(26))),
          org.apache.spark.sql.functions.chr(lit(97) + pmod(col("id") * 37, lit(26))),
          lit(" document body text idx "), col("id"))).as("text"))
      .withColumn("lang", lit("en")).withColumn("source", lit("stress"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // hot-block mass = the windowed form's single-task window partition
    val keyed = spark.read.parquet(s"$dir/documents.parquet")
      .select(substring(trim(lower(col("text"))), 1, 2).as("block"))
    val largestBlock = keyed.groupBy("block").count()
      .agg(max(col("count"))).head().getLong(0)
    val hotFrac = largestBlock.toDouble / nDocs
    println(f"SNMSKEW n=$nDocs hot_block_fraction=$hotFrac%.3f")

    // balance evidence: explicit 32-way range partition of the sort the
    // rank-join branch rides (unique composite key ⇒ splits the hot key
    // run; explicit numPartitions so AQE's small-data coalescing doesn't
    // mask the mechanism at stress scale)
    val sorted = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        substring(trim(lower(col("text"))), 1, 24).as("skey"))
      .repartitionByRange(32, col("skey"), col("doc_id"))
    val sizes = sorted.rdd.mapPartitions(it => Iterator(it.size)).collect()
      .filter(_ > 0)
    println(s"SNMSKEW range_partitions n=${sizes.length} " +
      s"max=${sizes.max} mean=${sizes.sum / sizes.length} " +
      f"max_fraction=${sizes.max.toDouble / nDocs}%.3f")

    // the adaptive entry must pick the windowed branch here (blocks are
    // stress-sized, not 100TB-sized) — reported from the SAME measurement
    // the real q148SnmDedup entry branches on (largest block count vs
    // graft.snm.maxBlockRows), not a parallel heuristic that could
    // disagree with the operator's actual pick (the r10 advice)
    val snmBound = spark.conf.getOption("graft.snm.maxBlockRows")
      .map(_.toLong).getOrElse(1000000L)
    println(s"SNMSKEW adaptive_pick=" +
      (if (largestBlock <= snmBound) "windowed" else "rankjoin") +
      s" largest_block=$largestBlock bound=$snmBound")
    // … and the rank-join branch, forced, must agree row-for-row
    val fast = graft.ops.ScaleOps16.q148SnmDedupRankJoin(spark, dir)
    val ref = graft.ops.ScaleOps16.q148SnmDedupWindowed(spark, dir)
    val (fastSec, fastRows) = timed(spark, 3)(
      graft.ops.ScaleOps16.q148SnmDedupRankJoin(spark, dir).count())
    val (refSec, refRows) = timed(spark, 3)(
      graft.ops.ScaleOps16.q148SnmDedupWindowed(spark, dir).count())
    val diff = fast.unionByName(ref).except(fast.intersect(ref)).count()
    println(f"SNMSKEW rankjoin ${fastSec}%.2fs pairs=$fastRows | " +
      f"windowed ${refSec}%.2fs pairs=$refRows | sym_diff=$diff")
    spark.stop()
  }

  /** Adversarial corpus for the packing prefix sum (the r11 verdict's one
    * `weak`): ~95 % of documents in ONE source — the shape where the old
    * per-source running-sum window serialized nearly the whole corpus
    * into a single task. Verifies the r12 hierarchical two-phase form is
    * (a) row-identical to the windowed reference, (b) balanced: prints
    * the dominant source's mass against the range exchange's max
    * partition size (max-task input ≪ source size is the fix's claim),
    * and (c) both paths' wall times. */
  def packSkew(base: String, nDocs: Int): Unit = {
    val spark = Inspect.session()
    val dir = s"$base/packdocs"
    spark.range(nDocs).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(20)) === 19,
        concat(lit("minor"), pmod(col("id"), lit(8))))
        .otherwise(lit("dominant")).as("source"),
      (lit(1L) + pmod(col("id") * 7919, lit(50))).as("n_tokens"))
      .repartition(16)
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val docs = spark.read.parquet(s"$dir/docs.parquet")
    val domRows = docs.filter(col("source") === "dominant").count()
    println(f"PACKSKEW n=$nDocs dominant_fraction=${domRows.toDouble / nDocs}%.3f")

    // balance evidence: the exchange the hierarchical form opens with —
    // range partition on (source, doc_id); the unique trailing id splits
    // the dominant source across partitions (explicit 32-way so AQE's
    // small-data coalescing doesn't mask the mechanism at stress scale,
    // the snmSkew discipline)
    val sizes = docs.repartitionByRange(32, col("source"), col("doc_id"))
      .rdd.mapPartitions(it => Iterator(it.size)).collect().filter(_ > 0)
    println(s"PACKSKEW range_partitions n=${sizes.length} " +
      s"max=${sizes.max} mean=${sizes.sum / sizes.length} " +
      f"max_task_vs_dominant=${sizes.max.toDouble / domRows}%.3f " +
      f"(windowed form would put fraction 1.000 of the source in one task)")

    val ctx = 2048L
    val (hierSec, hierRows) = timed(spark, 3)(
      graft.pipeline.Packing.packAssignmentsByCountHierarchical(
        docs, "doc_id", "n_tokens", "source", ctx).count())
    val (winSec, winRows) = timed(spark, 3)(
      graft.pipeline.Packing.packAssignmentsByCountWindowed(
        docs, "doc_id", "n_tokens", "source", ctx).count())
    val h = graft.pipeline.Packing.packAssignmentsByCountHierarchical(
      docs, "doc_id", "n_tokens", "source", ctx)
    val w = graft.pipeline.Packing.packAssignmentsByCountWindowed(
      docs, "doc_id", "n_tokens", "source", ctx)
    val diff = h.unionByName(w).except(h.intersect(w)).count()
    println(f"PACKSKEW hierarchical ${hierSec}%.2fs rows=$hierRows | " +
      f"windowed ${winSec}%.2fs rows=$winRows | sym_diff=$diff")
    spark.stop()
  }

  /** Tertile-boundary route evidence (q179 /
    * [[graft.ops.ScaleOps25.assignTertiles]], r13 verdict #2): a
    * 95%-one-language scored corpus — the exact `percentile` arm funnels
    * the dominant language's per-(value, count) state through ONE
    * aggregation buffer, the HISTOGRAM arm never holds more than a
    * constant per group (its exchange carries the value histogram,
    * ≤ 10⁶+1 rows per language, and its window runs over histogram rows).
    * Evidence: identical assignments (sym diff 0 — the differential spec's
    * bit-equality, re-checked at stress scale) and the measured cost of
    * each arm. Scores are synthesized directly: the boundary pass is what
    * routes; the scoring chain is shared by both arms and orthogonal. */
  def tert(base: String, nDocs: Int): Unit = {
    import graft.ops.ScaleOps25
    val spark = Inspect.session()
    val dir = s"$base/scored"
    spark.range(nDocs).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(20)) === 19,
        concat(lit("minor"), pmod(col("id"), lit(8))))
        .otherwise(lit("dominant")).as("lang"),
      pmod(col("id") * 7919, lit(1000001L)).as("score_fp"))
      .repartition(16)
      .write.mode("overwrite").parquet(dir)
    val wl = spark.read.parquet(dir)
    val domRows = wl.filter(col("lang") === "dominant").count()
    println(f"TERT n=$nDocs dominant_fraction=${domRows.toDouble / nDocs}%.3f")
    val (exSec, exRows) = timed(spark, 3)(
      ScaleOps25.assignTertiles(wl, 0L).count())            // exact route
    val (hiSec, hiRows) = timed(spark, 3)(
      ScaleOps25.assignTertiles(wl, Long.MaxValue).count()) // histogram route
    val e = ScaleOps25.assignTertiles(wl, 0L)
    val h = ScaleOps25.assignTertiles(wl, Long.MaxValue)
    val diff = e.unionByName(h).except(e.intersect(h)).count()
    println(f"TERT exact ${exSec}%.2fs rows=$exRows | " +
      f"histogram ${hiSec}%.2fs rows=$hiRows | sym_diff=$diff")
    spark.stop()
  }

  /** Append-lifecycle evidence (q174 /
    * [[graft.dedup.FingerprintIndex.appendIndex]]): the r12 verdict's
    * "done =" clause — append cost must track the BATCH, not the
    * history. Builds history indexes at 1× and 4× nDocs (docs carry 5
    * doc-unique shingles each), appends the SAME fixed-size batch (5%
    * of 1×) to both, and rebuilds the 4× union from raw docs for
    * contrast. Claim: append(4×)/append(1×) stays near 1 (flat in
    * history — the only history-proportional term is one pass over the
    * COMPACT 8-byte index), while rebuild re-pays the full corpus
    * shingle scan + distinct. Each append rep runs against a freshly
    * re-written base so no-op re-appends never flatter the medians. */
  def apnd(base: String, nDocs: Int): Unit = {
    import graft.dedup.FingerprintIndex
    val spark = Inspect.session()
    def mkDocs(n: Int, tag: String): DataFrame =
      spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(j =>
          concat(lit(tag), col("id"), lit(s"_w$j"))): _*).as("text"))
    def materialize(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$base/$name.parquet")
      spark.read.parquet(s"$base/$name.parquet")
    }
    val h1 = materialize(mkDocs(nDocs, "h"), "hist_x1")
    val h4 = materialize(mkDocs(4 * nDocs, "h"), "hist_x4") // superset tags: x1 ⊂ x4
    val batch = materialize(mkDocs(nDocs / 20, "b"), "batch")
    val batchHashes = FingerprintIndex.shingleHashes(batch, "doc_id", "text")
      .select("h")
    def appendMedian(hist: DataFrame, path: String): (Double, Long) = {
      val runs = (1 to 3).map { _ =>
        org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(path), true)
        FingerprintIndex.writeIndex(spark,
          FingerprintIndex.buildIndex(hist, "doc_id", "text"), path)
        val t0 = System.nanoTime()
        val n = FingerprintIndex.appendIndex(spark, batchHashes, path)
        ((System.nanoTime() - t0) / 1e9, n)
      }
      (runs.map(_._1).sorted.apply(1), runs.head._2)
    }
    val (a1, n1) = appendMedian(h1, s"$base/idx_x1")
    val (a4, n4) = appendMedian(h4, s"$base/idx_x4")
    val (reb, nr) = timed(spark, 3) {
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(s"$base/idx_reb"), true)
      FingerprintIndex.writeIndex(spark,
        FingerprintIndex.buildIndex(h4.unionByName(batch), "doc_id", "text"),
        s"$base/idx_reb")
    }
    require(n4 == nr, s"append(4x) stamped $n4 rows, rebuild stamped $nr")
    println(f"APND docs=$nDocs batch=${nDocs / 20} " +
      f"append_x1=${a1}%.2fs append_x4=${a4}%.2fs " +
      f"append_growth=${a4 / a1}%.2fx (4x history) " +
      f"rebuild_x4=${reb}%.2fs rebuild_vs_append=${reb / a4}%.2fx " +
      f"rows_x1=$n1 rows_x4=$n4")
    spark.stop()
  }

  // --- audit mode ---------------------------------------------------------

  /** Oracle-precondition audit for the hash-mirrored queries (q19/q21/q58):
    * (a) FNV-1a-64 collision-freeness over the corpus's shingle set —
    * Spark joins on 64-bit shingle hashes while the DuckDB mirrors join on
    * the shingle STRINGS, so a collision would silently diverge them;
    * (b) no whitespace outside [ \t\n\r\f] — Spark's Java `\s` and
    * DuckDB's RE2 `\s` disagree on vertical tab and some Unicode spaces,
    * which would shift tokenization between the engines. */
  def audit(dir: String): Unit = {
    val spark = Inspect.session()
    import graft.text.TextAnalysis
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val toks = graft.ops.Relational.fanOut(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
    val strings = toks
      .select(explode(Dedup.shinglesOf(col("t"), 3)).as("sh"))
      .agg(countDistinct(col("sh"))).head().getLong(0)
    val hashes = Dedup.shingleTable(docs, "doc_id", "text", 3)
      .agg(countDistinct(col("sh"))).head().getLong(0)
    println(s"AUDIT $dir distinct_shingle_strings=$strings " +
      s"distinct_fnv_hashes=$hashes collisions=${strings - hashes}")
    // same precondition for q64's chunk keys (ChunkDedup joins on
    // fnv1a64(chunk) while the mirror groups on chunk strings) — audited
    // over the q64 surface: base corpus + the planted prefix rows
    locally {
      import org.apache.spark.sql.GraftSqlBridge._
      val tk = TextAnalysis.tokens(col("text"))
      val planted = docs.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + 20000L).as("doc_id"),
        concat(array_join(slice(tk, 1, 10), " "),
          lit(" zzuniq"), col("doc_id").cast("string")).as("text"))
      val t64 = graft.ops.Relational.fanOut(docs.unionByName(planted))
        .select(TextAnalysis.tokens(col("text")).as("t"))
      val cStrings = t64.select(explode(transform(
          sequence(lit(0), (ceil(size(col("t")) / lit(10.0)).cast("int") - 1)),
          i => array_join(slice(col("t"), i * 10 + 1, lit(10)), " "))).as("c"))
        .agg(countDistinct(col("c"))).head().getLong(0)
      val cHashes = t64.select(explode(column(
          graft.functions.ChunkHashes(expression(col("t")), 10))).as("h"))
        .agg(countDistinct(col("h"))).head().getLong(0)
      println(s"AUDIT $dir distinct_chunk_strings=$cStrings " +
        s"distinct_chunk_hashes=$cHashes collisions=${cStrings - cHashes}")
    }
    val exotic = docs.filter(col("text").rlike("[\\x0b\\u0085\\u00a0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000]"))
      .count()
    println(s"AUDIT $dir docs_with_exotic_whitespace=$exotic")
    spark.stop()
  }

  // --- skew mode ----------------------------------------------------------

  def skew(base: String): Unit = {
    val spark = Inspect.session()
    val cap = Dedup.DefaultNearDupMaxDf
    // warmup both plan shapes (JIT + codegen) before any timing
    val w = spark.read.parquet(s"$base/skew1/documents.parquet")
    Dedup.nearDupPairs(w, "doc_id", "text", k = 3, threshold = 0.5).count()
    spark.catalog.clearCache()
    Dedup.jaccardPairs(w, "doc_id", "text", k = 3, threshold = 0.5).count()
    spark.catalog.clearCache()
    for (n <- Seq(1, 10)) {
      val dir = s"$base/skew$n"
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      // candidate-pair space Σ df·(df−1)/2, capped vs uncapped — the
      // equi-join row count the self-join must materialize
      val stats = Dedup.shingleTable(docs, "doc_id", "text", 3)
        .groupBy("sh").agg(count(lit(1)).as("df"))
        .agg(
          sum(col("df") * (col("df") - 1) / 2).as("pairs_uncapped"),
          sum(when(col("df") <= cap, col("df") * (col("df") - 1) / 2)
            .otherwise(0)).as("pairs_capped"),
          max(col("df")).as("max_df")).head()
      println(s"SKEW skew$n candidate_pairs uncapped=${stats.get(0)} " +
        s"capped=${stats.get(1)} max_df=${stats.get(2)}")
      spark.catalog.clearCache()
      val (capSec, capRows) = timed(spark, 3)(
        Dedup.nearDupPairs(docs, "doc_id", "text", k = 3, threshold = 0.5).count())
      println(f"SKEW skew$n capped_path ${capSec}%.2fs pairs=$capRows")
      if (n == 1) { // uncapped contrast is affordable at 1× only
        val (unSec, unRows) = timed(spark, 3)(
          Dedup.jaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5).count())
        println(f"SKEW skew$n uncapped_path ${unSec}%.2fs pairs=$unRows")
      }
    }
    spark.stop()
  }
}
