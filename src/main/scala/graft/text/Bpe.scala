package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained-BPE tokenizer: the merge-table representation, the codegen
  * encode chain, the batched trainer, and the persisted-artifact
  * lifecycle (write/load with a torn-model canary — the
  * [[graft.sim.Pq.writeIndex]] discipline applied to the tokenizer, the
  * r10 verdict's top item: a training pipeline trains a tokenizer ONCE
  * and ships it to every later job).
  *
  * Cross-engine kernel (proven by q150's hand-law spec): a token's
  * segmentation is its symbols joined with TWO-space separators and
  * one-space margins (`" a  b  c "`); one merge is
  * `replace(seg, ' p1  p2 ', ' p1p2 ')` — non-overlapping LTR replace
  * with the two-space separator is exactly greedy BPE in one pass, in
  * Spark and DuckDB alike. See [[graft.ops.ScaleOps17]] for the full
  * derivation and the single-space-separator trap.
  */
object Bpe {

  /** One trained merge: (round, p1, p2, corpus count at merge time). */
  type Merge = (Int, String, String, Long)

  // --- encode (the codegen replace chain) ----------------------------------

  /** Character-split segmentation of a whitespace token: `"abc"` →
    * `" a  b  c "`. */
  def segmentInit(tok: Column): Column = regexp_replace(tok, "(.)", " $1 ")

  /** Apply a trained merge list to a segmentation column, in merge
    * order. The merges are DATA, but the chain is a STATIC plan of
    * codegen'd `replace` built-ins — build-rule preference (a): composing
    * existing ops beats a custom Expression here. */
  def applyMerges(seg: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(seg) { case (acc, (_, p1, p2, _)) =>
      call_function("replace", acc, lit(s" $p1  $p2 "), lit(s" $p1$p2 "))
    }

  /** Trained-BPE token count of one whitespace token. */
  def bpeCountOf(tok: Column, merges: Seq[Merge]): Column =
    size(split(trim(applyMerges(segmentInit(tok), merges)), "  "))

  /** Per-document trained-BPE token counts: one row per input row of
    * `docs`, with `n_bpe_tokens` = Σ over whitespace tokens of the
    * token's trained-BPE symbol count (0 for an empty/whitespace-only
    * document — it still exists downstream, e.g. as a zero-width pack
    * member). Pure map + one doc-keyed partial aggregate. */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
      .filter(length(col("tok")) >= 1)
    val perDoc = toks
      .withColumn("__n", bpeCountOf(col("tok"), merges))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).cast("long").as("n_bpe_tokens"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_bpe_tokens", coalesce(col("n_bpe_tokens"), lit(0L)))
  }

  // --- training ------------------------------------------------------------

  /** (tok, freq, seg) vocab table of a corpus — the trainers' input:
    * whitespace tokens lower-cased, frequency-counted (Zipf: the table
    * is vocab-sized, ≪ corpus), character-split segmentation attached.
    * One corpus-sized exchange (the token groupBy); everything after
    * trains on this table. */
  def vocabWords(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
      .filter(length(col("tok")) >= 1)
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .withColumn("seg", segmentInit(col("tok")))

  /** Merge batch per driver round of [[train]]. 16 cuts driver
    * synchronization ~16× at production vocab sizes while keeping the
    * collected head O(batchK). */
  val DefaultBatchK = 16

  /** Driver-synchronization rounds of the most recent train call in
    * this JVM — DIAGNOSTICS ONLY (the ScaleStress `bpebatch` readout
    * and the pipeline spec's rounds ≈ merges/batchK pin); never part of
    * the data path. */
  val lastDriverRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The PIPELINE-FACING trainer (the r11 verdict's "wire the batched
    * trainer into a production path"): [[trainBatched]] at
    * [[DefaultBatchK]], with its documented conflict-approximation
    * boundary. The ORACLE arm ([[graft.ops.ScaleOps17.bpeTrain]] / q150)
    * calls [[trainSequential]] directly: the mirrors unroll the
    * sequential schedule, so the oracle must too. */
  def train(words0: DataFrame, rounds: Int): Seq[Merge] =
    trainBatched(words0, rounds, DefaultBatchK)

  /** Adjacent symbol pairs of the vocab table's `seg`, weighted by word
    * frequency. `words` must carry (tok, freq, seg). */
  def pairCounts(words: DataFrame): DataFrame =
    words
      .withColumn("s", split(trim(col("seg")), "  "))
      .filter(size(col("s")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(s) - 1), " +
          "i -> named_struct('p1', element_at(s, i), 'p2', element_at(s, i + 1)))"))
        .as("p"))
      .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
      .agg(sum(col("freq")).as("cnt"))

  /** Sequential BPE training over a (tok, freq, seg) vocab table:
    * `rounds` iterations of count-pairs → argmax (cnt desc, p1, p2) →
    * merge-everywhere. The oracle-mirrored reference form (q150 unrolls
    * exactly this in DuckDB CTEs). State is the VOCAB-sized word table;
    * each round is one Spark job plus a ONE-row collect. */
  def trainSequential(words0: DataFrame, rounds: Int): Seq[Merge] = {
    var words = words0.cache()
    val merges = scala.collection.mutable.ArrayBuffer[Merge]()
    var r = 1
    var exhausted = false
    lastDriverRounds.set(0)
    while (r <= rounds && !exhausted) {
      lastDriverRounds.incrementAndGet()
      val win = pairCounts(words)
        .orderBy(col("cnt").desc, col("p1"), col("p2")).limit(1).collect()
      if (win.isEmpty) exhausted = true
      else {
        val p1 = win(0).getAs[String]("p1"); val p2 = win(0).getAs[String]("p2")
        merges += ((r, p1, p2, win(0).getAs[Long]("cnt")))
        val next = words.withColumn("seg",
          applyMerges(col("seg"), Seq((r, p1, p2, 0L)))).cache()
        next.count() // materialize before freeing the parent (lineage truncation)
        words.unpersist()
        words = next
      }
      r += 1
    }
    words.unpersist()
    merges.toSeq
  }

  /** BATCHED BPE training — the scalable form of [[trainSequential]]
    * (the r10 verdict: one driver round-trip per merge is structurally
    * wrong at real vocab sizes): each driver round collects the ranked
    * pair table head ONCE and greedily accepts up to `batchK` pairs in
    * rank order whose symbols are PAIRWISE DISJOINT within the batch
    * (standard batched-BPE: symbol-disjoint merges cannot create or
    * destroy each other's instances, so every accepted pair's reported
    * count is exactly what the sequential trainer would have measured at
    * its merge time). The accepted merges apply as ONE chained-replace
    * plan, cutting driver synchronization ~batchK×.
    *
    * Fidelity contract: `batchK = 1` IS the sequential trainer (same
    * argmax, same apply). For `batchK > 1` the batch is an approximation
    * of the sequential schedule in exactly one case: when a pair formed
    * from a symbol merged EARLIER IN THE SAME BATCH (count ≤ the earlier
    * pair's count by construction), or a skipped CONFLICTING pair at its
    * post-merge (reduced) count, would have out-ranked a later accepted
    * pair. On corpora with separated counts the schedules coincide
    * (spec'd on the hand corpus); the oracle-facing arm (q150) always
    * runs sequential. */
  def trainBatched(words0: DataFrame, rounds: Int, batchK: Int): Seq[Merge] = {
    require(batchK >= 1, s"batchK must be >= 1, got $batchK")
    var words = words0.cache()
    val merges = scala.collection.mutable.ArrayBuffer[Merge]()
    var exhausted = false
    lastDriverRounds.set(0)
    while (merges.size < rounds && !exhausted) {
      lastDriverRounds.incrementAndGet()
      val want = math.min(batchK, rounds - merges.size)
      // collect a rank-ordered head wide enough to survive conflict
      // skips; still O(batchK) driver rows, never the pair table
      val top = pairCounts(words)
        .orderBy(col("cnt").desc, col("p1"), col("p2"))
        .limit(want * 4 + 8).collect()
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set[String]()
        val accepted = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        val it = top.iterator
        while (accepted.size < want && it.hasNext) {
          val row = it.next()
          val p1 = row.getAs[String]("p1"); val p2 = row.getAs[String]("p2")
          if (!used(p1) && !used(p2) && !used(p1 + p2)) {
            accepted += ((p1, p2, row.getAs[Long]("cnt")))
            // reserve both sides AND the new symbol: a later same-batch
            // pair touching any of them would see batch-dependent counts
            used += p1; used += p2; used += (p1 + p2)
          }
        }
        accepted.foreach { case (p1, p2, cnt) =>
          merges += ((merges.size + 1, p1, p2, cnt)) }
        val batch = accepted.zipWithIndex
          .map { case ((p1, p2, _), i) => (i, p1, p2, 0L) }.toSeq
        val next = words.withColumn("seg", applyMerges(col("seg"), batch)).cache()
        next.count()
        words.unpersist()
        words = next
      }
    }
    words.unpersist()
    merges.toSeq
  }

  // --- persisted artifact --------------------------------------------------

  /** Persist a trained merge table: `path/merges` parquet (round, p1,
    * p2, cnt), then the `_rows` stamp LAST — the same
    * mutated-outside-the-API / torn-write canary as the ANN indexes
    * ([[graft.sim.Ivf.indexRows]]): a writer that died between the two
    * leaves stamp ≠ row count and [[loadVocab]] refuses loudly.
    * Single-writer contract, like the index artifacts. */
  def writeVocab(spark: SparkSession, merges: Seq[Merge], path: String): Unit = {
    require(merges.nonEmpty, "writeVocab: refusing to persist an empty merge list")
    import spark.implicits._
    // UNSTAMP before the overwrite (the shared StampedArtifact
    // discipline, r15): the overwrite destroys the old table, so until
    // the restamp the artifact must read as never-stamped, not as the
    // old stamp over whatever landed
    graft.core.StampedArtifact.deleteMeta(spark, path, "_rows")
    merges.toDF("round", "p1", "p2", "cnt")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
    graft.core.StampedArtifact.writeMeta(spark, path, "_rows",
      merges.size.toString)
  }

  /** Stamped merge count of a persisted vocab. -1 if never stamped OR
    * the stamp is unparseable (empty/garbage — the torn window where the
    * writer died between `fs.create`'s truncate and the write): both
    * mean "no valid stamp", and callers' never-stamped branch (rewrite /
    * retrain) is the right response to both. [[loadVocab]]'s mismatch
    * require stays the loud path for a stamp that parses but disagrees. */
  def vocabRows(spark: SparkSession, path: String): Long =
    graft.core.StampedArtifact.stampedRows(spark, path)

  /** Reopen a persisted vocab, VALIDATED on load so a torn or
    * hand-mutated artifact surfaces as a loud require, never a silently
    * different tokenization: stamp == row count, rounds contiguous
    * 1..n, symbols non-empty and space-free (a symbol containing a
    * space would corrupt the separator grammar every merge rides on),
    * counts positive. The table is vocab-sized — a driver collect by
    * design, like the PQ codebooks. Load contract (decided once, r15 —
    * see [[graft.core.StampedArtifact]]): DRIVER-SIZED artifact, so the
    * structural checks below are the full validation; no `_xor` content
    * stamp (the internal paths are corpus-signature-keyed, and a
    * structurally-valid content swap is cheap to retrain past). */
  def loadVocab(spark: SparkSession, path: String): Seq[Merge] = {
    val rows = spark.read.parquet(s"$path/merges")
      .select(col("round").cast("int"), col("p1"), col("p2"),
        col("cnt").cast("long"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    require(rows.nonEmpty, s"BPE loadVocab: empty merge table at $path/merges")
    val stamped = vocabRows(spark, path)
    require(stamped == rows.length,
      s"BPE loadVocab: stamp $stamped != ${rows.length} merges at $path — torn write or out-of-API mutation; retrain")
    require(rows.map(_._1).sameElements(1 to rows.length),
      s"BPE loadVocab: non-contiguous rounds ${rows.map(_._1).toSeq} at $path")
    rows.foreach { case (r, p1, p2, cnt) =>
      require(p1 != null && p2 != null && p1.nonEmpty && p2.nonEmpty,
        s"BPE loadVocab: empty symbol in round $r at $path")
      require(!p1.contains(' ') && !p2.contains(' '),
        s"BPE loadVocab: symbol with a space in round $r at $path")
      require(cnt > 0, s"BPE loadVocab: non-positive count in round $r at $path")
    }
    rows.toSeq
  }
}
