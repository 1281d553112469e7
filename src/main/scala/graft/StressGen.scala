package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic stress-corpus generator for the `Inspect curve`
  * scaling curves and the `ScaleStress` skew modes: replicates the sf0.1
  * documents/embeddings tables 1×/3×/10× with PER-REPLICA MUTATION so
  * the scaled corpora behave like *new* data (every replica's shingles
  * are distinct → document frequency stays flat; every replica's vectors point in new directions → LSH/IVF
  * buckets spread) — replication without mutation would measure the
  * pathological all-duplicates case, not scaling.
  *
  * Also writes boilerplate-SKEWED document corpora (a fixed license
  * sentence prepended to ~30% of docs ⇒ its shingles have df = 0.3·N):
  * the adversarial input that detonates uncapped near-dup candidate
  * generation and that `Dedup.nearDupPairs`'s df cap must keep bounded.
  *
  * Usage: `runMain graft.StressGen <srcSfDir> <outBase> [scale...]` →
  * writes `outBase/x$n/{documents,embeddings}.parquet` for each scale
  * (default 1 3 10; pass e.g. `100` to add just the 100× decade to an
  * existing base) and, when no explicit scales are given,
  * `outBase/{skew1,skew10}/documents.parquet`. */
object StressGen {

  /** ~30%-frequency boilerplate (11 tokens ⇒ 9 interior 3-shingles shared
    * verbatim by every skewed doc). */
  val Boilerplate =
    "this document is provided under the standard boilerplate license agreement terms"

  /** Replica r of the documents table: doc ids offset, every token
    * suffixed with the replica tag — same length distribution, zero
    * cross-replica shingle collisions. lang/source metadata rides along
    * verbatim when the source carries it (q69 stratifies on lang; q62 on
    * source). Replica 0 is the original. */
  def mutateDocs(docs: DataFrame, r: Int): DataFrame = {
    val meta = Seq("lang", "source").filter(docs.columns.contains)
      .map(col)
    if (r == 0) docs.select(col("doc_id") +: col("text") +: meta: _*)
    else docs.select(
      (col("doc_id") + lit(r * 10000000L)).as("doc_id") +:
      array_join(transform(split(col("text"), "\\s+"),
        t => concat(t, lit(s"x$r"))), " ").as("text") +: meta: _*)
  }

  /** Replica r of the embeddings table: ids offset, each element nudged by
    * a deterministic per-(vector, index, replica) term so replica vectors
    * are genuinely new directions (cosine to the original < 1). */
  def mutateEmb(emb: DataFrame, r: Int): DataFrame =
    if (r == 0) emb
    else {
      val perturbed = transform(col("embedding"), (x, i) =>
        (x.cast("double") +
          sin(col("vec_id") * 31 + i * 7 + lit(r)) * 0.1).cast("float"))
      emb.select((col("vec_id") + lit(r * 10000000L)).as("vec_id"),
        perturbed.as("embedding"), col("label"))
    }

  def replicatedDocs(docs: DataFrame, n: Int): DataFrame =
    (0 until n).map(mutateDocs(docs, _)).reduce(_ unionByName _)

  /** Replica r of the events table: event ids offset by r·10⁸, user ids
    * by r·10⁶ — each replica brings NEW users with the original users'
    * temporal behavior, so user-keyed ops (transitions, paths, funnels)
    * scale in both events AND key cardinality, the honest 100× shape
    * (replicating onto the SAME users would deepen per-user streams
    * instead, understating the shuffle). Replica 0 is the original. */
  def mutateEvents(events: DataFrame, r: Int): DataFrame =
    if (r == 0) events
    else events
      .withColumn("event_id", col("event_id") + lit(r * 100000000L))
      .withColumn("user_id", col("user_id") + lit(r * 1000000L))

  def replicatedEvents(events: DataFrame, n: Int): DataFrame =
    (0 until n).map(mutateEvents(events, _)).reduce(_ unionByName _)

  def replicatedEmb(emb: DataFrame, n: Int): DataFrame =
    (0 until n).map(mutateEmb(emb, _)).reduce(_ unionByName _)

  /** Media fixture table: one complete, genuinely parseable P6 PPM file
    * per document id (graft.multimodal.Ppm.fixtureBytes) — exercises the
    * REAL image-decode path at stress scale. */
  def mediaFixtures(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    docs.select(
      col("doc_id").cast("long").as("media_id"),
      column(graft.multimodal.PpmFixture(
        expression(col("doc_id").cast("long")))).as("content"))
  }

  /** Boilerplate prepended to docs with doc_id ≡ 0,1,2 (mod 10) — ~30%. */
  def skewedDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(10)) < 3,
        concat(lit(Boilerplate + " "), col("text")))
        .otherwise(col("text")).as("text"))

  /** Replica r of the order-keyed fact tables: orderkeys offset by
    * r·10⁷ (stays inside INT at 100 replicas of sf0.1), every other
    * column verbatim — so orders⋈lineitem cardinality scales linearly
    * and dim joins (custkey/partkey) keep matching. Replica 0 is the
    * original. */
  def mutateByOrderkey(df: DataFrame, keyCol: String, r: Int): DataFrame =
    if (r == 0) df
    // L suffix: r * 10000000 in Int wraps negative at r >= 215, colliding
    // orderkeys across replicas (the doc/emb mutators already use longs)
    else df.withColumn(keyCol, col(keyCol) + lit(r * 10000000L))

  def replicatedFacts(df: DataFrame, keyCol: String, n: Int): DataFrame =
    (0 until n).map(mutateByOrderkey(df, keyCol, _)).reduce(_ unionByName _)

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    import java.nio.file._
    // clear stale destination first: Spark part files carry UUID names, so
    // REPLACE_EXISTING alone would leave a previous corpus's parts beside
    // the new ones and readers would union two corpora
    if (Files.exists(dst))
      Files.walk(dst).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(Files.delete(_))
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t,
        StandardCopyOption.REPLACE_EXISTING) }
    }
  }

  /** `facts <src> <out> <n>`: the N× fact-table corpus for
    * `Inspect curve` — orders/lineitem replicated with orderkey
    * offsets, documents/embeddings token/vector-mutated, dims + events
    * copied byte-for-byte (events carries TIMESTAMP(NANOS), which a
    * plain read-rewrite would reject/alter; a file copy preserves it). */
  def factsCorpus(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "events"))
      copyTree(java.nio.file.Paths.get(s"$src/$t.parquet"),
        java.nio.file.Paths.get(s"$out/$t.parquet"))
    val nFiles = math.max(8, n / 2)
    replicatedFacts(spark.read.parquet(s"$src/orders.parquet"), "o_orderkey", n)
      .repartition(nFiles).write.mode("overwrite").parquet(s"$out/orders.parquet")
    replicatedFacts(spark.read.parquet(s"$src/lineitem.parquet"), "l_orderkey", n)
      .repartition(nFiles).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    replicatedDocs(docs, n).repartition(nFiles)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    replicatedEmb(spark.read.parquet(s"$src/embeddings.parquet"), n)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[stressgen] wrote facts corpus $out (${n}x)")
  }

  /** `graphfacts <src> <out> <n>`: the graph-GROWTH corpus — N replicas
    * where the NODE keys (l_partkey, l_suppkey, o_custkey) offset per
    * replica along with the orderkey, so the co-purchase and trade
    * graphs scale ×n as disjoint components (nodes ×n, edges ×n). The
    * plain facts corpus deliberately keeps dims fixed for dim-join
    * parity — which makes DISTINCT edge sets CONSTANT across replicas:
    * graph-op curves measured there come out flat as a corpus artifact,
    * not as evidence (measured: exponents ≈0.0 on facts corpora before
    * this mode existed). Only the two graph tables are written. */
  def graphCorpus(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    def rep(df: DataFrame, cols: Seq[String], r: Int): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(r * 10000000L)))
    val nFiles = math.max(8, n / 2)
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    (0 until n).map(r => rep(li, Seq("l_orderkey", "l_partkey", "l_suppkey"), r))
      .reduce(_ unionByName _)
      .repartition(nFiles).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    (0 until n).map(r => rep(ord, Seq("o_orderkey", "o_custkey"), r))
      .reduce(_ unionByName _)
      .repartition(nFiles).write.mode("overwrite").parquet(s"$out/orders.parquet")
    println(s"[stressgen] wrote graph corpus $out (${n}x nodes and edges)")
  }

  def main(args: Array[String]): Unit = {
    val graphMode = args.headOption.contains("graphfacts")
    if (graphMode) {
      val spark = Inspect.session()
      graphCorpus(spark, args.lift(1).getOrElse("/root/testdata/sf0.001"),
        args.lift(2).getOrElse("/tmp/stress_graph/x1"),
        args.lift(3).flatMap(_.toIntOption).getOrElse(1))
      spark.stop(); return
    }
    val factsMode = args.headOption.contains("facts")
    val rest = if (factsMode) args.drop(1) else args
    val src = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val outBase = if (rest.length > 1) rest(1) else "/tmp/stress_r5"
    val spark = Inspect.session()
    if (factsMode) {
      factsCorpus(spark, src, outBase,
        rest.lift(2).flatMap(_.toIntOption).getOrElse(100))
      spark.stop(); return
    }

    val docs = spark.read.parquet(s"$src/documents.parquet")
      .select("doc_id", "text")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    // read through the schema-adaptive reader (events has shipped under
    // two physical ts encodings); the rewrite normalizes to timestamp[us]
    val events = graft.ops.Relational.events(spark, src)

    val explicit = args.drop(2).flatMap(_.toIntOption).toSeq
    val scales = if (explicit.nonEmpty) explicit else Seq(1, 3, 10)
    for (n <- scales) {
      // files scale with the corpus so scans split into real parallel
      // tasks without single-file-row-group limits at the big decades
      val nFiles = math.max(8, n)
      replicatedDocs(docs, n).repartition(nFiles)
        .write.mode("overwrite").parquet(s"$outBase/x$n/documents.parquet")
      replicatedEmb(emb, n).repartition(nFiles)
        .write.mode("overwrite").parquet(s"$outBase/x$n/embeddings.parquet")
      // media fixture corpus: one REAL P6 file per doc (Ppm.fixtureBytes)
      // — the input for decode-path stress runs
      mediaFixtures(replicatedDocs(docs, n)).repartition(nFiles)
        .write.mode("overwrite").parquet(s"$outBase/x$n/media.parquet")
      replicatedEvents(events, n).repartition(nFiles)
        .write.mode("overwrite").parquet(s"$outBase/x$n/events.parquet")
      println(s"[stressgen] wrote $outBase/x$n")
    }
    if (explicit.nonEmpty) { spark.stop(); return }
    for (n <- Seq(1, 10)) {
      skewedDocs(replicatedDocs(docs, n)).repartition(8)
        .write.mode("overwrite").parquet(s"$outBase/skew$n/documents.parquet")
      println(s"[stressgen] wrote $outBase/skew$n")
    }
    spark.stop()
  }
}
