package graft

import org.apache.spark.sql.functions._
import graft.dedup.{BloomDedup, ChunkDedup, SemDedup}
import graft.text.Relevance

/** Ground truth for the round-6 pipeline operators (q64–q67): chunk-level
  * dedup, TF-IDF, SemDeDup, bloom incremental dedup. Hand-computed
  * expectations on tiny in-memory corpora, plus corpus-level invariants
  * for the planted-duplicate query surfaces. */
class ScaleOps3Spec extends GraftSuite {
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  // --- ChunkDedup ---------------------------------------------------------

  test("chunkStats: aligned shared chunk is counted for both docs, unique docs stay clean") {
    // doc 1 and doc 2 share their FIRST 3-token chunk exactly; doc 3 is
    // disjoint. chunkTokens=3: doc1 = [a b c][d e f], doc2 = [a b c][x y z],
    // doc3 = [p q r].
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x y z"),
      (3L, "p q r")).toDF("doc_id", "text")
    val got = ChunkDedup.chunkStats(df, "doc_id", "text", chunkTokens = 3, dropFrac = 0.5)
      .orderBy("doc_id")
      .select("doc_id", "n_chunks", "n_dup_chunks", "dup_frac", "drop_doc")
      .as[(Long, Long, Long, Double, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 0.5, true),
      (2L, 2L, 1L, 0.5, true),
      (3L, 1L, 0L, 0.0, false)))
  }

  test("chunkStats: within-doc repeated chunk is NOT cross-doc duplication") {
    // doc 1 repeats its own chunk; no other doc shares it — df_docs stays 1.
    val df = Seq((1L, "a b c a b c"), (2L, "x y z")).toDF("doc_id", "text")
    val got = ChunkDedup.chunkStats(df, "doc_id", "text", chunkTokens = 3)
      .orderBy("doc_id").select("n_dup_chunks").as[Long].collect().toSeq
    assert(got == Seq(0L, 0L))
  }

  test("chunkStats: doc shorter than a chunk degenerates to one whole-doc chunk") {
    val df = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val got = ChunkDedup.chunkStats(df, "doc_id", "text", chunkTokens = 10)
      .orderBy("doc_id")
      .select("n_chunks", "n_dup_chunks").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (1L, 1L)))
  }

  test("q64: planted docs measure dup_frac 0.5 and their sources gain a dup chunk") {
    val out = graft.ops.ScaleOps3.q64ChunkDedup(spark, sf).cache()
    val planted = out.filter(col("doc_id") >= 10000000000L)
    assert(planted.count() > 0)
    // planted = source's first 10-token chunk + a marker tail chunk
    assert(planted.filter(col("n_chunks") =!= 2 || col("n_dup_chunks") =!= 1)
      .count() == 0, "every planted doc: 2 chunks, exactly 1 duplicated")
    assert(planted.filter(!col("drop_doc")).count() == 0,
      "dup_frac 0.5 >= 0.3 drops every planted doc")
    // each planted source (doc_id % 10 == 0, >= 10 tokens in this corpus)
    // now shares its first chunk with its plant
    val sources = out.filter(col("doc_id") < 10000000000L && col("doc_id") % 10 === 0)
    assert(sources.filter(col("n_dup_chunks") < 1).count() == 0)
    out.unpersist()
  }

  // --- Relevance (TF-IDF) -------------------------------------------------

  test("tfIdfTopTerms: hand-computed scores, rare terms outrank common ones") {
    // N=3. doc1: apple(tf2, df1) score 6.0; banana(tf1, df2) 1.5.
    // doc3: cherry(tf2, df2) 3.0; durian(tf1, df1) 3.0 — equal scores,
    // term ASC tie-break puts cherry first.
    val df = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry durian cherry")).toDF("doc_id", "text")
    val got = Relevance.tfIdfTopTerms(df, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank")
      .select("doc_id", "rank", "term", "tf", "df", "score")
      .as[(Long, Long, String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, "apple", 2L, 1L, 6.0),
      (1L, 2L, "banana", 1L, 2L, 1.5),
      (2L, 1L, "banana", 1L, 2L, 1.5),
      (2L, 2L, "cherry", 1L, 2L, 1.5),
      (3L, 1L, "cherry", 2L, 2L, 3.0),
      (3L, 2L, "durian", 1L, 1L, 3.0)))
  }

  test("q65: per-doc ranks are 1..3 with non-increasing scores") {
    val out = graft.ops.ScaleOps3.q65Tfidf(spark, sf)
    val bad = out.withColumn("prev",
        lag(col("score"), 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("rank")))
      .filter(col("prev").isNotNull && col("score") > col("prev"))
    assert(bad.count() == 0, "scores must be non-increasing within a doc")
    assert(out.filter(col("rank") < 1 || col("rank") > 3).count() == 0)
  }

  // --- SemDedup -----------------------------------------------------------

  test("clusterDupStats: known clusters, greedy keep-lowest-id removal set") {
    import graft.functions.VectorFunctions
    // cluster 0: ids 1,2 identical (cos 1.0); id 3 orthogonal. cluster 1:
    // id 4 alone. Expect c0 pair (1,2) -> removed {2}; c1 clean.
    val assigned = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(0.0f, 1.0f), 0),
      (4L, Seq(1.0f, 1.0f), 1)
    ).toDF("corpus_id", "cv", "centroid_id")
      .withColumn("cnorm", sqrt(VectorFunctions.normSq(col("cv"))))
    val got = SemDedup.clusterDupStats(assigned, threshold = 0.95)
      .orderBy("centroid_id")
      .select("centroid_id", "n_members", "n_dup_pairs", "n_removed", "removed_id_sum")
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0, 3L, 1L, 1L, 2L), (1, 1L, 0L, 0L, 0L)))
  }

  test("q66: every planted near-dup is found in its source's cluster") {
    val out = graft.ops.ScaleOps3.q66Semdedup(spark, sf).cache()
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val nPlanted = emb.filter(col("vec_id") < 50).count()
    val members = out.agg(sum("n_members")).as[Long].head()
    assert(members == emb.count() + nPlanted, "union corpus fully assigned")
    // the planted perturbation (first component halved) keeps cos ≈ 0.998
    // to its source; natural max is ~0.51 — so every FOUND pair is a
    // (source, plant) pair. A plant whose perturbation flips the argmax
    // centroid straddles clusters and is missed — SemDeDup's documented
    // recall/cost trade (at sf0.001 exactly one of 50 straddles) — so the
    // assertion is a recall bound, not equality.
    val pairs = out.agg(sum("n_dup_pairs")).as[Long].head()
    assert(pairs <= nPlanted, "no pair can exist besides (source, plant)")
    assert(pairs >= (nPlanted * 9) / 10, s"recall >= 0.9: got $pairs of $nPlanted")
    // each found pair removes its plant (the higher id, >= 1000000) and
    // plants are unique per pair
    val (nRemoved, removedSum) = out
      .agg(sum("n_removed"), sum("removed_id_sum")).as[(Long, Long)].head()
    assert(nRemoved == pairs, "one distinct removed plant per pair")
    assert(removedSum >= nRemoved * 1000000L, "removed ids are all planted ids")
    out.unpersist()
  }

  // --- BloomDedup ---------------------------------------------------------

  test("bloomDedupStats: exact dup counts with sketch properties on a known corpus") {
    val hist = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val fresh = Seq((10L, "delta"), (11L, "beta"), (12L, "epsilon")).toDF("doc_id", "text")
    val got = BloomDedup.bloomDedupStats(hist, fresh, "doc_id", "text")
      .select("n_new", "n_true_dup", "bloom_caught_all_dups", "fpr_within_bound")
      .as[(Long, Long, Boolean, Boolean)].head()
    assert(got == ((3L, 1L, true, true)))
  }

  test("splitByBloom: null-text rows route to definitelyNew — the split stays a partition") {
    // a NULL text has no content hash and cannot duplicate history; the
    // probe's SQL NULL must not drop the row from BOTH outputs
    val hist = Seq((1L, "alpha")).toDF("doc_id", "text")
    val fresh = Seq((10L, Option("alpha")), (11L, Option.empty[String]),
      (12L, Option("zeta"))).toDF("doc_id", "text")
    val bloom = BloomDedup.buildContentBloom(hist, "text")
    val (defNew, cands) = BloomDedup.splitByBloom(fresh, "text", bloom)
    assert(defNew.count() + cands.count() == 3, "no row may vanish from the split")
    assert(defNew.filter(col("doc_id") === 11L).count() == 1,
      "null text is definitely-new, not a silent drop")
  }

  test("splitByBloom: misses are definitely new; true dups always land in candidates") {
    val hist = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val fresh = Seq((10L, "alpha"), (11L, "zeta"), (12L, "eta")).toDF("doc_id", "text")
    val bloom = BloomDedup.buildContentBloom(hist, "text")
    val (definitelyNew, candidates) = BloomDedup.splitByBloom(fresh, "text", bloom)
    assert(definitelyNew.count() + candidates.count() == 3)
    // the true dup (10, "alpha") cannot be in definitelyNew — no false negatives
    assert(definitelyNew.filter(col("doc_id") === 10L).count() == 0)
    assert(candidates.filter(col("doc_id") === 10L).count() == 1)
  }

  test("containmentPairs: subset doc scores contain 1.0 where Jaccard stays low") {
    // doc 2 = first 5 tokens of doc 1 (3 shingles, all inside doc 1's 8);
    // doc 3 disjoint. contain(2→1) = 3/3 = 1.0; jaccard = 3/8 — under any
    // near-dup threshold.
    val df = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e"),
      (3L, "p q r s t")).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.containmentPairs(df, "doc_id", "text",
      k = 3, threshold = 0.9)
      .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "contain_b")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 3L, 8L, 3L, 1.0)))
    val jac = graft.dedup.Dedup.jaccardPairs(df, "doc_id", "text",
      k = 3, threshold = 0.5).count()
    assert(jac == 0L, "Jaccard at 0.5 misses the subset duplication containment catches")
  }

  test("q68: every planted sub-document is caught at containment 1.0") {
    val out = graft.ops.ScaleOps3.q68Containment(spark, sf).cache()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val nPlanted = docs.filter(col("doc_id") % 10 === 0).count()
    // each planted id appears as doc_b (id+30000000000 sorts above its source)
    // with contain_b == 1.0 against its source
    val caught = out.filter(col("doc_b") >= 30000000000L &&
      col("doc_a") === col("doc_b") - 30000000000L && col("contain_b") === 1.0).count()
    assert(caught == nPlanted, s"expected $nPlanted planted catches, got $caught")
    out.unpersist()
  }

  test("stratifiedSample: exact k per stratum, deterministic, and nesting") {
    val df = Seq.tabulate(40)(i => (i.toLong, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val s3 = graft.pipeline.Packing.stratifiedSample(df, "doc_id", "lang", 3)
    val byLang = s3.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang == Map("en" -> 3L, "de" -> 3L))
    // deterministic: second run picks the identical rows
    val ids1 = s3.select("doc_id").as[Long].collect().sorted.toSeq
    val ids2 = graft.pipeline.Packing.stratifiedSample(df, "doc_id", "lang", 3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids1 == ids2)
    // nesting: the 3-sample is a subset of the 5-sample
    val ids5 = graft.pipeline.Packing.stratifiedSample(df, "doc_id", "lang", 5)
      .select("doc_id").as[Long].collect().toSet
    assert(ids1.forall(ids5.contains))
  }

  test("q69: exactly 5 per language present in the corpus") {
    val out = graft.ops.ScaleOps3.q69StratifiedSample(spark, sf)
    val counts = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    val langSizes = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    langSizes.foreach { case (lang, n) =>
      assert(counts.getOrElse(lang, 0L) == math.min(5L, n), s"lang $lang")
    }
  }

  test("histogram: hand-computed buckets, shares sum to 1, nulls excluded") {
    val df = Seq(Some(5L), Some(49L), Some(50L), Some(149L), Some(150L), None)
      .toDF("v")
    val got = graft.analyze.Analyze.histogram(df, "v", width = 50L)
      .orderBy("bucket")
      .select("bucket", "lo", "n", "min_v", "max_v", "share")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (0L, 0L, 2L, 5L, 49L, 0.4),
      (1L, 50L, 1L, 50L, 50L, 0.2),
      (2L, 100L, 1L, 149L, 149L, 0.2),
      (3L, 150L, 1L, 150L, 150L, 0.2)))
  }

  test("histogram: negative values floor-bucket (not truncate toward zero)") {
    val df = Seq(-1L, -50L, -51L, 0L).toDF("v")
    val got = graft.analyze.Analyze.histogram(df, "v", width = 50L)
      .orderBy("bucket").select("bucket", "n").as[(Long, Long)].collect().toSeq
    // floor(-1/50) = -1, floor(-50/50) = -1, floor(-51/50) = -2
    assert(got == Seq((-2L, 1L), (-1L, 2L), (0L, 1L)))
  }

  test("equiDepthHistogram: bins balanced on distinct values, cover all rows, nulls excluded") {
    val df = ((1L to 100L).map(Some(_)) :+ None).toDF("v")
    val got = graft.analyze.Analyze.equiDepthHistogram(df, "v", nBins = 4)
      .orderBy("bin")
      .select("bin", "n", "min_v", "max_v")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // 1..100 into quartile bins: boundaries at p25/p50/p75 interpolate to
    // 25.75/50.5/75.25 -> bins of 25, 25, 25, 25
    assert(got.map(_._2).sum == 100L, s"covers all non-null rows: $got")
    assert(got.length == 4 && got.map(_._2).forall(n => n >= 24 && n <= 26), got.toString)
    // bins tile the value range in order with no overlap
    got.sliding(2).foreach { case Seq(a, b) => assert(a._4 < b._3, s"$a then $b") }
  }

  test("tokenBudgetPlan: integer-exact allocation, caps at availability, keep rates consistent") {
    val docs = Seq(
      ("srcA", 100L), ("srcA", 100L),   // avail 200, weight 1
      ("srcB", 30L),                     // avail 30,  weight 3
      ("srcC", 500L), ("srcC", 500L)     // avail 1000, weight 2
    ).toDF("source", "n_tokens")
    val weight = org.apache.spark.sql.functions.when($"source" === "srcA", 1L)
      .when($"source" === "srcB", 3L).otherwise(2L)
    // budget = half of 1230 = 615; sumw = 6
    // targets: A 615*1/6=102, B 615*3/6=307, C 615*2/6=205
    val got = graft.pipeline.Packing.tokenBudgetPlan(
        docs, "source", "n_tokens", weight, 1L, 2L)
      .orderBy("source")
      .select("source", "avail_tokens", "weight", "target_tokens",
        "alloc_tokens", "deficit_tokens")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("srcA", 200L, 1L, 102L, 102L, 0L),
      ("srcB", 30L, 3L, 307L, 30L, 277L),   // cannot fill: deficit 277
      ("srcC", 1000L, 2L, 205L, 205L, 0L)), got.toString)
  }

  test("tokenBudgetPlan: a weight NOT functionally dependent on source fails loudly, not silently") {
    // two rows of srcA with different weights — the first(weight) form
    // this assert replaced would nondeterministically pick one; the
    // min==max dependence check must throw instead
    val docs = Seq(("srcA", 10L, 1L), ("srcA", 20L, 2L), ("srcB", 5L, 7L))
      .toDF("source", "n_tokens", "w")
    val ex = intercept[Exception] {
      graft.pipeline.Packing.tokenBudgetPlan(
        docs, "source", "n_tokens", $"w").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("functionally dependent")),
      s"expected the dependence assert, got: $ex")
  }

  test("heavy hitters: exact top-k ranks known corpus, CMS booleans hold") {
    val docs = Seq(
      (1L, "alpha alpha alpha beta beta gamma"),
      (2L, "alpha beta delta delta"),
      (3L, "alpha epsilon")
    ).toDF("doc_id", "text")
    val got = graft.text.HeavyHitters.topTokensWithSketchCheck(docs, "text", k = 3)
      .orderBy("rank")
      .select("rank", "token", "n", "cms_no_underestimate", "cms_within_eps")
      .as[(Int, String, Long, Boolean, Boolean)].collect().toSeq
    // counts: alpha 5, beta 3, delta 2 (gamma/epsilon 1 each)
    assert(got.map(t => (t._1, t._2, t._3)) ==
      Seq((1, "alpha", 5L), (2, "beta", 3L), (3, "delta", 2L)), got.toString)
    assert(got.forall(t => t._4 && t._5), s"CMS properties must hold: $got")
  }

  test("q70: buckets cover all docs and shares sum to 1") {
    val out = graft.ops.ScaleOps3.q70Histogram(spark, sf).cache()
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.agg(sum("n")).as[Long].head() == total)
    val shareSum = out.agg(sum("share")).as[Double].head()
    assert(math.abs(shareSum - 1.0) < 1e-9)
    out.unpersist()
  }

  test("q71: source pairs are canonically ordered and cover the q19 pair graph") {
    val out = graft.ops.ScaleOps3.q71SourceOverlap(spark, sf).cache()
    assert(out.filter(col("source_x") > col("source_y")).count() == 0,
      "least/greatest canonicalization")
    val totalPairs = out.agg(sum("n_pairs")).as[Long].head()
    val rawPairs = graft.dedup.Dedup.nearDupPairs(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text",
      k = 3, threshold = 0.5).count()
    assert(totalPairs == rawPairs, "every near-dup pair lands in exactly one cell")
    out.unpersist()
  }

  test("canonicalKeep: quality beats length, full ties fall to id, one keeper per cluster") {
    val docs = Seq(
      // 1 and 2: same char multiset ("cat"/"dog" swapped at the tail) so
      // quality AND n_chars tie exactly -> keeper is the lower id.
      // Shingle overlap 6 of 9 each side -> jaccard 6/12 = 0.5, clustered.
      (1L, "one two three four five six seven eight nine cat dog"),
      (2L, "one two three four five six seven eight nine dog cat"),
      (3L, "completely unrelated standalone document text"),
      // 4 and 5: 5 is LONGER but its junk tokens sink alpha_ratio ->
      // quality picks 4 over the longer 5.
      (4L, "red green blue yellow purple orange pink black white gray silver"),
      (5L, "red green blue yellow purple orange pink black white gray silver %%%%% #####")
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.canonicalKeep(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "cluster_id", "cluster_size", "pick_rank", "keep")
      .as[(Long, Long, Long, Int, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 2L, 1, true),
      (2L, 1L, 2L, 2, false),
      (3L, 3L, 1L, 1, true),
      (4L, 4L, 2L, 1, true),
      (5L, 4L, 2L, 2, false)), got.toString)
  }

  test("precomputed-clusters reuse: keep + savings from ONE pair graph match the one-shot forms") {
    // the reuse contract the composed pipeline relies on: compute
    // nearDupPairs + clusterPairs ONCE, then canonicalKeepFromClusters
    // and dedupSavings fan out from the shared assignment bit-identically
    // to the self-contained overloads that re-derive the graph
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text", $"source")
    val oneShot = graft.dedup.Dedup.canonicalKeep(docs, "doc_id", "text",
      k = 3, threshold = 0.5)
    val runsBefore = graft.dedup.Dedup.pairEngineRuns.get()
    val pairs = graft.dedup.Dedup.nearDupPairs(docs, "doc_id", "text",
      k = 3, threshold = 0.5)
    val clusters = graft.dedup.Dedup.clusterPairs(docs, "doc_id", pairs)
    val decided = graft.dedup.Dedup.canonicalKeepFromClusters(
      docs, clusters, "doc_id", "text")
    val savings = graft.ops.ScaleOps4.dedupSavings(
      docs, decided, "source", "doc_id", "text")
    assert(graft.dedup.Dedup.pairEngineRuns.get() - runsBefore == 1L,
      "keep + savings from shared clusters must plan the pair engine once")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().toSeq
    assert(rows(decided) == rows(oneShot),
      "canonicalKeepFromClusters diverged from the one-shot canonicalKeep")
    val viaOneShot = graft.ops.ScaleOps4.dedupSavings(
      docs, oneShot, "source", "doc_id", "text")
    assert(savings.collect().toSeq == viaOneShot.collect().toSeq)
  }

  test("sourceProfile: hand-computed interpolated percentiles per stratum") {
    // single-token all-letter texts: quality = 0.4 (alpha 1.0) + 0 (no
    // stopwords) + 0.3 (avg_word_len/8 capped) = 0.7 for every doc, so the
    // quality percentiles are flat and the length percentiles carry the
    // interpolation arithmetic: srcA lengths 10/20/30/40 -> p25 at index
    // 0.75 = 17.5, p50 = 25, p90 at 2.7 = 37, p99 at 2.97 = 39.7;
    // srcB lengths 8/16 -> 10, 12, 15.2, 15.92. (39.7 is written as its
    // actual IEEE value: 30 + 0.97*10 = 39.699999999999996 — the oracle
    // comparison is over these exact bits, so the spec pins them too.)
    val docs = Seq(
      ("srcA", "a" * 10), ("srcA", "a" * 20), ("srcA", "a" * 30), ("srcA", "a" * 40),
      ("srcB", "b" * 8), ("srcB", "b" * 16)
    ).toDF("source", "text")
    val got = graft.analyze.Analyze.sourceProfile(docs, "source", "text")
      .orderBy("source")
      .select("source", "n_docs", "p25_chars", "p50_chars", "p90_chars",
        "p99_chars", "p50_quality", "min_chars", "max_chars")
      .as[(String, Long, Double, Double, Double, Double, Double, Long, Long)]
      .collect().toSeq
    assert(got == Seq(
      ("srcA", 4L, 17.5, 25.0, 37.0, 39.699999999999996, 0.7, 10L, 40L),
      ("srcB", 2L, 10.0, 12.0, 15.2, 15.92, 0.7, 8L, 16L)), got.toString)
  }

  test("boilerplateShare: shared template prefix counted common, unique docs score zero") {
    // docs 1-3 share a 5-token boilerplate prefix -> its three interior
    // 3-shingles have df=3 (> commonDf=2); every other shingle is unique.
    // 9 tokens -> 7 shingles/doc, 3 common -> share 3/7.
    val docs = Seq(
      (1L, "this document is provided under alpha beta gamma delta"),
      (2L, "this document is provided under one two three four"),
      (3L, "this document is provided under red green blue yellow"),
      (4L, "totally unique content nothing shared here at all")
    ).toDF("doc_id", "text")
    val got = graft.text.Relevance.boilerplateShare(
        docs, "doc_id", "text", k = 3, commonDf = 2L)
      .orderBy("doc_id")
      .select("doc_id", "n_shingles", "n_common", "boilerplate_share")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 7L, 3L, 3.0 / 7.0),
      (2L, 7L, 3L, 3.0 / 7.0),
      (3L, 7L, 3L, 3.0 / 7.0),
      (4L, 6L, 0L, 0.0)), got.toString)
  }

  test("heavy hitters: empty corpus returns an empty frame, not an NPE") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val got = graft.text.HeavyHitters.topTokensWithSketchCheck(empty, "text", k = 3)
    assert(got.count() == 0L)
    assert(got.columns.toSeq == Seq("rank", "token", "n", "share",
      "cms_no_underestimate", "cms_within_eps"))
  }

  test("q78: savings rollup is consistent with canonicalKeep's decisions") {
    val out = graft.ops.ScaleOps4.q78DedupSavings(spark, sf).cache()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(out.agg(sum("n_docs")).as[Long].head() == docs.count(),
      "every document lands in exactly one source row")
    val dropped = graft.dedup.Dedup.canonicalKeep(
        docs, "doc_id", "text", k = 3, threshold = 0.5)
      .filter(!col("keep")).count()
    assert(out.agg(sum("n_dropped")).as[Long].head() == dropped,
      "rollup drop count == the keeper decisions it is built from")
    out.collect().foreach { r =>
      assert(r.getAs[Long]("tokens_dropped") <= r.getAs[Long]("tokens_total"), r.toString)
      assert(r.getAs[Long]("n_dropped") <= r.getAs[Long]("n_docs"), r.toString)
    }
    out.unpersist()
  }

  test("q67: catches every planted cross-batch duplicate") {
    val got = graft.ops.ScaleOps3.q67BloomDedup(spark, sf)
      .select("n_new", "n_true_dup", "bloom_caught_all_dups", "fpr_within_bound")
      .as[(Long, Long, Boolean, Boolean)].head()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val nOdd = docs.filter(col("doc_id") % 2 === 1).count()
    val nPlanted = docs.filter(col("doc_id") % 10 === 0).count()
    assert(got._1 == nOdd + nPlanted)
    assert(got._2 == nPlanted, "exact dups = the planted copies (corpus has no natural dups)")
    assert(got._3 && got._4)
  }
}
