package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Relational.t

/** Batch 25: a trainable document-quality classifier — the fastText-class
  * component a production LLM-data pipeline runs after the heuristic
  * filters (CCNet and successors train a linear classifier to keep
  * wiki-like text; the reference pipeline has no learning stage, so this
  * is beyond-reference surface like the rest of the q1xx family).
  *
  * The model is a BATCH perceptron over hashed bag-of-words features:
  * exact integer arithmetic end to end, so the trained weights — and
  * therefore every downstream keep/drop decision — are bit-reproducible
  * on any engine with 64-bit integers (the q51/q23 portability contract).
  * SGD-style per-row updates would be order-dependent (a shuffle
  * reordering retrains a different model); the batch form's epoch update
  * is one order-free aggregate, which is exactly what makes it both
  * distributed-friendly and oracle-checkable.
  *
  *   - features: token → FNV-1a-64 → bucket = low log₂(B) bits; B is a
  *     POWER OF TWO so the signed-`&` and the mirror's unsigned-`%` agree
  *     bit-for-bit (2⁶⁴ ≡ 0 mod 2ᵏ — spec-pinned; a non-power-of-two B
  *     would need floorMod-vs-unsigned adjudication like q23's bag hash);
  *     feature value x = token count in the bucket, plus a constant-1
  *     bias feature at bucket B
  *   - label: y = +1 if lang = 'en' else −1 (binary en-vs-rest; the
  *     corpus carries both classes at every SF)
  *   - epoch: margin m_d = Σ_b w_b·x_db; misclassified iff y_d·m_d ≤ 0
  *     (ties count as wrong — with w⁰ = 0 EVERY doc is misclassified in
  *     epoch 1, so epoch 1's update is Σ_d y_d·x_d, spec-pinned);
  *     w ← w + Σ_{misclassified d} y_d·x_d
  *   - [[Q176Epochs]] epochs, trained on the doc_id-EVEN half (the q175
  *     train/held convention); q177 scores the odd half with the result.
  */
object ScaleOps25 {

  /** Hashed feature buckets — MUST stay a power of two (see above). */
  val Q176Buckets = 64

  /** Fixed epoch count: the driver loop is K-bounded (the BPE argmax
    * discipline — K tiny jobs, never a per-row driver loop). */
  val Q176Epochs = 4

  /** How many lowest-scoring held-out docs q177 surfaces. */
  val Q177BottomK = 15

  /** Per-corpus memo of the trained weight vector (the q127/q148/q164
    * memo discipline): training is deterministic in the corpus, so q176
    * and q177 share one training run per JVM per corpus, and oracle
    * reruns don't pay the epoch loop twice. */
  private val weightsMemo =
    scala.collection.concurrent.TrieMap[String, Array[Long]]()

  /** The (doc_id, y, bucket, x) feature table over non-empty docs:
    * hashed token counts plus the bias row. Token-bucket bounded —
    * ≤ (B+1) rows per doc regardless of doc length. */
  private def features(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    val toks = docs.select(col("doc_id").cast("long").as("doc_id"),
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
      filter(graft.text.TextAnalysis.tokens(col("text")),
        tk => length(tk) >= 1).as("ts"))
      .filter(size(col("ts")) >= 1)
    val counts = toks.select(col("doc_id"), col("y"),
      explode(column(graft.functions.SlidingShingleHashes(
        expression(col("ts")), 1))).as("h"))
      .select(col("doc_id"), col("y"),
        col("h").bitwiseAND(lit((Q176Buckets - 1).toLong)).as("bucket"))
      .groupBy(col("doc_id"), col("y"), col("bucket"))
      .agg(count(lit(1)).as("x"))
    val bias = toks.select(col("doc_id"), col("y"),
      lit(Q176Buckets.toLong).as("bucket"), lit(1L).as("x"))
    counts.unionByName(bias)
  }

  /** The epoch loop. Scale shape per epoch: margins ride a BROADCAST
    * join of the (B+1)-row weight table onto the cached feature table
    * (already hash-partitioned by doc_id, so the doc rollup and the
    * misclassified-join are exchange-free), then ONE (B+1)-group partial
    * agg collects the delta — the only driver-side data is B+1 longs per
    * epoch. Margins ride DECIMAL(38): w is bounded by K·Σtokens, so
    * w·x can pass int64 at corpus scale even though the final weights
    * cannot (K·Σtokens ≈ 4·10¹³ at 100 TB — comfortably BIGINT). */
  private def trainWeights(s: SparkSession, feats: DataFrame): Array[Long] = {
    import s.implicits._
    val w = Array.fill(Q176Buckets + 1)(0L)
    val cached = feats.repartition(col("doc_id")).persist()
    // the first epoch's job reads cached from TWO branches (margin join
    // + misclassified re-join); population stays lazy — an eager count()
    // pass lost to lazy population on every query the r18 A/B measured it
    // on (q19, q60, q123)
    try {
      for (_ <- 1 to Q176Epochs) {
        val wDf = w.zipWithIndex
          .map { case (wt, b) => (b.toLong, wt) }.toSeq.toDF("bucket", "w")
        val delta = cached
          .join(broadcast(wDf), Seq("bucket"))
          .groupBy(col("doc_id"), col("y"))
          .agg(sum(expr("CAST(x AS DECIMAL(38,0)) * w")).as("m"))
          // y·m ≤ 0 without the y·m product: y ∈ {1,−1}, and multiplying
          // a near-38-digit DECIMAL margin is the one step that could
          // overflow where the comparison cannot (the mirror's HUGEINT
          // y*m is exact, so the two forms agree everywhere both run)
          .filter((col("y") > 0 && col("m") <= 0) ||
            (col("y") < 0 && col("m") >= 0))
          .select(col("doc_id"))
          .join(cached, Seq("doc_id"))
          .groupBy(col("bucket"))
          .agg(sum(col("y") * col("x")).as("d"))
          .collect()
        delta.foreach { r =>
          w(r.getAs[Long]("bucket").toInt) += r.getAs[Long]("d")
        }
      }
      w
    } finally { cached.unpersist() }
  }

  /** Library surface for the pipeline's learned gate: train the batch
    * perceptron on the doc_id-EVEN half of `docs` (en-vs-rest weak
    * label from `langCol`) — the q176 train/held hygiene, so the gate's
    * threshold behavior can be audited on the odd half the model never
    * saw. Returns the (B+1)-long weight vector. */
  def trainClassifier(s: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): Array[Long] =
    trainWeights(s, features(docs.select(col(idCol).as("doc_id"),
      col(textCol).as("text"), col(langCol).as("lang")))
      .filter(col("doc_id") % 2 === 0))

  /** Integer model score per document — (idCol, score BIGINT). Docs with
    * no features (empty after tokenization) are absent; the caller
    * decides their fate (the pipeline gate coalesces them to 0 — a model
    * cannot vouch for a doc it has no evidence about). */
  def scoreDocs(docs: DataFrame, w: Array[Long],
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    val s2 = docs.sparkSession
    import s2.implicits._
    val wDf = w.zipWithIndex
      .map { case (wt, b) => (b.toLong, wt) }.toSeq.toDF("bucket", "w")
    features(docs.select(col(idCol).as("doc_id"),
        col(textCol).as("text"), col(langCol).as("lang")))
      .join(broadcast(wDf), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(expr("CAST(x AS DECIMAL(38,0)) * w")).as("m"))
      .select(col("doc_id").as(idCol), expr("CAST(m AS BIGINT)").as("score"))
  }

  private def trainedWeights(s: SparkSession, dir: String): Array[Long] =
    weightsMemo.getOrElseUpdate(
      s"$dir|${Relational.corpusSignature(s, dir, "documents")}",
      trainWeights(s,
        features(Relational.fanOut(t(s, dir, "documents")))
          .filter(col("doc_id") % 2 === 0)))

  /** q176: the trained weight vector — (bucket, weight), B+1 rows. */
  def q176PerceptronTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainedWeights(s, dir).zipWithIndex
      .map { case (wt, b) => (b.toLong, wt) }.toSeq
      .toDF("bucket", "weight")
      .orderBy(col("bucket"))
  }

  /** q177: APPLY the trained model to the held-out (doc_id-odd) half —
    * per doc: integer score Σ w_b·x_db, predicted class (score ≤ 0 → −1,
    * the same tie sign training uses), actual label, and a correct flag;
    * the [[Q177BottomK]] lowest-scoring docs surface (the "most
    * confidently non-English" readout a curation review samples).
    *
    * Scale shape: one broadcast join of the (B+1)-row weight table, one
    * doc-grouped partial agg, one distributed TakeOrdered. The trained
    * weights come from the per-corpus memo, so the epoch loop runs once
    * per corpus, not once per query. score rides DECIMAL(38) and lands
    * as BIGINT with the ANSI loud-overflow contract on both engines. */
  def q177PerceptronApply(s: SparkSession, dir: String): DataFrame =
    applyModel(s, dir, trainedWeights(s, dir))

  private def applyModel(s: SparkSession, dir: String,
      w: Array[Long]): DataFrame = {
    import s.implicits._
    val wDf = w.zipWithIndex
      .map { case (wt, b) => (b.toLong, wt) }.toSeq.toDF("bucket", "w")
    features(Relational.fanOut(t(s, dir, "documents")))
      .filter(col("doc_id") % 2 === 1)
      .join(broadcast(wDf), Seq("bucket"))
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(expr("CAST(x AS DECIMAL(38,0)) * w")).as("m"))
      .select(col("doc_id"),
        expr("CAST(m AS BIGINT)").as("score"),
        col("y"),
        when(col("m") > 0, 1L).otherwise(-1L).as("predicted"),
        when((col("m") > 0) === (col("y") > 0), 1L).otherwise(0L).as("correct"))
      .orderBy(col("score"), col("doc_id"))
      .limit(Q177BottomK)
  }

  /** q178: q177 THROUGH the persisted model artifact — the full
    * classifier lifecycle as an oracle-checked arm (the q161/q164
    * pattern applied to the trained weights): train (per-corpus memo) →
    * persist ([[graft.ml.PerceptronModel.writeModel]], stamp LAST) →
    * reload (validated) → score the held-out half with the LOADED
    * vector. The mirror is q177's — the artifact round-trip must be
    * provably invisible to the result.
    *
    * Idempotent persist with SELF-HEAL (the q161 discipline): a
    * stamp-valid artifact of the right size is loaded and trusted only
    * if its CONTENT equals the trained weights; never-stamped, torn
    * stamp (modelRows -1), load-time validation failure, or
    * same-size-different-weights all rewrite in place and reload, so
    * the query converges instead of failing until /tmp is hand-cleaned.
    *
    * Scale note: the artifact is B+1 longs regardless of corpus size —
    * persist/reload are metadata-cost next to the K training passes,
    * which is exactly why a production run ships the model rather than
    * retraining per consumer. */
  def q178PerceptronArtifact(s: SparkSession, dir: String): DataFrame = {
    import graft.ml.PerceptronModel
    val path = PerceptronModel.modelPathFor(s, dir)
    // HOT PATH (r16 verdict #1, the TertileBounds.acquire policy): a
    // stamped, structurally valid model at the corpus-signature-keyed
    // path scores WITHOUT retraining across JVMs; the retrain-and-
    // compare (the forged-producer defense) runs under
    // graft.artifact.audit=true.
    if (!s.conf.get("graft.artifact.audit", "false").toBoolean &&
        PerceptronModel.modelRows(s, path) > 0) {
      scala.util.Try(PerceptronModel.loadModel(s, path)).toOption match {
        case Some(loaded) => return applyModel(s, dir, loaded)
        case None => () // torn: heal through the train path
      }
    }
    val w = trainedWeights(s, dir)
    val existing =
      if (PerceptronModel.modelRows(s, path) == w.length)
        scala.util.Try(PerceptronModel.loadModel(s, path)).toOption
      else None
    val loaded = existing.filter(_.sameElements(w)).getOrElse {
      PerceptronModel.writeModel(s, w, path)
      PerceptronModel.loadModel(s, path)
    }
    require(loaded.sameElements(w),
      s"q178: freshly rewritten model at $path does not round-trip")
    applyModel(s, dir, loaded)
  }

  /** Mirror: identical to q177's — the artifact round-trip must be
    * invisible to the result. */
  def q178Sql: String = q177Sql

  // --- LM-score tertile bucketing (q179) ----------------------------------

  /** q179: PER-LANGUAGE PERPLEXITY TERTILES — the CCNet step between LM
    * scoring and mixing: bucket every scored document into head/middle/
    * tail by its corpus-LM score within its OWN language (a language's
    * score distribution is its own — bucketing globally would dump every
    * low-resource language into the tail). Higher score_fp = higher mean
    * bigram probability = LOWER perplexity, so `head` is the top tertile.
    *
    *   - doc scores: the exact q167 chain ([[ScaleOps22.mleDocScores]] —
    *     shared code, so the LM semantics cannot drift between the two);
    *   - boundaries per language: the 1/3 and 2/3 two-sided-interpolated
    *     percentiles over score_fp-as-double (the q34/q72/q76 shared
    *     definition — both engines' exact-percentile kernels);
    *   - bucket by STRICT comparison (the q72 law): score > b2 → head,
    *     score > b1 → middle, else tail — boundary-equal scores stay in
    *     the LOWER bucket, so a language with one distinct score is all
    *     tail (never a fabricated head);
    *   - rollup per (lang, bucket): doc count, score span, corpus share
    *     at 10⁻⁶ fixed point.
    *
    * Scale shape: q167's two token-sized co-partitioned shuffles, one
    * doc-sized co-partitioned lang join, one per-language exact
    * percentile agg (value-buffering — at true corpus scale run the
    * boundary pass on a profiling sample or approx_percentile, the
    * documented q72/q76 caveat; the exact arm is what the oracle mirrors
    * bit-for-bit), a ≤#langs-row broadcast back, one partial-agg rollup. */
  /** Routing bound for the tertile boundary pass: languages whose doc
    * count exceeds it take the HISTOGRAM arm (r13 verdict #2 — the exact
    * `percentile` aggregate buffers per-language (value, count) state,
    * the one surviving value-buffering aggregate on the surface).
    * Override per session via `graft.tertile.maxLangRows`. Both arms are
    * boundary-identical (differential spec), so a misroute can cost
    * time, never a different bucket. */
  private[graft] val TertileMaxLangRows = 4000000L

  /** Per-(corpus identity) memo of the routing measurement for the dir
    * arms (the q61/q127/q148 memo discipline). */
  private val langRowsMemo =
    scala.collection.concurrent.TrieMap[(String, String), Long]()

  /** Per-language rank-selection table over `(lang, v)` rows — the
    * shared kernel of the histogram boundary arm and q181: for the
    * two-sided 1/3 and 2/3 percentile positions pos_p = (n_l − 1)·p,
    * the EXACT values at the floor and ceil ranks, found from a
    * per-(lang, value) HISTOGRAM instead of a value-buffering aggregate.
    *
    * Output per language: (lang, nl, l1, r1, l2, r2, vl1, vh1, vl2,
    * vh2) with l_p = the integer floor rank ((n−1)·1 div 3 resp.
    * (2(n−1)) div 3 — pure integer arithmetic; for p ∈ {1/3, 2/3} the
    * double product (n−1)·p Spark's percentile floors sits ≥ a half-ulp
    * margin from the wrong integer, so the two agree everywhere int64
    * reaches — differentially spec-pinned against `percentile` itself),
    * r_p = the corresponding remainder mod 3 (r_p > 0 ⇔ interpolation
    * is needed), and v at rank k = the first histogram value whose
    * cumulative count exceeds k.
    *
    * Scale shape: one (lang, value) partial-agg groupBy — the exchange
    * carries the HISTOGRAM, bounded by distinct values per language
    * (≤ 10⁶ + 1 for the fixed-point LM score), never by docs — one
    * per-language window over histogram rows, one ≤#langs-group rollup.
    * No aggregation buffer ever holds more than a constant per group. */
  private[graft] def tertileRankSelect(wl: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = wl.groupBy(col("lang"), col("v")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("nl", sum(col("c")).over(wAll))
      .withColumn("l1", expr("(nl - 1) div 3"))
      .withColumn("r1", expr("(nl - 1) % 3"))
      .withColumn("l2", expr("(2 * (nl - 1)) div 3"))
      .withColumn("r2", expr("(2 * (nl - 1)) % 3"))
      .groupBy(col("lang"))
      .agg(max(col("nl")).as("nl"),
        max(col("l1")).as("l1"), max(col("r1")).as("r1"),
        max(col("l2")).as("l2"), max(col("r2")).as("r2"),
        min(when(col("cum") > col("l1"), col("v"))).as("vl1"),
        min(when(col("cum") > col("l1") + least(col("r1"), lit(1L)), col("v")))
          .as("vh1"),
        min(when(col("cum") > col("l2"), col("v"))).as("vl2"),
        min(when(col("cum") > col("l2") + least(col("r2"), lit(1L)), col("v")))
          .as("vh2"))
  }

  /** The EXACT boundary arm — Spark's two-sided interpolated
    * `percentile` per language: the oracle-mirrored form (DuckDB's
    * quantile_cont shares the interpolation), value-buffering per
    * language, which is why routing exists. `wl` carries (lang, sd). */
  private def tertileBoundsExact(wl: DataFrame): DataFrame =
    wl.groupBy(col("lang"))
      .agg(percentile(col("sd"), typedLit(Seq(1.0 / 3.0, 2.0 / 3.0))).as("bs"))
      .select(col("lang"), col("bs")(0).as("b1"), col("bs")(1).as("b2"))

  /** The SCALE boundary arm (r13 verdict #2): the same (b1, b2) doubles
    * from [[tertileRankSelect]]'s histogram, restated through EXACTLY
    * the double arithmetic Spark's `Percentile.getPercentile` runs —
    * position = (n−1 as double)·p, result = lowerValue when the two
    * rank values coincide (the early return that skips interpolation —
    * load-bearing for bit-equality: (1−g)·v + g·v can be an ulp off v),
    * else (ceilRank − position)·lowerValue + (position − floorRank)·
    * higherValue with the rank operands as integers promoted to double.
    * Differentially pinned bit-equal to [[tertileBoundsExact]], so the
    * route can never change a bucket. */
  private[graft] def tertileBoundsHistogram(wl: DataFrame): DataFrame = {
    def interp(vl: Column, vh: Column, l: Column, pos: Column): Column =
      when(vl === vh, vl.cast("double")).otherwise(
        (l.cast("double") + 1.0d - pos) * vl.cast("double")
          + (pos - l.cast("double")) * vh.cast("double"))
    val sel = tertileRankSelect(
      wl.select(col("lang"), col("score_fp").as("v")))
    val pos1 = (col("nl") - 1).cast("double") * lit(1.0 / 3.0)
    val pos2 = (col("nl") - 1).cast("double") * lit(2.0 / 3.0)
    sel.select(col("lang"),
      interp(col("vl1"), col("vh1"), col("l1"), pos1).as("b1"),
      interp(col("vl2"), col("vh2"), col("l2"), pos2).as("b2"))
  }

  /** Tertile assignment over ANY scored frame (r13 verdict #1 widened
    * this from the private dir-bound form so the composed pipeline can
    * reach it): `scored` carries (doc_id, lang, score_fp); returns
    * (doc_id, lang, score_fp, bucket) with the q179 strict-boundary
    * semantics. ROUTED on the caller-measured largest per-language row
    * count: exact `percentile` under [[TertileMaxLangRows]], the
    * histogram arm above it — both arms produce bit-identical
    * boundaries (differential spec), so routing is invisible to every
    * bucket. The measurement is an upper bound; callers may pass any
    * bound they already know (the q166 measured-routing contract). */
  def assignTertiles(scored: DataFrame, largestLangRows: Long): DataFrame = {
    // materialized once (localCheckpoint): the boundary aggregate and
    // the bucket join-back are separate consumers of `scored`, and each
    // re-ran the caller's whole scoring chain (tokenize, explode, score
    // join, per-doc rollup) against the lazy plan — measured as the
    // doubled scoring-stage signature in every tertile-mix profile.
    // Batch-only by contract (boundary COMPUTATION is a batch pass; the
    // streaming applier routes through bucketWithBounds directly).
    val sc = scored.localCheckpoint()
    bucketWithBounds(sc, tertileBounds(sc, largestLangRows))
  }

  /** The boundary TABLE of [[assignTertiles]] on its own — (lang, b1,
    * b2) doubles, routed between the exact and histogram arms exactly
    * as the fused form is (r14 verdict #4 widened this out: a STREAM
    * can apply boundaries statelessly per micro-batch, but only a batch
    * pass can compute them — so the table must be computable, and then
    * persistable ([[graft.ml.TertileBounds]]), on its own). */
  def tertileBounds(scored: DataFrame, largestLangRows: Long): DataFrame = {
    val wl = scored.select(col("lang"),
      col("score_fp").cast("double").as("sd"), col("score_fp"))
    val bound = wl.sparkSession.conf
      .getOption("graft.tertile.maxLangRows").map(_.toLong)
      .getOrElse(TertileMaxLangRows)
    if (largestLangRows <= bound) tertileBoundsExact(wl)
    else tertileBoundsHistogram(wl)
  }

  /** Bucket `scored` (doc_id, lang, score_fp) against a boundary table
    * (lang, b1, b2) — the q179 strict-comparison semantics, shared by
    * the fused batch pass and the streaming applier so the bucket rule
    * cannot drift between them. The join is INNER: a language absent
    * from the boundary table yields no rows here — the caller decides
    * what an unbounded language means (the streaming mix routes it to
    * the tail rate, the audit slice). ≤#langs boundary rows broadcast. */
  def bucketWithBounds(scored: DataFrame, bounds: DataFrame): DataFrame =
    scored.select(col("doc_id"), col("lang"),
        col("score_fp").cast("double").as("sd"), col("score_fp"))
      .join(broadcast(bounds), Seq("lang"))
      .withColumn("bucket",
        when(col("sd") > col("b2"), "head")
          .when(col("sd") > col("b1"), "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("score_fp"), col("bucket"))

  /** Per-document tertile assignment — (doc_id, lang, score_fp, bucket)
    * — shared by q179 (the distribution report) and q180 (the mixing
    * pass), so the bucket semantics cannot drift between them. The
    * routing bound is measured on the RAW documents table (scored docs
    * ⊆ docs per language, so the per-language doc count is a valid
    * upper bound that costs one cheap scan, not the scoring chain) and
    * memoized per corpus identity. */
  private def tertileAssignments(s: SparkSession, dir: String): DataFrame = {
    val scored = ScaleOps22.mleDocScores(s, dir)
    val langs = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
    val bound = langRowsMemo.getOrElseUpdate(
      (dir, Relational.corpusSignature(s, dir, "documents")),
      graft.pipeline.Packing.largestGroupRows(
        t(s, dir, "documents").select(col("lang")), "lang"))
    assignTertiles(scored.join(langs, Seq("doc_id")), bound)
  }

  def q179LmTertiles(s: SparkSession, dir: String): DataFrame = {
    val assigned = tertileAssignments(s, dir)
    val total = assigned.agg(count(lit(1)).as("tt"))
    assigned
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("score_fp")).as("min_score_fp"),
        max(col("score_fp")).as("max_score_fp"))
      .crossJoin(broadcast(total))
      // ×1e6 through DECIMAL(38) (the q171 discipline): n_docs·10⁶ passes
      // int64 at >9.2e12 docs — loud under ANSI, but the recurring class
      .withColumn("share_fp", expr(
        "CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000 div tt AS BIGINT)"))
      .select(col("lang"), col("bucket"), col("n_docs"),
        col("min_score_fp"), col("max_score_fp"), col("share_fp"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** Per-bucket keep rates for q180 — the CCNet disposition: keep the
    * head, sample the middle, keep a thin audit slice of the tail. */
  val Q180HeadRate = 1.0
  val Q180MiddleRate = 0.5
  val Q180TailRate = 0.1

  /** q180: MIX BY TERTILE — the step after q179's report: apply
    * deterministic per-bucket keep rates through the portable-hash
    * sampler ([[graft.pipeline.Packing.mixKeep]]: keep iff
    * splitBucket(doc_id) < FLOOR(rate·2³²) — floor, not round, and the
    * SQL mirror restates the same floored constants), then roll up per
    * (lang, bucket): docs seen, docs kept, kept share at 10⁻⁶ fixed
    * point. Completes the CCNet loop (score → bucket → mix) as one
    * oracle-checked composition; the same kept set lands on any engine,
    * any partitioning, any run — and because the sampler nests
    * (rate₁ ≤ rate₂ ⇒ keep₁ ⊆ keep₂), tightening a bucket's rate only
    * ever REMOVES documents.
    *
    * Scale shape: q179's chain + one pure-map keep flag + one
    * partial-agg rollup on ≤ langs×3 groups — the mixing decision never
    * adds an exchange. */
  def q180TertileMix(s: SparkSession, dir: String): DataFrame = {
    val rate = when(col("bucket") === "head", Q180HeadRate)
      .when(col("bucket") === "middle", Q180MiddleRate)
      .otherwise(Q180TailRate)
    tertileAssignments(s, dir)
      .withColumn("keep",
        graft.pipeline.Packing.mixKeep(col("doc_id"), rate))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"))
      // same DECIMAL(38) route as q179's share_fp: n_kept ≤ n_docs, so
      // the ×1e6 product overflows int64 at exactly the same scale
      .withColumn("kept_share_fp",
        expr("CAST(CAST(n_kept AS DECIMAL(38,0)) * 1000000 div n_docs AS BIGINT)"))
      .select(col("lang"), col("bucket"), col("n_docs"), col("n_kept"),
        col("kept_share_fp"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** The shared mirror chain ending in `bucketed(doc_id, lang, bucket,
    * score_fp)` — the SQL twin of [[tertileAssignments]]. */
  private val tertileCtes: String =
    raw"""${ScaleOps22.mleScoreCtes}, wl AS (
      |  SELECT sc.doc_id, d.lang, CAST(sc.score_fp AS DOUBLE) AS sd, sc.score_fp
      |  FROM scored sc JOIN (
      |    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents) d
      |  ON sc.doc_id = d.doc_id
      |), bounds AS (
      |  SELECT lang, quantile_cont(sd, 1.0/3.0) AS b1,
      |    quantile_cont(sd, 2.0/3.0) AS b2
      |  FROM wl GROUP BY lang
      |), bucketed AS (
      |  SELECT wl.doc_id, wl.lang,
      |    CASE WHEN sd > b2 THEN 'head'
      |         WHEN sd > b1 THEN 'middle' ELSE 'tail' END AS bucket,
      |    score_fp
      |  FROM wl JOIN bounds ON wl.lang = bounds.lang
      |)""".stripMargin

  /** Mirror: the shared q167 scoring CTEs + quantile_cont boundaries
    * (DuckDB's exact percentile shares the two-sided interpolation) and
    * the same strict bucket comparison. */
  val q179Sql: String =
    raw"""WITH $tertileCtes, total AS (
      |  SELECT COUNT(*) AS tt FROM bucketed
      |)
      |SELECT lang, bucket, COUNT(*) AS n_docs,
      |  MIN(score_fp) AS min_score_fp, MAX(score_fp) AS max_score_fp,
      |  CAST(CAST(COUNT(*) AS HUGEINT) * 1000000 // (SELECT tt FROM total) AS BIGINT) AS share_fp
      |FROM bucketed GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin

  /** Mirror: the shared bucket chain + the q51 portable-hash restatement
    * (the q63 mirror's arithmetic) against the same FLOORED rate
    * constants Spark's mixKeep computes. */
  val q180Sql: String = {
    def floorRate(r: Double): Long = (r * 4294967296.0).toLong
    raw"""WITH $tertileCtes, kept AS (
      |  SELECT lang, bucket,
      |    CASE WHEN (((((doc_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536
      |               + ((doc_id % 4294967296) % 65536) * 2654435761) % 4294967296
      |         < CASE bucket WHEN 'head' THEN ${floorRate(Q180HeadRate)}
      |                       WHEN 'middle' THEN ${floorRate(Q180MiddleRate)}
      |                       ELSE ${floorRate(Q180TailRate)} END
      |         THEN 1 ELSE 0 END AS keep
      |  FROM bucketed
      |)
      |SELECT lang, bucket, COUNT(*) AS n_docs,
      |  CAST(SUM(keep) AS BIGINT) AS n_kept,
      |  CAST(CAST(SUM(keep) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT) AS kept_share_fp
      |FROM kept GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin
  }

  // --- DuckDB mirrors ---------------------------------------------------
  //
  // The epoch loop unrolls into K chained CTE triples (m_e, d_e, w_e) —
  // standard SQL forbids aggregating over a recursive reference, so the
  // K-bounded unroll IS the portable restatement of the bounded driver
  // loop. Margins ride HUGEINT (the DECIMAL(38) twin); weights land as
  // BIGINT with the same loud-overflow cast.

  private val mirrorFnv =
    """list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        [ord(substr(tk, i, 1))::HUGEINT FOR i IN range(1, length(tk) + 1)]),
      |      (acc, b) -> (xor(acc, b) * 1099511628211) % 18446744073709551616::HUGEINT)""".stripMargin

  /** Shared prologue: feature table + w0, then Q176Epochs unrolled. */
  private def mirrorChain: String = {
    val prologue =
      raw"""WITH toksall AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CASE WHEN lang = 'en' THEN 1::BIGINT ELSE -1::BIGINT END AS y,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                s -> length(s) >= 1) AS ts
        |  FROM documents
        |), nz AS (
        |  SELECT * FROM toksall WHERE len(ts) >= 1
        |), tokh AS (
        |  SELECT doc_id, y, unnest([$mirrorFnv FOR tk IN ts]) AS h FROM nz
        |), feat AS (
        |  SELECT doc_id, y, CAST(h % ${Q176Buckets} AS BIGINT) AS bucket,
        |    COUNT(*)::BIGINT AS x
        |  FROM tokh GROUP BY doc_id, y, bucket
        |  UNION ALL
        |  SELECT doc_id, y, ${Q176Buckets}::BIGINT, 1::BIGINT FROM nz
        |), tr AS (
        |  SELECT * FROM feat WHERE doc_id % 2 = 0
        |), w0 AS (
        |  SELECT CAST(b AS BIGINT) AS bucket, 0::HUGEINT AS w
        |  FROM range(${Q176Buckets + 1}) s(b)
        |)""".stripMargin
    val epochs = (1 to Q176Epochs).map { e =>
      raw""", m$e AS (
        |  SELECT f.doc_id, f.y, SUM(f.x::HUGEINT * w.w) AS m
        |  FROM tr f JOIN w${e - 1} w USING (bucket) GROUP BY f.doc_id, f.y
        |), d$e AS (
        |  SELECT f.bucket, SUM(f.y * f.x)::HUGEINT AS d
        |  FROM tr f JOIN m$e m USING (doc_id) WHERE m.y * m.m <= 0
        |  GROUP BY f.bucket
        |), w$e AS (
        |  SELECT w.bucket, w.w + COALESCE(d.d, 0::HUGEINT) AS w
        |  FROM w${e - 1} w LEFT JOIN d$e d USING (bucket)
        |)""".stripMargin
    }.mkString
    prologue + epochs
  }

  val q176Sql: String =
    raw"""$mirrorChain
      |SELECT bucket, CAST(w AS BIGINT) AS weight
      |FROM w${Q176Epochs} ORDER BY bucket""".stripMargin

  val q177Sql: String =
    raw"""$mirrorChain, ap AS (
      |  SELECT * FROM feat WHERE doc_id % 2 = 1
      |), sc AS (
      |  SELECT f.doc_id, f.y, SUM(f.x::HUGEINT * w.w) AS m
      |  FROM ap f JOIN w${Q176Epochs} w USING (bucket) GROUP BY f.doc_id, f.y
      |)
      |SELECT doc_id,
      |  CAST(m AS BIGINT) AS score,
      |  y,
      |  CASE WHEN m > 0 THEN 1::BIGINT ELSE -1::BIGINT END AS predicted,
      |  CASE WHEN (m > 0) = (y > 0) THEN 1::BIGINT ELSE 0::BIGINT END AS correct
      |FROM sc ORDER BY score, doc_id LIMIT ${Q177BottomK}""".stripMargin
}
