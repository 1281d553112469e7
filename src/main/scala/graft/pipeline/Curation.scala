package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.TextAnalysis

/** The end-to-end training-data curation pipeline: exact dedup → quality
  * scoring → language gate → token accounting, composed as ONE Catalyst
  * plan (the consumer-facing face of the scale layer — what a 100 TB
  * pretraining-data run would execute per snapshot).
  *
  * Every stage is a column expression or hash-groupBy from the operator
  * library, so the whole pipeline is two shuffles end-to-end: the dedup
  * hash-groupBy and the final stats aggregation (when requested). */
object Curation {

  /** Repetition gates (maxDupTokenFrac / maxTopBigramFrac — the
    * Gopher-style filters, q57) default to pass-everything so the
    * historical pipeline shape (q36 oracle) is unchanged; tighten them to
    * drop boilerplate/template-spam documents. topBigramFrac counts
    * overlapping bigrams so its range is [0, 2).
    *
    * `nearDupThreshold` (off by default, same oracle-stability rationale)
    * adds a shingle-Jaccard near-dup stage after exact dedup; when on it
    * ALWAYS routes through the df-capped candidate generation
    * ([[Dedup.nearDupPairs]], cap `nearDupMaxDf`) — the uncapped exact
    * join is an oracle/verification tool, never a production default,
    * because one boilerplate shingle shared by a large fraction of the
    * corpus makes its pair space quadratic in corpus size. */
  final case class Params(
      minQuality: Double = 0.5,
      minTokens: Long = 10,
      maxTokens: Long = 100000,
      keepLangs: Seq[String] = Seq("en", "es", "de", "fr"),
      maxDupTokenFrac: Double = 1.0,
      maxTopBigramFrac: Double = 2.0,
      nearDupThreshold: Option[Double] = None,
      nearDupMaxDf: Int = Dedup.DefaultNearDupMaxDf)

  object Params {
    /** The preset a production pretraining-data run should start from:
      * everything the defaults do PLUS near-duplicate removal at Jaccard
      * ≥ 0.8 through the df-capped candidate path, and the Gopher-style
      * repetition gates actually switched on. The gate thresholds are set
      * just above the p99 of natural text measured at TOKEN level (dup
      * tokens p99 ≈ 0.71 — stopword repetition makes token-level stats
      * run far higher than Gopher's line-level numbers; top-bigram p99 ≈
      * 0.21), while template spam sits at ≈0.98 / ≈1.9 — an order of
      * separation. The bare `Params()` default keeps near-dup OFF only
      * for oracle stability of the historical q36 plan — a real pipeline
      * composing [[Curation.curate]] wants this preset. */
    val production: Params = Params(
      nearDupThreshold = Some(0.8),
      maxDupTokenFrac = 0.8,
      maxTopBigramFrac = 0.3)
  }

  /** Curated corpus: one row per surviving document with its metrics. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      params: Params = Params()): DataFrame = {
    val exactDeduped = Dedup.exactDedup(docs, idCol, textCol)
    // near-dup removal (keep the lower id of each flagged pair) — runs
    // BEFORE profiling so the gated metrics aren't computed for documents
    // the near-dup stage drops. Pair-greedy drop (not transitive): keeps
    // the plan LAZY (a single Catalyst plan, the curate() contract). For
    // cluster-exact dedup — one survivor per connected component — use
    // Dedup.clusterPairs (q60), which iterates with its own actions.
    val deduped = params.nearDupThreshold match {
      case None => exactDeduped
      case Some(th) =>
        val drops = Dedup.nearDupPairs(exactDeduped, idCol, textCol,
            k = 3, threshold = th, maxDf = params.nearDupMaxDf)
          .select(col("doc_b").as(idCol)).distinct()
        exactDeduped.join(drops, Seq(idCol), "left_anti")
    }
    profileAndGate(deduped, idCol, textCol, params)
  }

  /** Precomputed-pairs variant of [[curate]] — the reuse API for a
    * composed pipeline that needs the SAME near-dup pair graph more than
    * once (curation drop here, cluster-keyed split later): pass the
    * [[Dedup.nearDupPairs]] output (its `jaccard` column is required)
    * computed ONCE at the lowest threshold any consumer needs, and this
    * stage filters it to `params.nearDupThreshold` instead of re-running
    * the shingle self-join. Pairs are restricted to the exact-dedup
    * survivors on BOTH endpoints first, which reproduces the
    * pairs-over-survivors graph exactly: an exact-dup copy's pairs are
    * mirrored by its kept twin (identical text ⇒ identical shingle set ⇒
    * identical jaccard), so dropping the non-surviving endpoints loses
    * nothing. The ONE semantic delta vs [[curate]] is the df-cap corpus:
    * `maxDf` eligibility inside the supplied graph was decided on the
    * corpus the CALLER ran nearDupPairs over, not on this stage's exact-
    * deduped survivors — a shingle over-cap there but under-cap here
    * contributes no candidates (recall-only loss, boilerplate shingles
    * only; the same lower-bound contract as [[Dedup.jaccardPairsCapped]]).
    * With `nearDupThreshold` unset the pairs are ignored entirely. */
  def curateWithPairs(docs: DataFrame, idCol: String, textCol: String,
      params: Params, pairs: DataFrame): DataFrame =
    curateExactWithPairs(Dedup.exactDedup(docs, idCol, textCol),
      idCol, textCol, params, pairs)

  /** [[curateWithPairs]] over an ALREADY exact-deduped corpus — the
    * pipeline runner computes exactDedup once (it also feeds the shared
    * pair-graph build) and must not pay the md5 groupBy twice. */
  private[pipeline] def curateExactWithPairs(exactDeduped: DataFrame,
      idCol: String, textCol: String, params: Params,
      pairs: DataFrame): DataFrame = {
    val deduped = params.nearDupThreshold match {
      case None => exactDeduped
      case Some(th) =>
        val drops = Dedup.restrictPairs(
            pairs, exactDeduped.select(col(idCol)), idCol, th)
          .select(col("doc_b").as(idCol)).distinct()
        exactDeduped.join(drops, Seq(idCol), "left_anti")
    }
    profileAndGate(deduped, idCol, textCol, params)
  }

  /** Shared back half of [[curate]]/[[curateWithPairs]]: per-document
    * profiling kernels + the quality/length/lang/repetition gates. */
  private def profileAndGate(deduped: DataFrame, idCol: String,
      textCol: String, params: Params): DataFrame = {
    val profiled = graft.ops.Relational.fanOut(deduped)
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      // both repetition gates from ONE kernel pass (RepetitionStats) —
      // value-identical to the split form, one fewer walk per document
      .withColumn("__rep", TextAnalysis.repetitionStatsOf(col("__toks")))
      .select(
        col(idCol), col(textCol),
        TextAnalysis.tokenCountOf(col("__toks")).cast("long").as("n_tokens"),
        TextAnalysis.qualityScoreOf(col(textCol), col("__toks")).as("quality"),
        TextAnalysis.langIdOf(col("__toks")).as("lang_pred"),
        TextAnalysis.dupTokenFracFrom(col("__rep"), col("__toks")).as("dup_token_frac"),
        TextAnalysis.topBigramFracFrom(col("__rep"), col("__toks")).as("top_bigram_frac"))
    profiled
      .filter(col("quality") >= params.minQuality)
      .filter(col("n_tokens") >= params.minTokens && col("n_tokens") <= params.maxTokens)
      .filter(col("lang_pred").isin(params.keepLangs: _*))
      .filter(col("dup_token_frac") <= params.maxDupTokenFrac)
      .filter(col("top_bigram_frac") <= params.maxTopBigramFrac)
  }

  /** Multimodal gate thresholds (the r10 verdict's "wire the media
    * quality signals into curation"): decode-failure and content-quality
    * gates over OPTIONAL binary media columns. A document whose media
    * column is NULL is text-only and passes every media gate — the gates
    * judge media that is present, they do not require media. */
  final case class MediaParams(
      /** Drop documents whose image payload fails to decode (unknown
        * magic, truncated stream, bad CRC — [[graft.multimodal.ImageDecode]]'s
        * NULL degradation turned into a gate). */
      requireImageDecode: Boolean = true,
      /** Minimum decoded pixel count (degenerate/thumbnail filter). */
      minPixels: Long = 1L,
      /** Drop documents whose audio payload fails to parse as WAV. */
      requireAudioDecode: Boolean = true,
      /** Maximum silent-sample fraction (dead-air filter; q159's
        * |s| < 1 % full-scale silence law via
        * [[graft.multimodal.WavAnalyze]]). */
      maxSilenceRatio: Double = 0.95,
      /** Minimum RMS energy (all-but-flatline filter). */
      minRms: Double = 0.0)

  /** Multimodal quality gates — one stateless codegen projection per
    * media column (decode + analyze + filter fused; the raster never
    * materializes), composable before [[curate]] exactly like the text
    * gates. Emits the media metrics it gated on (`img_format`,
    * `img_pixels`, `audio_silence_ratio`, `audio_rms` — NULL for absent
    * or undecodable media) alongside every input column, so a pipeline
    * ledger can attribute drops and downstream stages can re-use the
    * metrics without re-decoding. */
  def mediaGate(docs: DataFrame, imageCol: Option[String],
      audioCol: Option[String],
      mp: MediaParams = MediaParams()): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    var out = docs
    imageCol.foreach { ic =>
      out = out
        .withColumn("__img",
          column(graft.multimodal.ImageDecode(expression(col(ic)))))
        .withColumn("img_format", col("__img.format"))
        .withColumn("img_pixels", col("__img.n_pixels"))
        .drop("__img")
        .filter(col(ic).isNull || (
          (if (mp.requireImageDecode) col("img_format").isNotNull else lit(true)) &&
            coalesce(col("img_pixels") >= mp.minPixels,
              lit(!mp.requireImageDecode))))
    }
    audioCol.foreach { ac =>
      out = out
        .withColumn("__aud",
          column(graft.multimodal.WavAnalyze(expression(col(ac)))))
        .withColumn("audio_silence_ratio", col("__aud.silence_ratio"))
        .withColumn("audio_rms", col("__aud.rms"))
        .drop("__aud")
        .filter(col(ac).isNull || (
          (if (mp.requireAudioDecode) col("audio_rms").isNotNull else lit(true)) &&
            coalesce(col("audio_silence_ratio") <= mp.maxSilenceRatio &&
              col("audio_rms") >= mp.minRms,
              lit(!mp.requireAudioDecode))))
    }
    out
  }

  /** Cluster-exact curation variant: resolves near-duplicates with
    * [[Dedup.canonicalKeep]] — one survivor per CONNECTED COMPONENT,
    * chosen by (quality DESC, length DESC, id ASC) — before the
    * quality/lang/repetition gates, instead of [[curate]]'s pair-greedy
    * keep-lower-id drop. Differences a production run cares about:
    * transitive closure (a chain A~B~C keeps ONE doc, where pair-greedy
    * keeps A and can keep C), and the survivor is the cluster's BEST
    * document, not its lowest id. The trade: canonicalKeep's connected
    * components iterate with their own actions, so this is not the
    * single-lazy-Catalyst-plan contract curate() keeps — use curate()
    * when plan laziness matters, this when dedup quality does. */
  def curateCanonical(docs: DataFrame, idCol: String, textCol: String,
      params: Params = Params.production): DataFrame = {
    val keepers = Dedup.canonicalKeep(docs, idCol, textCol,
        k = 3, threshold = params.nearDupThreshold.getOrElse(0.8),
        maxDf = params.nearDupMaxDf)
      .filter(col("keep")).select(col(idCol))
    // exact dups collapse inside canonicalKeep too (identical text =>
    // jaccard 1.0 pairs), so the downstream near-dup stage is disabled
    curate(docs.join(keepers, Seq(idCol)), idCol, textCol,
      params.copy(nearDupThreshold = None))
  }

  /** Aggregate curation report per predicted language. */
  def report(curated: DataFrame): DataFrame =
    curated.groupBy(col("lang_pred"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("quality")).as("min_quality"),
        max(col("quality")).as("max_quality"))
      .orderBy(col("lang_pred"))
}
