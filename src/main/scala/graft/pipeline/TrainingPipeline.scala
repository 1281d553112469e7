package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.ops.Relational3

/** The one-call training-data pipeline a real user runs per corpus
  * snapshot: curation → decontamination → mixing → leakage-safe split →
  * packing, with a ledger row per stage. Every stage is an operator this
  * engine already oracle-verifies individually (q36/q58/q62/q63/q61) —
  * this is the composed entry point.
  *
  * Stage order note vs the obvious listing: the SPLIT runs before PACKING
  * because a pack is a training context window — a pack straddling the
  * train/test boundary would leak test documents into training batches,
  * exactly the failure the cluster-keyed split exists to prevent. Packs
  * are therefore laid out within (split, source) groups.
  *
  * Scale/storage shape: each stage materializes via an eager checkpoint
  * (plan-lineage truncation — the stages after the pair graph would
  * otherwise replan the whole upstream DAG per action), counts land in
  * the ledger, and each superseded stage's storage is freed as soon as
  * its successor is materialized ([[Dedup.clusterPairs]]' discipline),
  * so peak storage is two adjacent stages, not the whole chain. On a
  * real cluster each stage boundary is where you'd write to the lake
  * instead; `reliableCheckpoints` switches the split's CC iteration to
  * stable storage for executor-loss survival. */
object TrainingPipeline {

  /** Smoothing family for the `lm_mix` stage's reference-model scorers
    * — see [[Config.lmSmoothing]]. */
  sealed trait LmSmoothing
  object LmSmoothing {
    /** Add-k at k = 10⁻⁶ fixed point — q183's arithmetic
      * ([[graft.ops.ScaleOps27.scoreDocsWithLm]]). */
    case object AddK extends LmSmoothing
    /** Interpolated Kneser–Ney at d = ¾ in exact ×4 integers — q186/
      * q187's arithmetic ([[graft.ops.ScaleOps28.scoreDocsWithLmKn]]). */
    case object KneserNey extends LmSmoothing
  }

  /** Per-document collapse of the bigram probabilities — see
    * [[Config.lmScoreDomain]]. */
  sealed trait LmScoreDomain
  object LmScoreDomain {
    /** Arithmetic mean of the probabilities (q183's `score_fp`) — the
      * historical default. */
    case object Arithmetic extends LmScoreDomain
    /** Geometric mean via the exact fixed-point log₂ kernel (q190's
      * `plx_fp`, negated so head = lowest perplexity) — how CCNet
      * actually ranks. The pinned ablation (LmAblationSpec): the two
      * domains agree to rho ≈ 0.95 but ~16% of documents change
      * tertile, which is why this is a real choice, not a nicety. */
    case object LogPerplexity extends LmScoreDomain
  }

  /** The ranking-semantics identity a (smoothing, reference, domain)
    * scorer stamps into / demands from a boundary artifact
    * ([[graft.ml.TertileBounds]]), e.g. "addk:ref=en:arith". ONE
    * derivation for every producer and consumer (r15 verdict #2 /
    * advice): the smoothing and domain components come from the KERNEL
    * choice, never from a free-form caller string — only the
    * reference-identity middle (`refId`, e.g. "ref=en" or a model-path
    * label) is caller-stated, because the tag deliberately does not
    * pin model content (retrained-model rotation under the same
    * semantics is CCNet's own design). A consumer that derives its tag
    * here CANNOT vouch one ranking's scores past another ranking's
    * boundaries. */
  def scorerTag(smoothing: LmSmoothing, refId: String,
      domain: LmScoreDomain): String = {
    val sm = smoothing match {
      case LmSmoothing.AddK => "addk"
      case LmSmoothing.KneserNey => "kn"
    }
    val dm = domain match {
      case LmScoreDomain.Arithmetic => "arith"
      case LmScoreDomain.LogPerplexity => "log2"
    }
    s"$sm:$refId:$dm"
  }

  final case class Config(
      curation: Curation.Params = Curation.Params.production,
      decontShingleK: Int = 3,
      decontThreshold: Double = 0.8,
      /** per-source keep rate; sources not listed keep `defaultMixRate`. */
      mixRates: Map[String, Double] = Map.empty,
      defaultMixRate: Double = 1.0,
      /** near-dup threshold for the split's cluster graph. */
      splitThreshold: Double = 0.5,
      /** df cap for the split's cluster graph (the per-stage path's
        * explicit cap — it was always [[Dedup.DefaultNearDupMaxDf]]
        * implicitly; surfaced so the shared-graph mode can require the
        * two consumers agree instead of silently imposing one stage's
        * cap on the other). */
      splitMaxDf: Int = Dedup.DefaultNearDupMaxDf,
      ctxTokens: Long = 2048L,
      /** Pack context windows by EXACT trained-BPE token counts (the
        * tokens the model will see — q162's semantics) instead of the
        * whitespace tokenizer: trains a tokenizer on the post-split
        * corpus through [[graft.text.Bpe.train]] — the batched trainer
        * (16 merges per driver round; the oracle arm q150 stays
        * sequential) — then
        * packs on [[graft.text.Bpe.bpeTokenCounts]]. Adds a
        * `tokenizer_train` ledger stage. Off by default: the whitespace
        * path is the historical q61-mirrored shape. */
      packByBpe: Boolean = false,
      /** Merge count for `packByBpe`'s tokenizer. */
      bpeMerges: Int = 64,
      /** Optional binary image/audio columns to gate on
        * ([[Curation.mediaGate]]) — when either is set, a `media_gates`
        * stage runs FIRST (dropping undecodable / dead-air media before
        * any expensive dedup work), with its own ledger row. Documents
        * with NULL media columns are text-only and pass. */
      imageCol: Option[String] = None,
      audioCol: Option[String] = None,
      media: Curation.MediaParams = Curation.MediaParams(),
      /** Optional LEARNED quality gate (the q176 batch perceptron) after
        * curation: train on the doc_id-even half of the curated corpus
        * with the en-vs-rest weak label from the PREDICTED language
        * (`lang_pred` — the CCNet pattern: a cheap heuristic supplies
        * weak labels, the linear model smooths and generalizes it),
        * score EVERY curated doc, and drop those with score ≤
        * [[Config.learnedGateMinScore]]. Docs the tokenizer leaves
        * featureless score 0 (a model cannot vouch for a doc it has no
        * evidence about). Exact integer scores — the gate decision is
        * engine/partitioning/run-reproducible like every other stage
        * predicate. Adds a `learned_gate` ledger stage. Off by default. */
      learnedGate: Boolean = false,
      learnedGateMinScore: Long = 0L,
      /** Optional CCNet LM-TERTILE MIX (r13 verdict #1 — the composed
        * score → bucket → mix loop as a pipeline stage; until now the
        * pieces were only reachable as the q179/q180 oracle arms):
        * after the learned gate and before decontamination, score the
        * surviving corpus with the shared corpus-LM chain
        * ([[graft.ops.ScaleOps22.mleDocScoresOf]] — the exact q167
        * fixed-point semantics, the corpus itself as training text),
        * bucket each document into head/middle/tail within its
        * PREDICTED language ([[graft.ops.ScaleOps25.assignTertiles]] —
        * the routed boundary pass: exact percentile under the measured
        * per-language bound, the histogram arm above it, boundary-
        * identical either way), and keep each bucket at its
        * (head, middle, tail) rate through the portable-hash sampler
        * ([[Packing.mixKeep]] — the q180 disposition: FLOOR(rate·2³²),
        * so the same documents survive on any engine, any partitioning,
        * any run, and tightening a rate only ever REMOVES documents).
        * Documents the scorer cannot score (fewer than two non-empty
        * tokens — no bigram evidence) take the TAIL rate: the audit
        * slice is where evidence-free documents belong, the learned
        * gate's "a model cannot vouch for a doc it has no evidence
        * about" applied to the LM. Adds an `lm_mix` ledger stage.
        * Runs BEFORE the expensive shingle machinery for the same
        * reason the learned gate does. */
      lmTertileMix: Option[(Double, Double, Double)] = None,
      /** Scorer for the `lm_mix` stage: None (default) scores with the
        * corpus as its own MLE LM (the q167/q179 semantics — no
        * external dependency, the bootstrap form); Some(lang) trains an
        * add-k bigram LM on the gated corpus's documents whose
        * PREDICTED language equals `lang` and scores everyone with it —
        * the honest CCNet shape (q183: the reference slice stands in
        * for the wiki LM, out-of-domain text pays real OOV penalties).
        * A reference language with no tokens in the gated corpus fails
        * LOUDLY (a mix keyed to a model that does not exist is a config
        * error, not an empty stage). Ignored unless [[lmTertileMix]] is
        * set. */
      lmRefLang: Option[String] = None,
      /** Score the `lm_mix` stage against a PERSISTED bigram-LM
        * artifact ([[graft.ml.BigramLm]] — a reference model trained by
        * an earlier run or on another corpus entirely, the q184
        * lifecycle's whole point: ship the model, not the reference
        * scan). Takes precedence over [[lmRefLang]]. The load is
        * VALIDATED — a torn or tampered artifact fails the stage
        * LOUDLY, never scores with garbage. Ignored unless
        * [[lmTertileMix]] is set. */
      lmArtifactPath: Option[String] = None,
      /** Smoothing family for the `lm_mix` reference-model scorers
        * (r14 verdict #1 — until r15 the KN kernel was oracle-green as
        * q186 but unreachable from the stage): [[LmSmoothing.AddK]]
        * (default — the q183 arithmetic) or [[LmSmoothing.KneserNey]]
        * (the q186/q187 ×4-integer interpolated-KN kernel,
        * [[graft.ops.ScaleOps28.scoreDocsWithLmKn]]). Applies to BOTH
        * [[lmRefLang]] and [[lmArtifactPath]] scorers — the artifact
        * needs no extra metadata because KN's T (distinct bigram types)
        * is exactly its `_rows` stamp. A KN request with NEITHER
        * reference scorer configured fails LOUDLY: the corpus-as-own-LM
        * MLE bootstrap has no discount machinery, and silently falling
        * back to it would mix under a different ranking than the one
        * asked for. Ignored unless [[lmTertileMix]] is set. */
      lmSmoothing: LmSmoothing = LmSmoothing.AddK,
      /** Ranking domain for the `lm_mix` reference scorers (r15 — the
        * material half of the ablation finding): Arithmetic (default —
        * q183's mean of probabilities) or LogPerplexity (q190's exact
        * fixed-point log₂ geometric mean, the CCNet ranking; scores
        * ride negated so head = lowest perplexity through the same
        * strict tertile rule). Valid only with [[LmSmoothing.AddK]] and
        * a reference scorer: the KN kernel's per-term floors have no
        * log-domain twin, and the MLE bootstrap has zero-probability
        * bigrams log cannot represent — both fail LOUDLY rather than
        * silently ranking in a different domain than asked.
        *
        * WHY Arithmetic stays the default (r15 verdict #4 — decided,
        * not deferred): the default `lm_mix` scorer is the MLE
        * bootstrap (`lmRefLang`/`lmArtifactPath` both unset), and the
        * log domain is UNDEFINED there — zero-probability bigrams have
        * no logarithm — so a LogPerplexity default would make the
        * stage's own default configuration fail its loud-refusal
        * guard. A default must compose with the other defaults.
        * LogPerplexity also covers only one of the three smoothing/
        * scorer families; Arithmetic is total. The CCNet-fidelity
        * recommendation stands at essentially zero cost since r17 —
        * the log₂ chain is one codegen'd long loop
        * ([[graft.functions.NegLog2Fp]]), zero extra exchanges
        * (plan-pinned), scoring-stage cost ≈ parity with the
        * arithmetic collapse (warm ~0.9× on the densified stress
        * corpus; the r16 era's 2.5–4.4× band was the DECIMAL(38,0)
        * projection tower, and the r15 "free at scale" ratio before it
        * was a count()-pruned measurement artifact). A
        * user configuring a REFERENCE scorer for CCNet semantics
        * should set LogPerplexity explicitly — that pairing is
        * oracle-checked end-to-end as q191/q192, and the E2E default-
        * behavior spec pins that the default ranking is Arithmetic. */
      lmScoreDomain: LmScoreDomain = LmScoreDomain.Arithmetic,
      /** Persist the `lm_mix` stage's per-language tertile boundaries
        * as the stamped boundary artifact at this path
        * ([[graft.ml.TertileBounds.writeBounds]]) — the PRODUCER half
        * of the batch→stream hand-off (r16 verdict #4): a
        * [[graft.streaming.Streaming.lmMixStream]] configured with the
        * same (smoothing, domain, refId) consumes these boundaries
        * directly, so the whole q188/q192 lifecycle is drivable from
        * config alone. The `_scorer` tag is DERIVED via [[scorerTag]]
        * from the stage's own kernel choice plus [[lmBoundsRefId]] —
        * no caller literal to drift. The stage then BUCKETS WITH THE
        * LOADED artifact (validated round-trip), so the persisted table
        * provably is the one the batch mixed with. Requires a reference
        * scorer ([[lmRefLang]] or [[lmArtifactPath]]): the MLE
        * bootstrap's corpus-as-own-LM boundaries are meaningless to
        * ship. Skipped (nothing persisted, loud in the ledger via a
        * 0-row `lm_bounds` stage) when the corpus has no scorable
        * documents. Ignored unless [[lmTertileMix]] is set. */
      lmBoundsArtifactPath: Option[String] = None,
      /** Model-identity component of the persisted boundaries' scorer
        * tag — the ONE caller-stated piece ([[scorerTag]]'s refId;
        * content is deliberately unpinned: retrained-model rotation
        * under the same semantics is CCNet's own design). Defaults to
        * "ref=<lmRefLang>" when [[lmRefLang]] is set; REQUIRED with
        * [[lmArtifactPath]] (the pipeline cannot invent a portable
        * identity for an arbitrary artifact path — the stream consumer
        * on another machine must be able to state the same refId). */
      lmBoundsRefId: Option[String] = None,
      reliableCheckpoints: Boolean = false,
      /** Build the near-dup PAIR GRAPH once and share it between the
        * curation drop and the split's cluster formation, instead of
        * running the shingle self-join per stage (the graph is the
        * expensive 70% of both). The one graph is computed over the
        * exact-deduped input at min(curation threshold, splitThreshold)
        * and each consumer filters to its own threshold and restricts to
        * its own corpus — exact per-pair semantics (jaccard is
        * pair-local), with ONE documented delta: df-cap eligibility is
        * decided on the exact-deduped input, not per-stage survivors, so
        * a boilerplate shingle over-cap globally but under-cap among a
        * later stage's survivors contributes no candidates there
        * (recall-only, boilerplate-only — [[graft.dedup.Dedup.jaccardPairsCapped]]'s
        * lower-bound contract). Because the ONE graph carries ONE df cap,
        * sharing is only in effect when `splitMaxDf ==
        * curation.nearDupMaxDf` (the default) — with differing caps the
        * runner silently falls back to per-stage derivation so neither
        * stage's cap semantics change underneath it. Set false to always
        * re-derive per stage. */
      reusePairGraph: Boolean = true)

  final case class StageCount(stage: String, rowsIn: Long, rowsOut: Long)

  final case class Result(packed: DataFrame, stages: Seq[StageCount], runId: String) {
    /** Release the block storage backing the returned (checkpointed)
      * result once it has been consumed/written. */
    def free(): Unit = packed.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** Run the full chain over `docs` (id, text, source columns), optionally
    * decontaminating against `test`. Returns the packed corpus — one row
    * per surviving document with curation metrics, split, and pack_id —
    * plus per-stage counts (also written to the job-statistics ledger
    * under one pipeline run id). */
  def curateToTraining(spark: SparkSession, docs: DataFrame,
      test: Option[DataFrame] = None,
      idCol: String = "doc_id", textCol: String = "text",
      sourceCol: String = "source",
      cfg: Config = Config(), ledger: Boolean = true): Result = {
    val runId = java.util.UUID.randomUUID().toString
    val stages = scala.collection.mutable.ArrayBuffer.empty[StageCount]
    def ckpt(df: DataFrame): DataFrame =
      if (cfg.reliableCheckpoints) df.checkpoint() else df.localCheckpoint()
    def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
    def record(stage: String, rowsIn: Long, rowsOut: Long, t0: Long): Unit = {
      stages += StageCount(stage, rowsIn, rowsOut)
      if (ledger) {
        val now = System.currentTimeMillis()
        graft.ledger.Ledger.writeJobStats(spark, graft.core.JobStats(
          JobRunID = java.util.UUID.randomUUID().toString,
          JobStartTime = new java.sql.Timestamp(t0),
          JobEndTime = new java.sql.Timestamp(now),
          JobDurationSeconds = (now - t0) / 1000,
          JobStatus = "Completed",
          SourceFile = s"pipeline:$stage",
          TargetTable = "training_corpus",
          RowsRead = rowsIn, RowsInserted = rowsOut, RowsUpdated = 0,
          RowsFailed = rowsIn - rowsOut,
          ErrorMessage = None, BatchJobID = Some(runId),
          TableMode = "pipeline", TransactionMode = "strict"))
      }
    }

    // -1. multimodal gates (cfg.imageCol/audioCol): decode-failure /
    //     dead-air / degenerate-media drops as the FIRST stage — one
    //     stateless codegen filter, so undecodable media never reaches
    //     the (expensive) dedup machinery. `docs0` keeps the caller's
    //     frame for the rowsIn accounting.
    var t0 = System.currentTimeMillis()
    val docs0 = docs
    val docs1: DataFrame =
      if (cfg.imageCol.isEmpty && cfg.audioCol.isEmpty) docs0
      else {
        val g = ckpt(Curation.mediaGate(docs0, cfg.imageCol, cfg.audioCol,
          cfg.media))
        record("media_gates", docs0.count(), g.count(), t0)
        g
      }

    // 0. shared pair graph (cfg.reusePairGraph): ONE exact-dedup pass +
    //    ONE shingle self-join at the lowest threshold any consumer
    //    needs; curation and the split each filter/restrict the graph
    //    instead of re-deriving it. Both are checkpointed — the two
    //    downstream consumers would otherwise each re-execute the work
    //    through the lazy plan, which is the cost being saved. Sharing
    //    requires the stage caps to AGREE (see Config.reusePairGraph);
    //    the build is ledger-recorded as its own stage so per-stage
    //    durations still sum to the pipeline wall clock.
    t0 = System.currentTimeMillis()
    val shared: Option[(DataFrame, DataFrame)] =
      if (cfg.reusePairGraph && cfg.splitThreshold > 0 &&
          cfg.splitMaxDf == cfg.curation.nearDupMaxDf) {
        val exactDeduped = ckpt(Dedup.exactDedup(docs1, idCol, textCol))
        val thMin = math.min(cfg.splitThreshold,
          cfg.curation.nearDupThreshold.getOrElse(cfg.splitThreshold))
        val p = ckpt(Dedup.nearDupPairs(exactDeduped, idCol, textCol,
          k = 3, threshold = thMin, maxDf = cfg.curation.nearDupMaxDf))
        Some((exactDeduped, p))
      } else None
    val nDocs = if (shared.isDefined) {
      // corpus rows pass through the graph stage unchanged (the pairs are
      // a side artifact) — in/out both the doc count keeps the stage
      // chain's rowsOut==rowsIn invariant intact for consumers
      val n = docs1.count()
      record("pair_graph", n, n, t0)
      n
    } else docs1.count()

    // 1. curation (q36 semantics): dedup + quality/lang/repetition gates;
    //    re-attach the source column curate() projects away
    t0 = System.currentTimeMillis()
    val curated = ckpt(
      (shared match {
        case Some((exactDeduped, p)) =>
          Curation.curateExactWithPairs(exactDeduped, idCol, textCol,
            cfg.curation, p)
        case None => Curation.curate(docs1, idCol, textCol, cfg.curation)
      }).join(docs1.select(col(idCol), col(sourceCol)), Seq(idCol)))
    val nCurated = curated.count()
    // the exact-deduped frame fed the graph build and the curation stage;
    // both are materialized now (the pair graph still is not — it serves
    // the split)
    shared.foreach { case (exactDeduped, _) => free(exactDeduped) }
    // the media-gated checkpoint (if any) fed the graph build and the
    // curation join; both are materialized now
    if (!(docs1 eq docs0)) free(docs1)
    record("curation", nDocs, nCurated, t0)

    // 1.5 learned gate (cfg.learnedGate): the q176 batch perceptron as a
    //     pipeline stage — train on the even half of the curated corpus
    //     (weak label: lang_pred en-vs-rest), score everyone, drop
    //     score <= min. Runs BEFORE decontamination so the (expensive)
    //     shingle machinery never sees docs the model already rejects.
    //     Exact integers: re-running the pipeline gates the same set.
    t0 = System.currentTimeMillis()
    val gated: DataFrame =
      if (!cfg.learnedGate) curated
      else {
        val w = graft.ops.ScaleOps25.trainClassifier(spark, curated,
          idCol, textCol, langCol = "lang_pred")
        val scores = graft.ops.ScaleOps25.scoreDocs(curated, w,
          idCol, textCol, langCol = "lang_pred")
        val g = ckpt(curated.join(scores, Seq(idCol), "left")
          .withColumn("__sc", coalesce(col("score"), lit(0L)))
          .filter(col("__sc") > cfg.learnedGateMinScore)
          .drop("score", "__sc"))
        val n = g.count()
        free(curated)
        record("learned_gate", nCurated, n, t0)
        g
      }
    val nGated = if (gated eq curated) nCurated else stages.last.rowsOut

    // 1.6 LM-tertile mix (cfg.lmTertileMix): the CCNet disposition as a
    //     stage — score with the shared corpus-LM chain, bucket per
    //     predicted language through the ROUTED boundary pass, keep per
    //     bucket through the portable-hash sampler. Unscored (<2-token)
    //     docs take the tail rate. Exact integers + hash sampling: a
    //     rerun gates the same set bit-for-bit.
    t0 = System.currentTimeMillis()
    val lmMixed: DataFrame = cfg.lmTertileMix match {
      case None => gated
      case Some((headRate, middleRate, tailRate)) =>
        // smoothing dispatch shared by both reference scorers: add-k is
        // the q183 kernel; KN is the q186/q187 kernel, whose extra T
        // literal is the pair-table row count (the artifact's `_rows`
        // stamp — no new metadata, one partial-agg count for the
        // in-run-trained model)
        var pairsCkpt: Option[DataFrame] = None
        require(cfg.lmScoreDomain == LmScoreDomain.Arithmetic ||
          cfg.lmSmoothing == LmSmoothing.AddK,
          "lm_mix: LogPerplexity ranking is only defined for the AddK " +
            "smoother (the KN kernel's per-term floors have no log-domain twin)")
        def scoreWith(pairs: DataFrame, v: Long, t: => Long): DataFrame =
          ((cfg.lmSmoothing, cfg.lmScoreDomain) match {
            case (LmSmoothing.AddK, LmScoreDomain.Arithmetic) =>
              graft.ops.ScaleOps27.scoreDocsWithLm(gated, idCol, textCol,
                pairs, v)
            case (LmSmoothing.AddK, LmScoreDomain.LogPerplexity) =>
              // negate so "head = highest score" = lowest perplexity
              // rides the unchanged strict-boundary bucket rule
              graft.ops.ScaleOps30.scoreDocsWithLmLog2(gated, idCol, textCol,
                  pairs, v)
                .withColumn("score_fp", -col("plx_fp"))
            case (LmSmoothing.KneserNey, _) =>
              graft.ops.ScaleOps28.scoreDocsWithLmKn(gated, idCol, textCol,
                pairs, v, t)
          }).select(col(idCol).cast("long").as("doc_id"), col("score_fp"))
        val scores = (cfg.lmArtifactPath, cfg.lmRefLang) match {
          case (Some(path), _) =>
            val (pairs, v) = graft.ml.BigramLm.loadLm(spark, path)
            // loadLm just validated stamp == on-disk rows, so the stamp
            // IS the type count T
            scoreWith(pairs, v, graft.ml.BigramLm.lmRows(spark, path))
          case (None, Some(refLang)) =>
            val ref = gated.filter(col("lang_pred") === refLang)
            val v = graft.ops.ScaleOps27.vocabSize(ref, textCol)
            require(v >= 1, s"lm_mix: reference language '$refLang' has no " +
              "tokens in the gated corpus — no model to mix with")
            // checkpoint the pair table: the KN chain consumes it three
            // times (pairs/ctx/cont joins) plus the T count — without
            // the cut each consumer would replan the train agg over the
            // gated frame
            val pairs = ckpt(graft.ops.ScaleOps27.trainLmPairs(ref,
              idCol, textCol))
            pairsCkpt = Some(pairs)
            scoreWith(pairs, v, pairs.count())
          case (None, None) =>
            require(cfg.lmSmoothing == LmSmoothing.AddK,
              "lm_mix: Kneser-Ney needs a reference model (set lmRefLang " +
                "or lmArtifactPath) — the corpus-as-own-LM MLE bootstrap " +
                "has no discount machinery")
            require(cfg.lmScoreDomain == LmScoreDomain.Arithmetic,
              "lm_mix: LogPerplexity ranking needs a smoothed reference " +
                "model (set lmRefLang or lmArtifactPath) — the MLE " +
                "bootstrap assigns zero probabilities log cannot represent")
            graft.ops.ScaleOps22.mleDocScoresOf(gated, idCol, textCol)
              .select(col("doc_id"), col("score_fp"))
        }
        val wl = scores
          .join(gated.select(col(idCol).cast("long").as("doc_id"),
            col("lang_pred").as("lang")), Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("score_fp"))
        // routing bound: per-language doc count of the (checkpointed)
        // gated corpus — a cheap upper bound on scored docs per language
        val routingBound = Packing.largestGroupRows(
          gated.select(col("lang_pred").as("lang")), "lang")
        // lm_bounds (cfg.lmBoundsArtifactPath): persist the stage's
        // per-language boundaries as the stamped artifact and bucket
        // with the LOADED table — the producer half of the
        // batch→stream hand-off, with the round-trip exercised in the
        // same run that ships it (its invisibility is the q188/q192
        // oracle pin). Tag derived, never caller-literal.
        val assigned = cfg.lmBoundsArtifactPath match {
          case None =>
            graft.ops.ScaleOps25.assignTertiles(wl, routingBound)
          case Some(bpath) =>
            require(cfg.lmRefLang.isDefined || cfg.lmArtifactPath.isDefined,
              "lm_bounds: persisting boundaries needs a reference scorer " +
                "(lmRefLang or lmArtifactPath) — the MLE bootstrap's " +
                "corpus-as-own-LM boundaries are meaningless to ship")
            val refId = cfg.lmBoundsRefId
              .orElse(cfg.lmRefLang.map("ref=" + _))
            require(refId.isDefined,
              "lm_bounds: state lmBoundsRefId — the pipeline cannot " +
                "invent a portable model identity for an artifact-scored " +
                "stage")
            val tag = scorerTag(cfg.lmSmoothing, refId.get, cfg.lmScoreDomain)
            val tb0 = System.currentTimeMillis()
            graft.ml.TertileBounds.writeBoundsIfAny(spark,
                graft.ops.ScaleOps25.tertileBounds(wl, routingBound),
                bpath, tag) match {
              case 0L => // no scorable docs: nothing shipped, loud 0-row stage
                record("lm_bounds", 0L, 0L, tb0)
                graft.ops.ScaleOps25.assignTertiles(wl, routingBound)
              case nB =>
                record("lm_bounds", nB, nB, tb0)
                graft.ops.ScaleOps25.bucketWithBounds(wl,
                  graft.ml.TertileBounds.loadBoundsFor(spark, bpath, tag))
            }
        }
        val g = ckpt(gated
          .join(assigned.select(col("doc_id").as("__mid"),
            col("bucket").as("__mbkt")),
            col(idCol).cast("long") === col("__mid"), "left")
          .withColumn("__bkt", coalesce(col("__mbkt"), lit("tail")))
          .withColumn("__rate",
            when(col("__bkt") === "head", headRate)
              .when(col("__bkt") === "middle", middleRate)
              .otherwise(tailRate))
          .filter(Packing.mixKeep(col(idCol).cast("long"), col("__rate")))
          .drop("__mid", "__mbkt", "__bkt", "__rate"))
        val n = g.count()
        free(gated)
        pairsCkpt.foreach(free) // the in-run-trained model served its joins
        record("lm_mix", nGated, n, t0)
        g
    }
    val nLm = if (lmMixed eq gated) nGated else stages.last.rowsOut

    // 2. decontamination (q58): drop train docs leaking test content
    t0 = System.currentTimeMillis()
    val decontaminated = test match {
      case None => lmMixed
      case Some(te) =>
        ckpt(Dedup.decontaminate(lmMixed, te, idCol, textCol,
          cfg.decontShingleK, cfg.decontThreshold))
    }
    val nDecont = decontaminated.count()
    if (test.isDefined) free(lmMixed)
    record("decontamination", nLm, nDecont, t0)

    // 3. mixing (q62): deterministic per-source keep rates — a pure map
    t0 = System.currentTimeMillis()
    val rate = cfg.mixRates.foldLeft(lit(cfg.defaultMixRate)) {
      case (acc, (s, r)) => when(col(sourceCol) === s, lit(r)).otherwise(acc)
    }
    val mixed = ckpt(Packing.sourceMix(decontaminated, idCol, rate))
    val nMixed = mixed.count()
    free(decontaminated)
    record("mixing", nDecont, nMixed, t0)

    // 4. leakage-safe split (q63): near-dup clusters over the SURVIVING
    //    corpus, split keyed on cluster_id so components never straddle
    t0 = System.currentTimeMillis()
    val pairs = shared match {
      case Some((_, p)) =>
        // restrict the shared graph to the mixed survivors (both
        // endpoints) at the split threshold — pairs-over-survivors
        // exactly, modulo the df-cap delta documented on reusePairGraph
        Dedup.restrictPairs(p, mixed.select(col(idCol)), idCol,
          cfg.splitThreshold)
      case None =>
        Dedup.nearDupPairs(mixed, idCol, textCol,
          k = 3, threshold = cfg.splitThreshold, maxDf = cfg.splitMaxDf)
    }
    val clusters = Dedup.clusterPairs(mixed, idCol, pairs,
      reliableCheckpoints = cfg.reliableCheckpoints)
    val split = ckpt(mixed.join(
      clusters.withColumn("split", Relational3.splitAssign(col("cluster_id"))),
      Seq(idCol)))
    val nSplit = split.count()
    shared.foreach { case (_, p) => free(p) }
    free(mixed)
    record("split", nMixed, nSplit, t0)

    // 4b. optional tokenizer training (packByBpe): train on the corpus
    //     that will actually be packed, through the conf-driven batched
    //     trainer — its own ledger stage so the (expensive, iterative)
    //     train cost is attributed, not folded into packing
    val bpeMerges: Option[Seq[graft.text.Bpe.Merge]] =
      if (!cfg.packByBpe) None
      else {
        t0 = System.currentTimeMillis()
        val m = graft.text.Bpe.train(
          graft.text.Bpe.vocabWords(split, textCol), cfg.bpeMerges)
        record("tokenizer_train", nSplit, nSplit, t0)
        Some(m)
      }

    // 5. packing (q61/q162): fixed-ctx windows laid out within
    //    (split, source) so no pack crosses a split (or corpus) boundary
    t0 = System.currentTimeMillis()
    // (drop curation's n_tokens first: packAssignments re-derives it with
    // the same tokenizer and re-attaching two copies would collide)
    val grouped = split.drop("n_tokens").withColumn("__grp",
      concat_ws("|", col("split"), col(sourceCol)))
    // routing bound measured ONCE on the cheap pre-encode frame (r12
    // advice: letting packAssignmentsByCount measure the joined frame
    // re-ran the whole per-doc BPE encode just to count group rows).
    // Per-group rows after the count join ⊆ grouped (inner join on the
    // unique doc id), so this is a valid upper bound for both branches.
    val largest = Packing.largestGroupRows(grouped, "__grp")
    val packed = ckpt((bpeMerges match {
      case Some(m) =>
        // exact per-doc BPE counts (one encode map + doc rollup), then
        // the same hierarchical prefix-sum layout on those counts
        val counted = graft.text.Bpe.bpeTokenCounts(
          grouped, idCol, textCol, m)
        Packing.packAssignmentsByCountMeasured(
          grouped.join(counted, Seq(idCol)),
          idCol, "n_bpe_tokens", "__grp", cfg.ctxTokens, largest)
      case None =>
        Packing.packAssignmentsMeasured(grouped, idCol, textCol, "__grp",
          cfg.ctxTokens, largest)
    }).drop("__grp"))
    val nPacked = packed.count()
    free(split)
    record("packing", nSplit, nPacked, t0)

    Result(packed, stages.toSeq, runId)
  }

  /** Per-shard balance readout [[writeSharded]] returns (and ledgers):
    * q169's schema over what actually LANDED on disk. */
  final case class ShardStat(shard: Long, nDocs: Long, nTokens: Long,
      shareFp: Long, skewPpm: Long)

  /** Default output shard count — [[graft.ops.ScaleOps23.Q169Shards]]. */
  val DefaultShards: Int = graft.ops.ScaleOps23.Q169Shards.toInt

  /** The pipeline's WRITER stage (r12 verdict #6): lay the packed corpus
    * out as `shards` parquet shards under `outDir/shard=N/`, sharded by
    * q169's portable multiplicative hash of the document id
    * ([[graft.ops.Relational3.splitBucket]] mod shards — engine/
    * partitioning/run-independent, so the same corpus always lands in
    * the same shard layout), and ledger ONE row per shard carrying the
    * q169 skew_ppm balance readout.
    *
    * Determinism: rows are routed ALL-of-shard-i-to-one-task
    * (`repartition(shards, shard)` — a shard never splits across tasks,
    * so each shard directory holds exactly one data file) and sorted
    * within the task by (shard, id), so re-running the writer over the
    * same frame produces byte-identical shard files (spec-asserted) —
    * the reproducibility a training-data release needs.
    *
    * Accounting discipline: the per-shard stats are aggregated from the
    * files that LANDED (one read-back of the written output), not from
    * the input frame — the [[graft.dedup.FingerprintIndex.writeIndex]]
    * certify-only-what-landed rule. Every shard id 0..shards-1 gets a
    * ledger row, INCLUDING empty shards (n_docs = 0, skew −10⁶): a
    * balance readout that silently omits empty shards hides exactly the
    * imbalance it exists to surface. The skew readout rides the ledger's
    * free-text column (`ErrorMessage`, on a Completed row) because the
    * JobStats schema is the reference's EtlJobStats contract
    * (FIXTURES.md §3) — adding a column would break mirror parity.
    * Share/skew are exact BigInt integer division at 10⁻⁶ fixed point on
    * the ≤shards-row driver-side table (q169's arithmetic; the collect
    * is shard-count-bounded, never corpus-bounded).
    *
    * Scale shape: one pure-map shard assignment, ONE exchange on the
    * shard id, one task-local sort per shard, one read-back partial agg
    * (≤shards groups). At 100 TB the per-shard file is the unit a
    * training loader streams; shards ≫ 64 is one parameter, same plan.
    *
    * `filesPerShard` (r13 verdict #4 — the scale-free file contract):
    * at the default 1, each shard is ONE task and ONE file (~1.5 TB per
    * file at 100 TB/64 shards — honest but tunable only by changing the
    * release's shard layout). At F > 1 each shard splits into F leaf
    * directories `shard=N/file=M` with file = the NEXT portable-hash
    * bits up ((bucket div shards) mod F — a pure function of the doc id,
    * oracle-checked as q182), each leaf holding exactly one data file
    * sorted by id. Raising F never moves a document across SHARDS (the
    * shard bits are untouched), so the shard-level stats, ledger rows,
    * and a consumer's shard→worker assignment are F-invariant; the unit
    * of parallelism becomes shards·F tasks and the byte-stable rerun
    * contract holds PER LEAF FILE (spec-asserted at F > 1). */
  def writeSharded(spark: SparkSession, packed: DataFrame, outDir: String,
      idCol: String = "doc_id", tokenCol: String = "n_tokens",
      shards: Int = DefaultShards, runId: String = java.util.UUID.randomUUID().toString,
      ledger: Boolean = true, filesPerShard: Int = 1): Seq[ShardStat] = {
    require(shards >= 1, s"writeSharded: shards must be >= 1, got $shards")
    require(filesPerShard >= 1,
      s"writeSharded: filesPerShard must be >= 1, got $filesPerShard")
    require(packed.columns.contains(tokenCol),
      s"writeSharded: no '$tokenCol' column in ${packed.columns.toSeq} " +
        "(pass tokenCol = \"n_bpe_tokens\" for a packByBpe corpus)")
    val t0 = System.currentTimeMillis()
    val nIn = packed.count()
    val bucketed = packed
      .withColumn("__bucket", Relational3.splitBucket(col(idCol)))
      .withColumn("shard", pmod(col("__bucket"), lit(shards.toLong)))
    if (filesPerShard == 1)
      bucketed.drop("__bucket")
        .repartition(shards, col("shard"))
        .sortWithinPartitions(col("shard"), col(idCol))
        .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    else
      bucketed
        .withColumn("file",
          pmod(expr(s"__bucket div $shards"), lit(filesPerShard.toLong)))
        .drop("__bucket")
        // all rows of a (shard, file) leaf hash to ONE task, and
        // partitionBy splits a task's output by leaf directory — so each
        // leaf holds exactly one data file even when two leaves share a
        // task, and the within-task sort makes that file's bytes a pure
        // function of the leaf's row set
        .repartition(shards * filesPerShard, col("shard"), col("file"))
        .sortWithinPartitions(col("shard"), col("file"), col(idCol))
        .write.mode("overwrite").partitionBy("shard", "file").parquet(outDir)
    landedStatsAndLedger(spark, outDir, tokenCol, shards, nIn, t0,
      runId, ledger)
  }

  /** The shared certify-only-what-landed tail of [[writeSharded]] and
    * [[writeShardedByBytes]]: read back the written output, roll up the
    * per-shard balance stats, count the landed data files per shard,
    * and ledger one row per shard. */
  private def landedStatsAndLedger(spark: SparkSession, outDir: String,
      tokenCol: String, shards: Int, nIn: Long, t0: Long,
      runId: String, ledger: Boolean): Seq[ShardStat] = {
    // an all-empty write leaves no shard dirs to infer a schema from —
    // the readout is all-zeros by definition, not a read failure
    val landed: Map[Long, (Long, Long)] =
      if (nIn == 0L) Map.empty
      else spark.read.parquet(outDir)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col(tokenCol)).as("n_tokens"))
        .collect()
        .map { r =>
          // loud-null contract: a shard whose token column is entirely
          // NULL sums to NULL, which would silently unbox to 0 in the
          // ledger stats — a balance readout certifying tokens it never
          // counted. Fail the readout instead.
          require(!r.isNullAt(r.fieldIndex("n_tokens")),
            s"writeSharded: shard ${r.getAs[Number]("shard")} has an " +
              s"all-NULL '$tokenCol' column — refusing a 0-token stat row")
          r.getAs[Number]("shard").longValue() ->
            (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))
        }.toMap
    val tt = BigInt(landed.values.map(_._2).sum)
    val stats = (0L until shards.toLong).map { sh =>
      val (nd, nt) = landed.getOrElse(sh, (0L, 0L))
      if (tt == 0) ShardStat(sh, nd, nt, 0L, 0L)
      else ShardStat(sh, nd, nt,
        (BigInt(nt) * 1000000 / tt).toLong,
        (BigInt(nt) * shards * 1000000 / tt - 1000000).toLong)
    }
    // per-shard data-file count from what LANDED (one recursive listing
    // per shard dir — the FingerprintIndex.indexDataFiles readout applied
    // to the release layout): the operator-facing signal that the
    // filesPerShard contract was honored on disk, ledgered per shard
    val landedFiles: Map[Long, Int] = {
      val root = new org.apache.hadoop.fs.Path(outDir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def countData(p: org.apache.hadoop.fs.Path): Int =
        fs.listStatus(p).iterator.map { st =>
          val nm = st.getPath.getName
          if (nm.startsWith("_") || nm.startsWith(".")) 0
          else if (st.isDirectory) countData(st.getPath)
          else 1
        }.sum
      if (!fs.exists(root)) Map.empty
      else fs.listStatus(root).iterator
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("shard="))
        .map(st => st.getPath.getName.stripPrefix("shard=").toLong ->
          countData(st.getPath))
        .toMap
    }
    if (ledger) {
      val now = System.currentTimeMillis()
      stats.foreach { st =>
        graft.ledger.Ledger.writeJobStats(spark, graft.core.JobStats(
          JobRunID = java.util.UUID.randomUUID().toString,
          JobStartTime = new java.sql.Timestamp(t0),
          JobEndTime = new java.sql.Timestamp(now),
          JobDurationSeconds = (now - t0) / 1000,
          JobStatus = "Completed",
          SourceFile = s"pipeline:shard:${st.shard}",
          TargetTable = s"$outDir/shard=${st.shard}",
          RowsRead = nIn, RowsInserted = st.nDocs, RowsUpdated = 0,
          RowsFailed = 0,
          ErrorMessage = Some(
            s"n_tokens=${st.nTokens};share_fp=${st.shareFp};" +
              s"skew_ppm=${st.skewPpm};n_files=${landedFiles.getOrElse(st.shard, 0)}"),
          BatchJobID = Some(runId),
          TableMode = "shard", TransactionMode = "strict"))
      }
    }
    stats
  }

  /** Smallest power of two ≥ n (n ≥ 1) — the file-count quantizer that
    * makes the byte target MONOTONE: for F' | F, `(b div S) mod F'` is
    * a pure coarsening of `(b div S) mod F`, so raising the target can
    * only MERGE whole leaf files, never move a document across leaves
    * — and the shard bits are untouched either way. Any non-power
    * choice would re-deal documents between leaves on every retarget. */
  private[graft] def pow2Ceil(n: Long): Long =
    if (n <= 1L) 1L else java.lang.Long.highestOneBit(n - 1L) << 1

  /** [[writeSharded]] with the file split chosen from MEASURED bytes
    * (r14 verdict #5 — the unshipped half of the r13 file contract):
    * instead of one global `filesPerShard`, each shard gets
    * F = pow2ceil(⌈measured_payload_bytes / targetBytes⌉) leaf files,
    * so a skewed release keeps every leaf near the target while uniform
    * shards don't over-split — the q148/q166 measure-before-plan
    * discipline applied to the writer.
    *
    * The measure: `byteMeasure` summed per shard — by default
    * `octet_length(to_json(struct(*)))`, a deterministic per-row
    * PAYLOAD proxy (pre-compression; post-compression file bytes are
    * codec-dependent and unknowable before writing, so the target
    * governs measured payload per leaf, not parquet bytes — documented,
    * and the caller can pass a cheaper column like
    * `octet_length(col("text"))` when one column dominates). One
    * partial-agg exchange over ≤shards groups, collected driver-side
    * (shard-count-bounded, never corpus-bounded).
    *
    * Contracts carried over from [[writeSharded]], now per shard:
    * shard assignment is untouched (retargeting NEVER moves a document
    * across shards — shard stats, ledger rows, and a consumer's
    * shard→worker map are target-invariant); file = the next portable
    * hash bits up mod F_s; each leaf holds exactly one data file,
    * byte-stable across reruns at the same target. Because F_s is a
    * power of two, RAISING the target only merges whole leaf files
    * (spec-asserted), so coarser re-releases are pure concatenations of
    * finer ones. The two-level `shard=N/file=M` layout is used even at
    * F = 1 — a release's directory shape must not flip when the corpus
    * grows past one file per shard. Per-shard `n_files` (= F_s for
    * non-empty shards) rides the ledger row exactly as in the fixed-F
    * writer.
    *
    * Scale shape: one measure exchange (≤shards groups), one pure-map
    * file assignment (the F map is a ≤shards-entry literal), ONE
    * exchange on (shard, file), one task-local sort per leaf, the
    * read-back partial agg. `maxFilesPerShard` (rounded down to a power
    * of two) caps a runaway target misconfiguration. */
  def writeShardedByBytes(spark: SparkSession, packed: DataFrame,
      outDir: String, targetBytes: Long,
      idCol: String = "doc_id", tokenCol: String = "n_tokens",
      shards: Int = DefaultShards,
      runId: String = java.util.UUID.randomUUID().toString,
      ledger: Boolean = true, byteMeasure: Option[org.apache.spark.sql.Column] = None,
      maxFilesPerShard: Long = 1L << 20): Seq[ShardStat] = {
    require(shards >= 1, s"writeShardedByBytes: shards must be >= 1, got $shards")
    require(targetBytes >= 1L,
      s"writeShardedByBytes: targetBytes must be >= 1, got $targetBytes")
    require(maxFilesPerShard >= 1L,
      s"writeShardedByBytes: maxFilesPerShard must be >= 1, got $maxFilesPerShard")
    require(packed.columns.contains(tokenCol),
      s"writeShardedByBytes: no '$tokenCol' column in ${packed.columns.toSeq}")
    val t0 = System.currentTimeMillis()
    val nIn = packed.count()
    val measure = byteMeasure.getOrElse(
      octet_length(to_json(struct(packed.columns.map(col).toIndexedSeq: _*))))
    val bucketed = packed
      .withColumn("__bucket", Relational3.splitBucket(col(idCol)))
      .withColumn("shard", pmod(col("__bucket"), lit(shards.toLong)))
    val fCap = java.lang.Long.highestOneBit(maxFilesPerShard)
    val fByShard: Map[Long, Long] = bucketed
      .groupBy(col("shard")).agg(sum(measure.cast("long")).as("bytes"))
      .collect()
      .map { r =>
        val b = if (r.isNullAt(1)) 0L else r.getLong(1)
        val need = if (b <= 0L) 1L else (b + targetBytes - 1L) / targetBytes
        r.getLong(0) -> math.min(pow2Ceil(need), fCap)
      }.toMap
    // the write runs even on an empty corpus so overwrite-mode clears
    // any stale release at outDir, exactly like the fixed-F writer
    val fExpr = fByShard.foldLeft(lit(1L)) { case (acc, (sh, f)) =>
      when(col("shard") === sh, lit(f)).otherwise(acc)
    }
    val totalLeaves = math.min(math.max(fByShard.values.sum, 1L),
      Int.MaxValue.toLong).toInt
    bucketed
      .withColumn("file", pmod(expr(s"__bucket div $shards"), fExpr))
      .drop("__bucket")
      .repartition(totalLeaves, col("shard"), col("file"))
      .sortWithinPartitions(col("shard"), col("file"), col(idCol))
      .write.mode("overwrite").partitionBy("shard", "file").parquet(outDir)
    landedStatsAndLedger(spark, outDir, tokenCol, shards, nIn, t0,
      runId, ledger)
  }

  /** The PIPELINE's byte-targeted release stage (r15 verdict #6):
    * [[writeShardedByBytes]] with the byte measure pinned to the
    * payload column a training release is actually sized by —
    * `octet_length(textCol)` — instead of the default row-wide
    * `octet_length(to_json(struct(*)))` proxy. The default exists for
    * arbitrary frames with no known dominant column, but serializing
    * EVERY row to JSON just to measure it is exactly the hidden
    * 100 TB cost the measure-before-plan discipline forbids when a
    * one-column measure is available — and a packed corpus always has
    * its text column, so the release stage states it. Shard
    * assignment and the per-shard balance stats are measure-INVARIANT
    * (the measure only picks each shard's leaf count F; the portable
    * hash never sees it — spec-pinned): switching measures can
    * re-split a shard's leaves, never move a document or change a
    * ledgered stat. */
  def releaseShardedByBytes(spark: SparkSession, packed: DataFrame,
      outDir: String, targetBytes: Long,
      idCol: String = "doc_id", tokenCol: String = "n_tokens",
      textCol: String = "text", shards: Int = DefaultShards,
      runId: String = java.util.UUID.randomUUID().toString,
      ledger: Boolean = true, maxFilesPerShard: Long = 1L << 20): Seq[ShardStat] = {
    require(packed.columns.contains(textCol),
      s"releaseShardedByBytes: no '$textCol' column in ${packed.columns.toSeq} " +
        "— pass the corpus's payload column, or use writeShardedByBytes " +
        "with an explicit byteMeasure")
    writeShardedByBytes(spark, packed, outDir, targetBytes, idCol, tokenCol,
      shards, runId, ledger,
      byteMeasure = Some(octet_length(col(textCol))),
      maxFilesPerShard = maxFilesPerShard)
  }
}
