package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Relational.t

/** Round-12 batch 23: corpus-layout planning readouts — deterministic
  * output-shard balance (q169), the token-frequency spectrum behind
  * vocabulary-size decisions (q170), the pairwise source-overlap
  * matrix that tells a mixing plan which corpora are secretly the same
  * data (q171), and the cross-epoch co-batch repeat rate that audits
  * the epoch reshuffle a dataloader claims to do (q172). */
object ScaleOps23 {

  // --- deterministic shard balance (q169) ------------------------------------

  /** Output shard count for q169. */
  val Q169Shards = 64L

  /** q169: DETERMINISTIC SHARD BALANCE — training output is written in
    * fixed shards (files/tasks consume them in order), and the shard
    * assignment must be engine/partitioning/run-independent, so it
    * rides the q51 portable multiplicative hash
    * ([[graft.ops.Relational3.splitBucket]] mod [[Q169Shards]]), NOT
    * `hash()` or a round-robin. Per shard: docs, whitespace tokens,
    * corpus share at 10⁻⁶ fixed point, and the signed skew vs the ideal
    * 1/shards slice in ppm — the readout that says whether hash-sharding
    * this corpus produces balanced training files. Token products ride
    * DECIMAL(38): n_tokens·shards·10⁶ passes int64 at ~10¹¹ tokens per
    * shard, document-scale at 100 TB.
    *
    * Scale shape: one pure-map shard assignment fused into the scan,
    * ONE partial-agg exchange on the shard id (≤ [[Q169Shards]] groups),
    * a 1-row total broadcast back onto the shard table. */
  def q169ShardBalance(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.fanOut(t(s, dir, "documents"))
      .select(col("doc_id").cast("long").as("doc_id"),
        graft.text.TextAnalysis.nonEmptyTokenCount(col("text")).as("n"))
      .withColumn("shard",
        pmod(Relational3.splitBucket(col("doc_id")), lit(Q169Shards)))
    val per = docs.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
    val totals = per.agg(sum(col("n_tokens")).as("tt"))
    // tt = 0 only on an all-whitespace corpus — shards still list their
    // docs, shares read 0 (Spark ANSI raises on div 0; DuckDB NULLs)
    per.crossJoin(broadcast(totals))
      .withColumn("share_fp", expr(
        "CASE WHEN tt = 0 THEN 0 ELSE " +
          "CAST((CAST(n_tokens AS DECIMAL(38,0)) * 1000000) div tt AS BIGINT) END"))
      .withColumn("skew_ppm", expr(
        s"CASE WHEN tt = 0 THEN 0 ELSE " +
          s"CAST((CAST(n_tokens AS DECIMAL(38,0)) * ${Q169Shards} * 1000000) div tt" +
          " AS BIGINT) - 1000000 END"))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        col("share_fp"), col("skew_ppm"))
      .orderBy(col("shard"))
  }

  /** Mirror: the q51 multiplicative-hash restatement mod the shard
    * count, same DECIMAL share/skew arithmetic. */
  val q169Sql: String =
    raw"""WITH docs AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |        t -> len(t) >= 1)) AS n
      |  FROM documents
      |), sharded AS (
      |  SELECT n,
      |    (((((doc_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536
      |      + ((doc_id % 4294967296) % 65536) * 2654435761) % 4294967296
      |      % ${Q169Shards} AS shard
      |  FROM docs
      |), per AS (
      |  SELECT shard, COUNT(*) AS n_docs, SUM(n) AS n_tokens
      |  FROM sharded GROUP BY shard
      |), tot AS (SELECT SUM(n_tokens) AS tt FROM per)
      |SELECT CAST(shard AS BIGINT) AS shard,
      |  CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(CASE WHEN tt = 0 THEN 0
      |       ELSE (CAST(n_tokens AS HUGEINT) * 1000000) // tt
      |       END AS BIGINT) AS share_fp,
      |  CAST(CASE WHEN tt = 0 THEN 0
      |       ELSE (CAST(n_tokens AS HUGEINT) * ${Q169Shards} * 1000000) // tt
      |         - 1000000
      |       END AS BIGINT) AS skew_ppm
      |FROM per, tot ORDER BY shard""".stripMargin

  // --- token-frequency spectrum (q170) ----------------------------------------

  /** q170: TOKEN-FREQUENCY SPECTRUM — the counts-of-counts histogram at
    * power-of-two frequency buckets (the Zipf readout behind
    * vocabulary-size and min-frequency decisions: how many types live
    * at each frequency scale, and how much corpus MASS they carry).
    * bucket = floor(log2(c)) computed exactly as `length(bin(c)) - 1`
    * (the q165 discipline — no float log at bucket boundaries). Per
    * bucket: type count, occurrence mass, type share of the vocabulary
    * and mass share of the corpus at 10⁻⁶ fixed point (mass·10⁶ rides
    * DECIMAL(38), past int64 at a 10¹³-token corpus).
    *
    * Scale shape: one token-sized partial agg to the vocab table, one
    * ≤64-row bucket rollup, a 1-row totals broadcast. */
  def q170FreqSpectrum(s: SparkSession, dir: String): DataFrame = {
    val uni = Relational.fanOut(t(s, dir, "documents"))
      .select(explode(graft.text.TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 1)
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val buckets = uni
      .withColumn("bucket", (length(bin(col("c"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_occurrences"))
    val totals = buckets.agg(sum(col("n_types")).as("vv"),
      sum(col("n_occurrences")).as("tt"))
    buckets.crossJoin(broadcast(totals))
      .withColumn("type_share_fp", expr(
        "CAST(n_types * 1000000 div vv AS BIGINT)"))
      .withColumn("mass_share_fp", expr(
        "CAST((CAST(n_occurrences AS DECIMAL(38,0)) * 1000000) div tt AS BIGINT)"))
      .select(col("bucket"), col("n_types"), col("n_occurrences"),
        col("type_share_fp"), col("mass_share_fp"))
      .orderBy(col("bucket"))
  }

  /** Mirror: same exact-integer bucket and share arithmetic over the
    * unigram table. */
  val q170Sql: String =
    raw"""WITH uni AS (
      |  SELECT tok, COUNT(*) AS c FROM (
      |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      |    FROM documents) WHERE len(tok) >= 1
      |  GROUP BY tok
      |), buckets AS (
      |  SELECT length(bin(c)) - 1 AS bucket, COUNT(*) AS n_types,
      |    SUM(c) AS n_occurrences
      |  FROM uni GROUP BY 1
      |), tot AS (
      |  SELECT SUM(n_types) AS vv, SUM(n_occurrences) AS tt FROM buckets
      |)
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |  CAST(n_types AS BIGINT) AS n_types,
      |  CAST(n_occurrences AS BIGINT) AS n_occurrences,
      |  CAST(n_types * 1000000 // vv AS BIGINT) AS type_share_fp,
      |  CAST((CAST(n_occurrences AS HUGEINT) * 1000000) // tt AS BIGINT)
      |    AS mass_share_fp
      |FROM buckets, tot ORDER BY bucket""".stripMargin

  // --- pairwise source-overlap matrix (q171) ----------------------------------

  /** How many top source pairs q171 surfaces. */
  val Q171TopK = 20

  /** q171: SOURCE-OVERLAP MATRIX — which corpora secretly share content:
    * distinct 8-token sliding-shingle types per source (the q85/q157
    * FNV-1a kernel — shingle STRINGS never leave the codegen kernel),
    * pairwise shared-type counts via a self-equi-join on the 8-byte
    * hash, and an overlap coefficient shared/min(|A|,|B|) at 10⁻⁶ fixed
    * point — the signal a mixing plan reads before up-weighting two
    * "different" sources that are the same crawl. Top [[Q171TopK]]
    * pairs by (shared desc, source_a, source_b).
    *
    * Scale shape: one distinct agg to the (source, hash) table; the
    * self-join is equi on the hash with per-hash fanout bounded by
    * sources² (a SOURCE-level matrix — sources are O(10²), never
    * corpus-sized); per-source totals broadcast; distributed
    * TakeOrdered. */
  def q171SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    val docs = Relational.fanOut(t(s, dir, "documents"))
    val pairs = docs
      .select(col("source"),
        explode(column(graft.functions.SlidingShingleHashes(
          expression(graft.text.TextAnalysis.tokens(col("text"))), 8))).as("h"))
      .distinct()
      .persist()
    // cached for its three consumers (per-source sizes + both self-join
    // sides): unlike the shingle-builder caches this one measured FASTER
    // cached in the r18 one-JVM A/B (2.26 s vs 2.72 s uncached, 7
    // interleaved reps) — the 8-token sliding window is the heaviest
    // kernel on the surface, so deduplicating its extra pass beats the
    // cache overhead here; population stays lazy (an eager count() pass
    // lost to lazy population on every query the r18 A/B measured it on)
    val perSrc = pairs.groupBy(col("source")).agg(count(lit(1)).as("n_types"))
    val shared = pairs.as("a")
      .join(pairs.as("b"), col("a.h") === col("b.h")
        && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared_types"))
    shared
      .join(broadcast(perSrc.select(col("source").as("source_a"),
        col("n_types").as("na"))), Seq("source_a"))
      .join(broadcast(perSrc.select(col("source").as("source_b"),
        col("n_types").as("nb"))), Seq("source_b"))
      // the ×10⁶ product rides DECIMAL(38) (the q169/q170 discipline —
      // r12 advice): shared_types can pass ~9.2e12 at the design scale,
      // where a plain int64 product raises under ANSI on both engines
      .withColumn("overlap_fp", expr(
        "CAST((CAST(shared_types AS DECIMAL(38,0)) * 1000000)" +
          " div least(na, nb) AS BIGINT)"))
      .orderBy(col("shared_types").desc, col("source_a"), col("source_b"))
      .limit(Q171TopK)
      .withColumn("rank", row_number().over(Window.orderBy(
        col("shared_types").desc, col("source_a"), col("source_b"))))
      .select(col("rank"), col("source_a"), col("source_b"),
        col("shared_types"), col("na"), col("nb"), col("overlap_fp"))
      .orderBy(col("rank"))
  }

  /** Mirror: the q157 sliding-window FNV chain per source, the same
    * self-join and overlap arithmetic. */
  val q171Sql: String = {
    val fnvScalar =
      """list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        [ord(substr(s, i, 1))::HUGEINT FOR i IN range(1, length(s) + 1)]),
        |      (acc, b) -> (xor(acc, b) * 1099511628211) % 18446744073709551616::HUGEINT)""".stripMargin
    raw"""WITH toks AS (
      |  SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents
      |), pos AS (
      |  SELECT source, unnest(range(0, greatest(len(t) - 7, 0))) AS p, t FROM toks
      |), ph AS (
      |  SELECT DISTINCT source, $fnvScalar AS hv
      |  FROM (SELECT source, p, array_to_string(t[p + 1 : p + 8], ' ') AS s FROM pos)
      |), per_src AS (
      |  SELECT source, COUNT(*) AS n_types FROM ph GROUP BY source
      |), shared AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    COUNT(*) AS shared_types
      |  FROM ph a JOIN ph b ON a.hv = b.hv AND a.source < b.source
      |  GROUP BY 1, 2
      |), topk AS (
      |  SELECT s.source_a, s.source_b, s.shared_types,
      |    pa.n_types AS na, pb.n_types AS nb,
      |    ROW_NUMBER() OVER (ORDER BY s.shared_types DESC, s.source_a,
      |      s.source_b) AS rank
      |  FROM shared s
      |  JOIN per_src pa ON s.source_a = pa.source
      |  JOIN per_src pb ON s.source_b = pb.source
      |)
      |SELECT CAST(rank AS INT) AS rank, source_a, source_b,
      |  CAST(shared_types AS BIGINT) AS shared_types,
      |  CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
      |  CAST((CAST(shared_types AS HUGEINT) * 1000000) // least(na, nb)
      |    AS BIGINT) AS overlap_fp
      |FROM topk WHERE rank <= ${Q171TopK} ORDER BY rank""".stripMargin
  }

  // --- cross-epoch co-batch repeat rate (q172) --------------------------------

  /** Batch size for q172's epoch shuffles. */
  val Q172BatchSize = 32L

  /** Salt separating q172's two epoch permutations. The salted key is
    * hash(hash(id) XOR epoch·salt) — the inner hash first spreads a
    * dense id range over the full 32-bit domain, the XOR then flips
    * bits across that whole width, the outer hash mixes again. Both
    * shortcuts FAIL, measured by this query's own first runs (the very
    * failure mode the audit exists to catch): hash(id + salt) is a
    * near-ROTATION of the unsalted ordering under a multiplicative
    * hash (53% co-batch repeat); hash(id XOR salt) on a dense id range
    * only perturbs the low bits (14% repeat). The double-hash form
    * lands at the ≈(B−1)/(N−1) independence baseline. */
  val Q172EpochSalt = 2654435769L

  /** q172: EPOCH-SHUFFLE AUDIT — does re-shuffling between epochs
    * actually change which documents train together? Each epoch orders
    * the corpus by the portable hash of (doc_id XOR epoch·salt) (ties:
    * doc_id — a deterministic, engine-independent permutation; seeded
    * `rand()` is neither; see [[Q172EpochSalt]] for why XOR and never
    * +), fills batches of [[Q172BatchSize]], and the
    * audit counts UNORDERED doc pairs that share a batch in BOTH
    * epochs — the co-batch repeat rate at 10⁻⁶ fixed point. A repeat
    * rate near C(B,2)·2/ (N−1)... ≈ B/N is a healthy shuffle; a rate
    * near 10⁶ means the "shuffle" is re-dealing the same batches (the
    * classic salt-reuse dataloader bug this query exists to catch).
    *
    * Scale shape: per epoch, one adaptive unit-count prefix sum (the
    * hierarchical rank at scale — a global hash order is exactly its
    * constant-group case) and one per-batch self-equi-join with fanout
    * bounded by the batch size (pair volume = N·(B−1)/2, token-scale
    * linear); one equi-join on the pair key between epochs; partial
    * counts everywhere; a 1-row result. */
  def q172EpochShuffle(s: SparkSession, dir: String): DataFrame = {
    val base = Relational.fanOut(t(s, dir, "documents"))
      .select(col("doc_id").cast("long").as("doc_id"))
      .withColumn("one", lit(1L)).withColumn("g", lit(0L))
    // the doc count routes both epochs' prefix sums; memoized per
    // corpus identity (r13 — constant group ⇒ largest group = total
    // rows; the n_docs/n_batches READOUT stays a live aggregate)
    val totalRows = graft.pipeline.Packing.largestGroupRowsMemo(base, "g",
      s"q172|$dir|${Relational.corpusSignature(s, dir, "documents")}")
    def pairsOf(epoch: Int): DataFrame = {
      val salted = base.withColumn("ok", struct(
        Relational3.splitBucket(
          Relational3.splitBucket(col("doc_id"))
            .bitwiseXOR(lit(epoch * Q172EpochSalt))).as("hb"),
        col("doc_id").as("doc_id")))
      val assigned = graft.pipeline.Packing.packAssignmentsByCountMeasured(
        salted, "ok", "one", "g", Q172BatchSize, totalRows)
        .select(col("doc_id"), col("pack_id"))
      assigned.as("a").join(assigned.as("b"),
          col("a.pack_id") === col("b.pack_id")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
    }
    val p0 = pairsOf(0)
    val p1 = pairsOf(1)
    val repeated = p0.join(p1, Seq("da", "db"))
      .agg(count(lit(1)).as("repeated_pairs"))
    val totals = p0.agg(count(lit(1)).as("pairs_per_epoch"))
      .crossJoin(base.agg(count(lit(1)).as("n_docs")))
    totals.crossJoin(repeated)
      .withColumn("n_batches", expr(
        s"CAST((n_docs + ${Q172BatchSize} - 1) div ${Q172BatchSize} AS BIGINT)"))
      // zero guard (a ≤1-doc corpus has no pairs; Spark ANSI raises on
      // div 0 where DuckDB NULLs) + DECIMAL(38) for the ×10⁶ product
      .withColumn("repeat_fp", expr(
        "CASE WHEN pairs_per_epoch = 0 THEN 0 ELSE " +
          "CAST((CAST(repeated_pairs AS DECIMAL(38,0)) * 1000000)" +
          " div pairs_per_epoch AS BIGINT) END"))
      .select(col("n_docs"), col("n_batches"), col("pairs_per_epoch"),
        col("repeated_pairs"), col("repeat_fp"))
  }

  /** Mirror: the q51/q169 portable-hash restatement per epoch, the
    * ROW_NUMBER batch fill, bounded per-batch self-joins, one pair
    * equi-join. */
  val q172Sql: String = {
    def epochCte(name: String, salt: Long): String =
      raw"""$name AS (
        |  SELECT doc_id,
        |    (ROW_NUMBER() OVER (ORDER BY
        |      (((((xor(b1, $salt) % 4294967296) // 65536) * 2654435761)
        |        % 65536) * 65536
        |        + ((xor(b1, $salt) % 4294967296) % 65536) * 2654435761)
        |        % 4294967296,
        |      doc_id) - 1) // ${Q172BatchSize} AS pack_id
        |  FROM (SELECT doc_id,
        |      (((((doc_id % 4294967296) // 65536) * 2654435761) % 65536)
        |        * 65536
        |        + ((doc_id % 4294967296) % 65536) * 2654435761) % 4294967296
        |        AS b1
        |    FROM docs)
        |), ${name}_pairs AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM $name a JOIN $name b
        |    ON a.pack_id = b.pack_id AND a.doc_id < b.doc_id
        |)""".stripMargin
    raw"""WITH docs AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
      |), ${epochCte("e0", 0L)}, ${epochCte("e1", Q172EpochSalt)},
      |rep AS (
      |  SELECT COUNT(*) AS repeated_pairs
      |  FROM e0_pairs JOIN e1_pairs USING (da, db)
      |), tot AS (
      |  SELECT (SELECT COUNT(*) FROM e0_pairs) AS pairs_per_epoch,
      |    (SELECT COUNT(*) FROM docs) AS n_docs
      |)
      |SELECT CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST((n_docs + ${Q172BatchSize} - 1) // ${Q172BatchSize} AS BIGINT)
      |    AS n_batches,
      |  CAST(pairs_per_epoch AS BIGINT) AS pairs_per_epoch,
      |  CAST(repeated_pairs AS BIGINT) AS repeated_pairs,
      |  CAST(CASE WHEN pairs_per_epoch = 0 THEN 0
      |       ELSE CAST(repeated_pairs AS HUGEINT) * 1000000 // pairs_per_epoch
      |       END AS BIGINT) AS repeat_fp
      |FROM tot, rep""".stripMargin
  }

  // --- data-constrained epoch planning (q173) ----------------------------------

  /** q173's token budget as a multiple of the corpus (2 = "train on
    * twice our tokens" — some sources must repeat). */
  val Q173BudgetMult = 2L

  /** Full-epoch bound past which q173 refuses loudly (the shift
    * arithmetic is DECIMAL(38)-exact only while n·10⁶·2^(e+1) fits —
    * e ≤ 40 leaves two orders of magnitude of headroom at a 10¹³-token
    * source, and a 40-epoch repeat is a broken mix, not a plan). */
  val Q173MaxEpochs = 40L

  /** q173: DATA-CONSTRAINED EPOCH PLANNING — when the token budget
    * exceeds what a source holds, the source repeats, and repeated
    * epochs are worth less (the data-constrained scaling result every
    * post-2023 mix plan accounts for). This readout composes the q168
    * temperature weights into token targets and discounts repetition
    * with a per-epoch HALVING, all in exact integers:
    *   - budget B = [[Q173BudgetMult]]·Σn; target_d = (B·√n_d) div Σ√n
    *     (the q168 isqrt weights, DECIMAL(38) products);
    *   - full epochs e = target div n, partial = target mod n;
    *   - effective tokens at 10⁻⁶ fixed point — epoch i is worth 1/2^i:
    *     eff_fp = (n·10⁶·(2^(e+1)−2)) div 2^e + (partial·10⁶) div 2^e,
    *     ONE floor per term so both engines agree bit-for-bit (the
    *     geometric series cleared to a single rational, not a
    *     data-dependent loop no SQL mirror could express);
    *   - utility_fp = eff_fp div target — the share of the source's
    *     budget that still carries full-value signal. A source trained
    *     within its own data (epochs ≤ 1) has utility exactly 10⁶.
    * Epochs past [[Q173MaxEpochs]] fail LOUDLY (assert_true inside a
    * filter, the q73 discipline) rather than silently overflowing.
    *
    * Scale shape: one token-sized partial agg; everything after on the
    * per-source table. */
  def q173EpochBudget(s: SparkSession, dir: String): DataFrame = {
    val perSrc = ScaleOps22.perSourceTokens(s, dir)
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    ScaleOps22.withIsqrt(perSrc, "n_tokens", "w_sqrt")
      .withColumn("stot", sum(col("w_sqrt")).over(wAll))
      .withColumn("btot", lit(Q173BudgetMult) * sum(col("n_tokens")).over(wAll))
      .withColumn("target_tokens", expr(
        "CAST((CAST(btot AS DECIMAL(38,0)) * w_sqrt) div stot AS BIGINT)"))
      .withColumn("e", expr("target_tokens div n_tokens"))
      .filter(assert_true(col("e") <= Q173MaxEpochs,
        concat(lit("q173: source "), col("source"),
          lit(" needs "), col("e").cast("string"),
          lit(s" full epochs (> $Q173MaxEpochs) — broken mix"))).isNull)
      .withColumn("part", expr("target_tokens % n_tokens"))
      .withColumn("p2", expr("shiftleft(CAST(1 AS BIGINT), CAST(e AS INT))"))
      // eff at 10⁻⁶ fixed point EXCEEDS int64 at ~4.6·10¹² tokens per
      // source (code-review finding), so each floored term stays in
      // DECIMAL(38): floor(x div p2) computed as (x − x % p2) / p2 —
      // the subtraction makes the division exact, so the decimal
      // division can never round across an integer. Only the two final
      // readouts (tokens, a ≤2·10⁶ ratio) drop to BIGINT.
      .withColumn("x1", expr(
        "CAST(n_tokens AS DECIMAL(38,0)) * 1000000 * (2 * p2 - 2)"))
      .withColumn("x2", expr("CAST(part AS DECIMAL(38,0)) * 1000000"))
      .withColumn("eff_dec", expr(
        "CAST((x1 - x1 % p2) / p2 AS DECIMAL(38,0))" +
          " + CAST((x2 - x2 % p2) / p2 AS DECIMAL(38,0))"))
      .withColumn("epochs", expr("e + CAST(part > 0 AS BIGINT)"))
      .withColumn("effective_tokens", expr("eff_dec div 1000000"))
      .withColumn("utility_fp", expr(
        "CASE WHEN target_tokens = 0 THEN 1000000 " +
          "ELSE CAST(eff_dec div target_tokens AS BIGINT) END"))
      .select(col("source"), col("n_tokens").as("avail_tokens"),
        col("target_tokens"), col("epochs"), col("effective_tokens"),
        col("utility_fp"))
      .orderBy(col("source"))
  }

  /** Mirror: the q168 isqrt restatement, the same single-floor
    * geometric-series clearing with HUGEINT products and a BIGINT
    * shift — and the SAME loud epoch guard (r12 advice): past
    * [[Q173MaxEpochs]] the Spark arm raises via assert_true while a
    * guardless mirror's `1::BIGINT << e` would silently wrap at e ≥ 63,
    * so the mirror trips `error(...)` at the identical bound and both
    * engines refuse out-of-contract mixes identically. */
  val q173Sql: String =
    raw"""WITH per_src AS (
      |  SELECT source, SUM(len(list_filter(
      |      regexp_split_to_array(trim(lower(text)), '\s+'),
      |      t -> len(t) >= 1))) AS n_tokens
      |  FROM documents GROUP BY source HAVING SUM(len(list_filter(
      |      regexp_split_to_array(trim(lower(text)), '\s+'),
      |      t -> len(t) >= 1))) >= 1
      |), isq AS (
      |  SELECT source, n_tokens,
      |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s0
      |  FROM per_src
      |), isq1 AS (
      |  SELECT source, n_tokens,
      |    s0 - CAST(CAST(s0 AS HUGEINT) * s0 > n_tokens AS INT) AS s1
      |  FROM isq
      |), w AS (
      |  SELECT source, n_tokens,
      |    s1 + CAST(CAST(s1 + 1 AS HUGEINT) * (s1 + 1) <= n_tokens AS INT)
      |      AS w_sqrt
      |  FROM isq1
      |), planned AS (
      |  SELECT source, n_tokens,
      |    CAST((CAST(${Q173BudgetMult} * SUM(n_tokens) OVER () AS HUGEINT)
      |      * w_sqrt) // SUM(w_sqrt) OVER () AS BIGINT) AS target_tokens
      |  FROM w
      |), split AS (
      |  SELECT source, n_tokens, target_tokens,
      |    target_tokens // n_tokens AS e,
      |    target_tokens % n_tokens AS part,
      |    CASE WHEN target_tokens // n_tokens > ${Q173MaxEpochs}
      |         THEN error('q173: a source needs more than ${Q173MaxEpochs} full epochs - broken mix')
      |         ELSE (1::BIGINT << CAST(target_tokens // n_tokens AS INT))
      |    END AS p2
      |  FROM planned
      |), eff AS (
      |  SELECT source, n_tokens, target_tokens, e, part,
      |    (CAST(n_tokens AS HUGEINT) * 1000000 * (2 * p2 - 2)) // p2
      |      + (CAST(part AS HUGEINT) * 1000000) // p2
      |      AS eff_fp
      |  FROM split
      |)
      |SELECT source, CAST(n_tokens AS BIGINT) AS avail_tokens,
      |  CAST(target_tokens AS BIGINT) AS target_tokens,
      |  CAST(e + CAST(part > 0 AS INT) AS BIGINT) AS epochs,
      |  CAST(eff_fp // 1000000 AS BIGINT) AS effective_tokens,
      |  CAST(CASE WHEN target_tokens = 0 THEN 1000000
      |            ELSE eff_fp // target_tokens END AS BIGINT) AS utility_fp
      |FROM eff ORDER BY source""".stripMargin
}
