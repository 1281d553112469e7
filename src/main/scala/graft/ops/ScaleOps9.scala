package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import Relational.t

/** Round-9 batch 8: four statistics/ML operators a training-data platform
  * runs at corpus scale — deterministic fixed-point Lloyd k-means over the
  * embedding table (q113), degree-ordered triangle counting over an
  * order-co-occurrence graph (q114), Simpson diversity of the per-source
  * token distribution (q115), and an exact-arithmetic chi-square
  * independence readout for A/B cohorts (q116).
  *
  * Cross-engine exactness discipline (the ScaleOps7/8 rules):
  *   - every comparison-bearing number is either an exact integer law or a
  *     FIXED tree of deterministic IEEE-754 ops on bit-identical inputs
  *     (mirrored parenthesis-for-parenthesis in the DuckDB SQL);
  *   - no floating-point SUM whose accumulation order an engine could
  *     choose: k-means centroids are fixed-point integer sums (floor codes
  *     at 2^20), chi-square terms are HUGEINT/DECIMAL(38) integer floor
  *     divisions, diversity/triangle laws are pure integers.
  */
object ScaleOps9 {

  // --- deterministic k-means over embeddings (q113) -----------------------

  /** q113: two Lloyd iterations of k-means (k=8) over the embedding
    * corpus, fully deterministic and cross-engine exact — the corpus
    * clustering primitive under topic bucketing / dataset mixing.
    *
    * Determinism law (this is the library's documented reproducible
    * k-means, not an approximation of a randomized one):
    *   - seeds = the 8 lowest vec_ids (no RNG);
    *   - assignment distance is squared L2 via the q20-proven in-order
    *     inner-product law: (⟨x,x⟩ − 2·⟨x,c⟩) + ⟨c,c⟩, each float widened
    *     to double before multiply, accumulated in array order (codegen
    *     kernels [[graft.functions.VectorKernels]]; DuckDB
    *     list_inner_product on DOUBLE[] mirrors it bit-exactly);
    *     ties break to the lowest centroid id;
    *   - re-estimation is FIXED-POINT: each coordinate is floored to a
    *     2^20 integer code (double×2^20 is exact — power-of-two scale),
    *     summed exactly as int64, and the new centroid coordinate is the
    *     single IEEE division sum/count. No order-sensitive double sum
    *     exists anywhere in the loop, which is what makes the clustering
    *     reproducible on a 1000-executor cluster run-to-run.
    *
    * Scale shape: the corpus×k scoring is a broadcast nested loop (k=8
    * rows broadcast; per-row work is one fused codegen projection);
    * re-estimation shuffles (cluster, dim) integer partial sums —
    * map-side combined, 8·64 rows post-shuffle. Nothing materializes the
    * corpus twice; iterations chain lazily in one plan. */
  def q113Kmeans(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{VectorFunctions => V}
    val emb = Relational.fanOut(t(s, dir, "embeddings"))
      .select(col("vec_id"), col("embedding"))
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed"))
    // assignment = argmin over (d2, centroid id) — MIN of the ordered
    // struct per point, not a row_number window: min() partial-aggregates
    // map-side (the 8 candidate rows of a point collapse before the
    // exchange, so the shuffle carries ~1/8 the rows and no sort),
    // while the window shuffled and sorted the full corpus×k cross
    // product. Struct comparison is the same lexicographic (d2, id)
    // order the window's ORDER BY used, and (d2, id) is unique per
    // point (ids are distinct), so the selected centroid is identical.
    val a1 = emb.crossJoin(broadcast(seeds))
      .withColumn("d2",
        (V.normSq(col("embedding")) - lit(2.0) * V.dot(col("embedding"), col("seed")))
          + V.normSq(col("seed")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("seed_id"))).as("m"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"), col("m.seed_id").as("c1"))
    // fixed-point re-estimation: floor(x·2^20) codes, exact int64 sums
    val centDims = a1
      .select(col("c1"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("c1"), col("dim"),
        floor(col("x").cast("double") * lit(1048576.0)).cast("long").as("code"))
      .groupBy(col("c1"), col("dim"))
      .agg(sum(col("code")).as("sc"), count(lit(1)).as("n"))
      // sum/count in code space, then ÷2^20 back to coordinate space —
      // the power-of-two scale is an EXACT mantissa shift, so the round
      // trip costs no precision and stays a fixed two-division IEEE tree
      .withColumn("cd",
        col("sc").cast("double") / col("n").cast("double") / lit(1048576.0))
    val cvecs = centDims.groupBy(col("c1"))
      .agg(
        transform(array_sort(collect_list(struct(col("dim"), col("cd")))),
          e => e("cd")).as("cvec"),
        sum(floor(col("cd") * lit(1048576.0)).cast("long")).as("sig"))
    // same min-struct argmin as pass 1; (d2, c1) unique per point, sig
    // is functionally dependent on c1 and rides in the struct tail
    val a2 = emb.crossJoin(broadcast(cvecs))
      .withColumn("d2",
        (V.normSq(col("embedding")) - lit(2.0) * V.dotFD(col("embedding"), col("cvec")))
          + V.normSqD(col("cvec")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("c1"), col("sig"))).as("m"))
      .select(col("vec_id"), col("m.c1").as("cluster_id"), col("m.sig").as("sig"))
    a2.groupBy(col("cluster_id"), col("sig"))
      .agg(
        count(lit(1)).as("n_members"),
        min(col("vec_id")).as("min_vec_id"),
        sum(col("vec_id")).as("sum_vec_ids"))
      .select(col("cluster_id"), col("n_members"), col("min_vec_id"),
        col("sum_vec_ids"), col("sig"))
      .orderBy(col("cluster_id"))
  }

  /** Mirror: same seeds, same (⟨x,x⟩ − 2·⟨x,c⟩) + ⟨c,c⟩ trees on DOUBLE[]
    * (list_inner_product accumulates in array order — the q20 precedent),
    * same floor-code fixed-point re-estimation, same tie-breaks. */
  val q113Sql: String =
    """WITH emb AS (SELECT vec_id, embedding FROM embeddings),
      |seeds AS (SELECT vec_id AS seed_id, embedding AS seed FROM embeddings WHERE vec_id < 8),
      |a1 AS (
      |  SELECT vec_id, c1 FROM (
      |    SELECT e.vec_id, s.seed_id AS c1,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        (list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
      |         - 2.0 * list_inner_product(e.embedding::DOUBLE[], s.seed::DOUBLE[]))
      |         + list_inner_product(s.seed::DOUBLE[], s.seed::DOUBLE[]),
      |        s.seed_id) AS rn
      |    FROM emb e CROSS JOIN seeds s)
      |  WHERE rn = 1
      |), dims AS (
      |  SELECT a1.c1,
      |    generate_subscripts(e.embedding, 1) AS dim,
      |    CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) * 1048576.0) AS BIGINT) AS code
      |  FROM emb e JOIN a1 USING (vec_id)
      |), cent AS (
      |  SELECT c1, dim,
      |    CAST(SUM(code) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1048576.0 AS cd
      |  FROM dims GROUP BY c1, dim
      |), cvecs AS (
      |  SELECT c1, list(cd ORDER BY dim) AS cvec,
      |    CAST(SUM(CAST(floor(cd * 1048576.0) AS BIGINT)) AS BIGINT) AS sig
      |  FROM cent GROUP BY c1
      |), a2 AS (
      |  SELECT vec_id, cluster_id, sig FROM (
      |    SELECT e.vec_id, c.c1 AS cluster_id, c.sig,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        (list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
      |         - 2.0 * list_inner_product(e.embedding::DOUBLE[], c.cvec))
      |         + list_inner_product(c.cvec, c.cvec),
      |        c.c1) AS rn
      |    FROM emb e CROSS JOIN cvecs c)
      |  WHERE rn = 1
      |)
      |SELECT cluster_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_members,
      |  MIN(vec_id) AS min_vec_id,
      |  CAST(SUM(vec_id) AS BIGINT) AS sum_vec_ids,
      |  sig
      |FROM a2 GROUP BY cluster_id, sig ORDER BY cluster_id""".stripMargin

  // --- triangle counting with degree-ordered orientation (q114) -----------

  /** q114: per-node triangle counts over the part co-occurrence graph
    * (parts ordered together in the same order are linked) — the
    * clustering-coefficient primitive for graph-shaped corpus structure.
    *
    * The algorithm is the scalable one: orient every undirected edge from
    * its lower-(degree, id) endpoint to its higher one, generate wedges
    * only from OUT-edges, and close them against the oriented edge set.
    * Orientation bounds per-node out-degree by O(√m), so wedge volume is
    * O(m^1.5) worst-case instead of Σdeg² — the difference between a
    * plan that survives a power-law co-occurrence graph at 100 TB and one
    * whose hub node alone generates 10¹² wedges. Every triangle has
    * exactly one all-out wedge (at its lowest-ranked vertex), so each is
    * found once, no /3 or /6 correction.
    *
    * The o_orderkey%2 guard halves input density and is part of the
    * operator's law (mirrored in SQL), keeping the oracle's wedge join
    * tractable while leaving a graph dense enough to carry triangles at
    * every shipped SF. */
  def q114Triangles(s: SparkSession, dir: String): DataFrame = {
    val li = Relational.fanOut(t(s, dir, "lineitem"))
      .filter(col("l_orderkey") % 2 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val e0 = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct()
      .persist()
    val deg = e0.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // orient: lower (deg, id) → higher (deg, id)
    val du = deg.select(col("n").as("u"), col("deg").as("du"))
    val dv = deg.select(col("n").as("v"), col("deg").as("dv"))
    val dir0 = e0.join(du, "u").join(dv, "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
      .persist()
    // eager: dir0 fans into three concurrent consumers (both wedge-join
    // sides + the closing union) whose stages race to compute a
    // not-yet-materialized cache — profiled as 3x duplicated
    // orientation-join stages; one count pins a single compute (and the
    // edge count m sizes the Bloom filter below)
    val m = dir0.count()
    // wedges from out-edges (b ranked before c via (deg, id): enforced by
    // requiring the closing edge b→c to EXIST in the oriented set)
    val closing = dir0.select(col("src").as("b"), col("dst").as("c"))
      .unionByName(dir0.select(col("dst").as("b"), col("src").as("c")))
    // Bloom pre-filter (guide §3.2): wedges vastly outnumber triangles
    // (profiled at sf0.1: the wedge exchange wrote 107 MB to produce a
    // 3 MB closed set), so probe each wedge's (b,c) against a Bloom
    // filter over the closing-edge keys BEFORE the exchange. xxhash64
    // keys both sides identically; false positives only ride the shuffle
    // into the exact join, false negatives cannot exist — the result is
    // bit-identical with or without the filter. Scale-adaptive: above
    // 64M edges (≈ 150 MB of filter at 3% fpp — past what every task
    // should hold) the filter is skipped and the plain join stands.
    val bloomMaxEdges = 64000000L
    val wedges0 = dir0.as("e1").join(dir0.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val wedges =
      if (m > bloomMaxEdges) wedges0
      else {
        val bf = closing.select(xxhash64(col("b"), col("c")).as("k"))
          .stat.bloomFilter("k", math.max(2 * m, 1000L), 0.03)
        wedges0.filter(graft.functions.BloomFunctions.mightContainLong(
          xxhash64(col("b"), col("c")), bf))
      }
    val tris = wedges.join(closing, Seq("b", "c"))
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_cnt"))
      .orderBy(col("node"))
  }

  /** Mirror: same guard, same orientation, same one-wedge-per-triangle
    * closure (the e1.dst < e2.dst wedge order plus an either-direction
    * closing-edge probe — a triangle's all-out wedge is unique, so the
    * undirected probe cannot double-count). Pure integers. */
  val q114Sql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem WHERE l_orderkey % 2 = 0
      |), e0 AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |), deg AS (
      |  SELECT n, COUNT(*) AS deg FROM (
      |    SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0)
      |  GROUP BY n
      |), dir0 AS (
      |  SELECT
      |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN u ELSE v END AS src,
      |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN v ELSE u END AS dst
      |  FROM e0 JOIN deg du ON e0.u = du.n JOIN deg dv ON e0.v = dv.n
      |), wedges AS (
      |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM dir0 e1 JOIN dir0 e2 ON e1.src = e2.src AND e1.dst < e2.dst
      |), closing AS (
      |  SELECT src AS b, dst AS c FROM dir0
      |  UNION ALL SELECT dst AS b, src AS c FROM dir0
      |), tris AS (
      |  SELECT a, b, c FROM wedges JOIN closing USING (b, c)
      |)
      |SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_cnt FROM (
      |  SELECT a AS node FROM tris
      |  UNION ALL SELECT b AS node FROM tris
      |  UNION ALL SELECT c AS node FROM tris)
      |GROUP BY node ORDER BY node""".stripMargin

  // --- Simpson diversity of per-source token distributions (q115) ---------

  /** q115: per-source token-distribution concentration — N tokens, V
    * distinct, and the Gini–Simpson diversity 1 − Σc(c−1)/(N(N−1)) (the
    * probability two tokens drawn without replacement differ). The
    * integer-exact twin of Shannon entropy for corpus-mix monitoring: a
    * source whose diversity collapses is templated/boilerplate text.
    * Entropy itself needs Σ c·ln c — an order-sensitive double sum this
    * library refuses to cross-engine-compare; Simpson carries the same
    * signal as pure int64 sums with ONE final IEEE division.
    *
    * Scale shape: one explode + one (source, token) partial-aggregated
    * count, one per-source rollup — the q42 wordcount topology, shuffle
    * bounded by distinct (source, token). */
  def q115Simpson(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.fanOut(t(s, dir, "documents"))
    val toks = docs.select(col("source"),
      explode(graft.text.TextAnalysis.tokens(col("text"))).as("tok"))
    toks.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * (col("c") - 1)).as("coincide"))
      .withColumn("simpson",
        lit(1.0) - col("coincide").cast("double")
          / (col("n_tokens") * (col("n_tokens") - 1)).cast("double"))
      .select(col("source"), col("n_tokens"), col("n_distinct"), col("simpson"))
      .orderBy(col("source"))
  }

  /** Mirror: same tokenizer as q16/q42, same integer law, same single
    * division 1.0 − coincide/(N(N−1)). */
  val q115Sql: String =
    raw"""WITH toks AS (
      |  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      |  FROM documents
      |), counts AS (
      |  SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY source, tok
      |)
      |SELECT source,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |  1.0 - CAST(SUM(c * (c - 1)) AS DOUBLE)
      |      / CAST(SUM(c) * (SUM(c) - 1) AS DOUBLE) AS simpson
      |FROM counts GROUP BY source ORDER BY source""".stripMargin

  // --- chi-square independence for A/B cohorts (q116) ---------------------

  /** q116: chi-square test of independence between the A/B cohort
    * (user_id parity — q106's assignment law) and event_type, computed
    * EXACTLY: per cell, the statistic term (O·N − r·c)²/(N·r·c) is
    * evaluated as a DECIMAL(38)/HUGEINT integer floor division at 10⁻⁶
    * fixed point — (O·N − r·c)² stays ≤10²³ (inside 38 digits), so both
    * engines compute the identical integer — and the total χ² is an
    * integer window sum with ONE final IEEE division. A double Σ over
    * cells would hand the accumulation order to the engine (DuckDB's
    * segment-tree window sums vs Spark's running fold); the fixed-point
    * sum removes that degree of freedom entirely.
    *
    * Output: one row per cell with observed count, expected count at the
    * same 10⁻⁶ fixed point, the cell's χ² term, and the (constant) total
    * χ² and degrees of freedom — the complete printable test readout.
    *
    * Scale shape: one groupBy over (cohort, event_type) with map-side
    * partials; the 2×5 contingency table is driver-size from there. */
  def q116ChiSquare(s: SparkSession, dir: String): DataFrame = {
    val ev = Relational.events(s, dir)
    val cells = ev.select((col("user_id") % 2).cast("long").as("grp"), col("event_type"))
      .groupBy(col("grp"), col("event_type")).agg(count(lit(1)).as("obs"))
    val wAll = Window.partitionBy()
    val wRow = Window.partitionBy(col("grp"))
    val wCol = Window.partitionBy(col("event_type"))
    val withTot = cells
      .withColumn("r", sum(col("obs")).over(wRow))
      .withColumn("c", sum(col("obs")).over(wCol))
      .withColumn("n", sum(col("obs")).over(wAll))
    val dec38 = DecimalType(38, 0)
    val out = withTot
      .withColumn("e_fp", expr("(r * c * 1000000L) div n"))
      .withColumn("diff", col("obs") * col("n") - col("r") * col("c"))
      // `div` (IntegralDivide) truncates like DuckDB's `//` on these
      // non-negative operands; a true decimal `/` would ROUND at result
      // scale first and can cross an integer boundary — not mirrorable.
      .withColumn("num",
        col("diff").cast(dec38) * col("diff").cast(dec38) * lit(1000000L))
      .withColumn("den",
        col("n").cast(dec38) * col("r").cast(dec38) * col("c").cast(dec38))
      .withColumn("term_fp", expr("num div den"))
    val nGrp = out.select(countDistinct(col("grp")).as("ng"),
      countDistinct(col("event_type")).as("nt"))
    out
      .withColumn("chi2_fp", sum(col("term_fp")).over(wAll))
      .crossJoin(broadcast(nGrp))
      .select(
        col("grp"), col("event_type"), col("obs"),
        col("e_fp"), col("term_fp"),
        (col("chi2_fp").cast("double") / lit(1000000.0)).as("chi2"),
        ((col("ng") - 1) * (col("nt") - 1)).as("dof"))
      .orderBy(col("grp"), col("event_type"))
  }

  /** Mirror: HUGEINT is DuckDB's exact int128 — the same integers the
    * Spark side reaches through DECIMAL(38,0); `//` and `div` are both
    * floor division on non-negative operands (squares and totals). */
  val q116Sql: String =
    """WITH cells AS (
      |  SELECT user_id % 2 AS grp, event_type, COUNT(*) AS obs
      |  FROM events GROUP BY 1, 2
      |), tot AS (
      |  SELECT grp, event_type, obs,
      |    SUM(obs) OVER (PARTITION BY grp) AS r,
      |    SUM(obs) OVER (PARTITION BY event_type) AS c,
      |    SUM(obs) OVER () AS n
      |  FROM cells
      |), terms AS (
      |  SELECT grp, event_type, obs,
      |    CAST((r * c * 1000000) // n AS BIGINT) AS e_fp,
      |    CAST(((obs * n - r * c)::HUGEINT * (obs * n - r * c) * 1000000)
      |      // (n::HUGEINT * r * c) AS BIGINT) AS term_fp
      |  FROM tot
      |), dims AS (
      |  SELECT (COUNT(DISTINCT grp) - 1) * (COUNT(DISTINCT event_type) - 1) AS dof
      |  FROM cells
      |)
      |SELECT grp, event_type, obs, e_fp, term_fp,
      |  CAST(SUM(term_fp) OVER () AS DOUBLE) / 1000000.0 AS chi2,
      |  dof
      |FROM terms CROSS JOIN dims
      |ORDER BY grp, event_type""".stripMargin

  // --- exact rolling median (q117) ----------------------------------------

  /** q117: exact 5-point rolling median of event values per user — the
    * robust-smoothing twin of q48's moving average. The window is pinned
    * to exactly 5 rows (rows 1–4 of each user are suppressed), so the
    * median is the 3rd order statistic — a pure ELEMENT PICK with zero
    * arithmetic, which is what makes an exact cross-engine rolling median
    * possible at all (an even window interpolates, and Spark's percentile
    * interpolation tree differs from DuckDB's median tree).
    *
    * Scale shape: one hash-partitioned window per user; the 5-row frame
    * keeps per-row state O(1). The sort inside the frame is over 5
    * elements — constant work per row, no global sort. */
  def q117RollingMedian(s: SparkSession, dir: String): DataFrame = {
    val ev = Relational.events(s, dir)
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val w5 = wOrd.rowsBetween(-4, 0)
    ev.withColumn("rn", row_number().over(wOrd))
      .withColumn("med5", sort_array(collect_list(col("value")).over(w5)).getItem(2))
      .filter(col("rn") >= 5)
      .select(col("user_id"), col("event_id"), col("value"), col("med5"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Mirror: the same 5-row frame; list→sort→3rd element (1-based). */
  val q117Sql: String =
    """SELECT user_id, event_id, value, med5 FROM (
      |  SELECT user_id, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    list_sort(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))[3] AS med5
      |  FROM events)
      |WHERE rn >= 5
      |ORDER BY user_id, event_id""".stripMargin

  // --- lag-1 autocorrelation of daily volumes (q118) ----------------------

  /** q118: per event type, the lag-1 Pearson autocorrelation of the DAILY
    * event count series — the seasonality/burstiness one-number readout
    * over q104's anomaly substrate. Counts are integers, so every moment
    * (n, Σx, Σy, Σxy, Σx², Σy²) is an exact int64 and the correlation is
    * a FIXED four-op IEEE tree over exact inputs — same discipline as
    * q52's corr but with zero decimal casts. Pairs are (day, day+1) via
    * an equi-join on the integer day index: a missing day breaks the
    * chain rather than silently pairing across the gap. */
  def q118Autocorr(s: SparkSession, dir: String): DataFrame = {
    val ev = Relational.events(s, dir)
    val daily = ev.select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("dd"))
      .groupBy(col("event_type"), col("dd")).agg(count(lit(1)).as("cnt"))
    val a = daily.select(col("event_type"), col("dd"), col("cnt").as("x"))
    val b = daily.select(col("event_type"), (col("dd") - 1).as("dd"), col("cnt").as("y"))
    a.join(b, Seq("event_type", "dd"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("n_pairs"),
        (col("n_pairs") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n_pairs") * col("sxx") - col("sx") * col("sx")).as("den1"),
        (col("n_pairs") * col("syy") - col("sy") * col("sy")).as("den2"))
      .withColumn("autocorr",
        col("num").cast("double")
          / (sqrt(col("den1").cast("double")) * sqrt(col("den2").cast("double"))))
      .orderBy(col("event_type"))
  }

  /** Mirror: same integer moments, same num/(√den1·√den2) tree. */
  val q118Sql: String =
    """WITH daily AS (
      |  SELECT event_type, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dd,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2
      |), pairs AS (
      |  SELECT a.event_type, a.cnt AS x, b.cnt AS y
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND b.dd = a.dd + 1
      |), mom AS (
      |  SELECT event_type,
      |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(y * y) AS BIGINT) AS syy
      |  FROM pairs GROUP BY event_type
      |)
      |SELECT event_type, n_pairs,
      |  n_pairs * sxy - sx * sy AS num,
      |  n_pairs * sxx - sx * sx AS den1,
      |  n_pairs * syy - sy * sy AS den2,
      |  CAST(n_pairs * sxy - sx * sy AS DOUBLE)
      |    / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
      |       * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))) AS autocorr
      |FROM mom ORDER BY event_type""".stripMargin

  // --- Damerau–Levenshtein fuzzy scoring (q119) ---------------------------

  /** q119: transposition-aware edit distance over adjacent part names —
    * [[graft.functions.DamerauLevenshtein]], the codegen kernel Spark
    * lacks (builtin `levenshtein` cannot charge a swap at cost 1), next
    * to the builtin for contrast, plus the normalized similarity with a
    * single division. Integer distances: exact by construction; the
    * kernel's unrestricted-DL variant is fuzz-pinned to DuckDB's.
    *
    * Scale shape: the (k, k+1) self-join is an equi-join on a shifted
    * key — shuffle-partitioned, no broadcast of the big side; the O(|a|·|b|)
    * kernel runs as a pure projection. */
  def q119Damerau(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    val p = Relational.fanOut(t(s, dir, "part"))
      .select(col("p_partkey"), col("p_name"))
    val a = p.select(col("p_partkey"), col("p_name").as("name_a"))
    val b = p.select((col("p_partkey") - 1).as("p_partkey"), col("p_name").as("name_b"))
    a.join(b, Seq("p_partkey"))
      .select(
        col("p_partkey"),
        length(col("name_a")).as("len_a"),
        length(col("name_b")).as("len_b"),
        column(graft.functions.DamerauLevenshtein(
          expression(col("name_a")), expression(col("name_b")))).as("dl"),
        levenshtein(col("name_a"), col("name_b")).as("lev"))
      .withColumn("sim",
        lit(1.0) - col("dl").cast("double")
          / greatest(col("len_a"), col("len_b")).cast("double"))
      .orderBy(col("p_partkey"))
  }

  /** Mirror: DuckDB's damerau_levenshtein/levenshtein are byte-oriented
    * but the corpus is ASCII (= code-point equal); same similarity tree. */
  val q119Sql: String =
    """SELECT p_partkey, len_a, len_b, dl, lev,
      |  1.0 - CAST(dl AS DOUBLE) / CAST(greatest(len_a, len_b) AS DOUBLE) AS sim
      |FROM (
      |  SELECT a.p_partkey,
      |    length(a.p_name) AS len_a, length(b.p_name) AS len_b,
      |    CAST(damerau_levenshtein(a.p_name, b.p_name) AS INTEGER) AS dl,
      |    CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS lev
      |  FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1)
      |ORDER BY p_partkey""".stripMargin

  // --- BPE first-merge statistics (q120) ----------------------------------

  /** q120: the statistic a BPE tokenizer trainer computes for its FIRST
    * merge — corpus-wide adjacent character-pair frequencies inside
    * whitespace tokens, ranked. (Iterated to convergence this IS BPE
    * training; the per-round corpus scan below is the scalable unit —
    * counts partial-aggregate map-side, rank is over the tiny distinct-
    * pair table.) Top 20 by (count desc, pair asc). Pure integers.
    */
  def q120BpeStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.fanOut(t(s, dir, "documents"))
    val toks = docs.select(
      explode(graft.text.TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 2)
    val pairs = toks.select(explode(expr(
      "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")).as("pair"))
    val counted = pairs.groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
    counted
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("pair"))))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("pair"), col("cnt"))
      .orderBy(col("rank"))
  }

  /** Mirror: same tokenizer, substr windows, (cnt desc, pair) rank. */
  val q120Sql: String =
    raw"""WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      |  FROM documents
      |), pairs AS (
      |  SELECT substr(tok, g, 2) AS pair
      |  FROM (SELECT tok, unnest(generate_series(1, len(tok) - 1)) AS g
      |        FROM toks WHERE len(tok) >= 2)
      |), counted AS (
      |  SELECT pair, COUNT(*) AS cnt FROM pairs GROUP BY pair
      |)
      |SELECT rank, pair, cnt FROM (
      |  SELECT pair, cnt,
      |    ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rank
      |  FROM counted)
      |WHERE rank <= 20 ORDER BY rank""".stripMargin

  // --- two-sample Kolmogorov–Smirnov (q121) -------------------------------

  /** q121: the two-sample KS statistic between the click and view value
    * distributions — the drift detector a data platform runs between
    * snapshots. D = max |F₁−F₂| evaluated at every distinct value:
    * cumulative counts are INTEGER window sums (order-free), each ECDF
    * step is two exact-int divisions, and the max of deterministic
    * doubles is order-independent — so the whole statistic is
    * cross-engine exact with no ordered float accumulation anywhere.
    * Ties across samples are handled by grouping on the value FIRST, so
    * both ECDFs step together at a shared point. */
  def q121KsTest(s: SparkSession, dir: String): DataFrame = {
    val ev = Relational.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
    val per = ev.groupBy(col("value")).agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ca"),
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("cb"))
    val wCum = Window.orderBy(col("value")).rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    per
      .withColumn("fa", sum(col("ca")).over(wCum))
      .withColumn("fb", sum(col("cb")).over(wCum))
      .withColumn("n1", sum(col("ca")).over(wAll))
      .withColumn("n2", sum(col("cb")).over(wAll))
      .withColumn("diff",
        abs(col("fa").cast("double") / col("n1").cast("double")
          - col("fb").cast("double") / col("n2").cast("double")))
      .orderBy(col("diff").desc, col("value"))
      .limit(1)
      .select(col("n1"), col("n2"), col("diff").as("ks_d"), col("value").as("at_value"))
  }

  /** Mirror: same grouped ECDF steps, same |a/n1 − b/n2| tree, same
    * (diff desc, value) argmax tie-break. */
  val q121Sql: String =
    """WITH per AS (
      |  SELECT value,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM events WHERE event_type IN ('click', 'view') GROUP BY value
      |), steps AS (
      |  SELECT value,
      |    CAST(SUM(ca) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fa,
      |    CAST(SUM(cb) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fb,
      |    CAST(SUM(ca) OVER () AS BIGINT) AS n1,
      |    CAST(SUM(cb) OVER () AS BIGINT) AS n2
      |  FROM per
      |)
      |SELECT n1, n2,
      |  abs(CAST(fa AS DOUBLE) / CAST(n1 AS DOUBLE)
      |    - CAST(fb AS DOUBLE) / CAST(n2 AS DOUBLE)) AS ks_d,
      |  value AS at_value
      |FROM steps
      |ORDER BY ks_d DESC, value LIMIT 1""".stripMargin

  // --- per-type linear trend (q122) ---------------------------------------

  /** q122: ordinary-least-squares daily trend of event values per type —
    * slope/intercept of value against the integer day index, the
    * metric-drift readout. The 2-dp value column is lifted LOSSLESSLY to
    * integer cents (DECIMAL(12,2)·100 → BIGINT — no double rounding
    * anywhere), so all five regression moments are exact int64 (the
    * magnitudes stay < 2^53 by construction at every shipped SF), and
    * slope/intercept are fixed IEEE trees over those integers — the
    * q52/q118 discipline applied to the full OLS readout. */
  def q122Regression(s: SparkSession, dir: String): DataFrame = {
    val ev = Relational.events(s, dir)
    val base = ev.select(col("event_type"),
      datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("x"),
      (col("value").cast("decimal(12,2)") * 100).cast("long").as("yc"))
    base.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("yc")).as("syc"),
        sum(col("x") * col("yc")).as("sxyc"))
      .select(col("event_type"), col("n"),
        (col("n") * col("sxyc") - col("sx") * col("syc")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"),
        col("sx"), col("syc"))
      .withColumn("slope",
        col("num").cast("double") / col("den").cast("double") / lit(100.0))
      .withColumn("intercept",
        (col("syc").cast("double")
          - col("num").cast("double") / col("den").cast("double")
            * col("sx").cast("double"))
          / col("n").cast("double") / lit(100.0))
      .select(col("event_type"), col("n"), col("num"), col("den"),
        col("slope"), col("intercept"))
      .orderBy(col("event_type"))
  }

  /** Mirror: identical cent lift and moment law; the slope/intercept
    * trees are parenthesis-identical. */
  val q122Sql: String =
    """WITH base AS (
      |  SELECT event_type,
      |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS yc
      |  FROM events
      |), mom AS (
      |  SELECT event_type,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(yc) AS BIGINT) AS syc,
      |    CAST(SUM(x * yc) AS BIGINT) AS sxyc
      |  FROM base GROUP BY event_type
      |)
      |SELECT event_type, n,
      |  n * sxyc - sx * syc AS num,
      |  n * sxx - sx * sx AS den,
      |  CAST(n * sxyc - sx * syc AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
      |    / 100.0 AS slope,
      |  (CAST(syc AS DOUBLE)
      |    - CAST(n * sxyc - sx * syc AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
      |      * CAST(sx AS DOUBLE))
      |    / CAST(n AS DOUBLE) / 100.0 AS intercept
      |FROM mom ORDER BY event_type""".stripMargin
}
