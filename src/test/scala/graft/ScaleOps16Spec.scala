package graft

import org.apache.spark.sql.functions._

/** Ground-truth laws for the round-9 batch-15 operators: vocabulary
  * drift (q147) and sorted-neighborhood dedup (q148). */
class ScaleOps16Spec extends GraftSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def writeDocs(dir: java.nio.file.Path,
                        rows: Seq[(Long, String)]): Unit =
    rows.map { case (id, txt) => (id, txt, "en", "src0", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  // --- q147 token drift ----------------------------------------------------

  test("q147: hand halves — a balanced token scores 0, a one-sided token tops the ranking") {
    val dir = tempDir("q147-hand")
    // even docs (half A): "same drifted drifted"; odd docs (half B):
    // "same".  'same' appears once per doc on both sides (balanced-ish),
    // 'drifted' is A-only ⇒ must rank first with ca=4, cb=0.
    writeDocs(dir, Seq(
      (0L, "same drifted drifted"), (2L, "same drifted drifted"),
      (1L, "same"), (3L, "same")))
    val rows = graft.ops.ScaleOps16.q147TokenDrift(spark, dir.toString).collect()
    val top = rows.head
    assert(top.getAs[String]("tok") == "drifted")
    assert(top.getAs[Long]("ca") == 4L && top.getAs[Long]("cb") == 0L)
    // NA = 6 (2 same + 4 drifted), NB = 2; 'same': diff = 2·2 − 2·6 = −8
    // ⇒ nonzero (share 1/3 vs 1); 'drifted': diff = 4·2 − 0 = 8,
    // score = 64·10⁶ div (4·6·2) = 1333333
    assert(top.getAs[Long]("score_fp") == 64L * 1000000L / 48L)
  }

  test("q147: real corpus — scores re-derive and ranking is (score desc, token)") {
    val rows = graft.ops.ScaleOps16.q147TokenDrift(spark, sf).collect()
      .map(r => (r.getAs[String]("tok"), r.getAs[Long]("ca"),
        r.getAs[Long]("cb"), r.getAs[Long]("score_fp")))
    assert(rows.length == 20)
    val keys = rows.map(r => (-r._4, r._1)).toSeq
    assert(keys == keys.sorted, "must be ordered by score desc, token")
    // independent scalar re-score of the returned rows
    val toks = graft.ops.Relational.t(spark, sf, "documents")
      .select((col("doc_id") % 2 === 0).as("a"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .collect().map(r => (r.getBoolean(0), r.getString(1)))
    val na = toks.count(_._1).toLong; val nb = toks.size - na
    val byTok = toks.groupBy(_._2).view
      .mapValues(v => (v.count(_._1).toLong, v.count(!_._1).toLong)).toMap
    rows.foreach { case (tok, ca, cb, score) =>
      assert(byTok(tok) == (ca, cb))
      val diff = BigInt(ca) * nb - BigInt(cb) * na
      assert(BigInt(score) == diff * diff * 1000000 / (BigInt(ca + cb) * na * nb))
    }
  }

  test("q147: forced-scale branch is value-identical when k divides the totals (score invariance made code)") {
    import spark.implicits._
    // the counts of the corpus {even: "same drifted drifted" ×2,
    // odd: "same" ×2}: NA=6, NB=2
    val byTok = Seq(("same", 2L, 2L), ("drifted", 4L, 0L)).toDF("tok", "ca", "cb")
    def scored(bound: BigInt) = graft.ops.ScaleOps16.q147DriftScored(byTok, 6L, 2L, bound)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val exact = scored(graft.ops.ScaleOps16.DriftMaxNaNb)
    // NA·NB=12 > 6 forces the pre-scaled branch with k = ceil(12/6) = 2;
    // half-up rounding gives naS=3, nbS=1 — the exact 3:1 proportion, so
    // the invariance is EXACT and the whole row set (scores included)
    // must be bit-identical
    val scaled = scored(6)
    assert(scaled == exact, s"forced-scale diverged:\n  $scaled\n  $exact")
    assert(scaled.forall(_._4 >= 0L))
  }

  test("q147: OVER-BOUND synthetic counts — the scaled branch reproduces the BigInt-exact ranking with no silent nulls (the r10 prose bound, now a measured branch)") {
    import spark.implicits._
    // counts at a scale where the EXACT arithmetic cannot run: na·nb ≈
    // 3.7e21 ≫ 10¹⁶ means diff²·10⁶ would blow DECIMAL(38) by five
    // decades. 20 one-sided probe tokens with drift magnitudes on a 4 %
    // ladder (scores ≈ 10⁶·dᵢ·nb/na — strictly separated by design), plus
    // one background token absorbing the remaining mass on both halves.
    val ds = (0 until 20).map(i => 1000000000L - i * 40000000L)
    val probes = ds.zipWithIndex.map { case (d, i) => (f"tok$i%02d", d, 0L) }
    val bg = ("zzbg", 60000000000L - ds.sum, 61000000000L)
    val toks = probes :+ bg
    val na = toks.map(_._2).sum; val nb = toks.map(_._3).sum
    assert(BigInt(na) * BigInt(nb) > graft.ops.ScaleOps16.DriftMaxNaNb * 1000)
    val byTok = toks.toDF("tok", "ca", "cb")
    val got = graft.ops.ScaleOps16.q147DriftScored(byTok, na, nb,
        graft.ops.ScaleOps16.DriftMaxNaNb)
      .collect().map(r => (r.getString(0), r.getLong(3)))
    assert(got.length == 20)
    assert(got.forall(_._2 >= 0L), "no silent nulls / negatives")
    // BigInt-exact reference of the TRUE (unscaled) formula
    val exact = toks.map { case (t, ca, cb) =>
      val diff = BigInt(ca) * nb - BigInt(cb) * na
      (t, diff * diff * 1000000 / (BigInt(ca + cb) * na * nb))
    }.sortBy { case (t, s) => (-s, t) }.take(20)
    assert(got.map(_._1).toSeq == exact.map(_._1),
      s"scaled ranking diverged from BigInt-exact:\n  ${got.map(_._1).toSeq}\n  ${exact.map(_._1)}")
    got.zip(exact).foreach { case ((t, s), (_, e)) =>
      val rel = (BigInt(s) - e).abs.toDouble / math.max(1.0, e.toDouble)
      assert(rel <= 1e-3, s"$t: scaled score $s vs exact $e (rel $rel)")
    }
  }

  test("q147: a bound overridden past the hard DECIMAL(38) limit fails LOUDLY, not with silent nulls") {
    import spark.implicits._
    // na·nb ≈ 10¹⁹ passes a (mis)configured 10²⁰ guard, so the exact
    // branch runs and diff²·10⁶ overflows DECIMAL(38) → the per-row
    // assert_true must fail the job with the q147 message — the silent
    // NULL that used to vanish from the top-20 is now unreachable
    val byTok = Seq(("hot", 3200000000L, 1L), ("cold", 1L, 3200000000L))
      .toDF("tok", "ca", "cb")
    val e = intercept[Throwable] {
      graft.ops.ScaleOps16.q147DriftScored(byTok, 3200000001L, 3200000001L,
        BigInt(10).pow(20)).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
    // two loud modes, both acceptable: under ANSI (the Spark 4 default)
    // the DECIMAL(38) multiplication itself raises NUMERIC_VALUE_OUT_OF_RANGE;
    // under ansi=false it NULLs and the per-row assert_true fires instead
    assert(chain(e).exists(m => m.contains("q147: score_fp overflowed") ||
        m.contains("NUMERIC_VALUE_OUT_OF_RANGE")),
      s"expected a loud overflow, got: ${chain(e).mkString(" | ")}")
  }

  // --- q148 sorted-neighborhood dedup --------------------------------------

  test("q148: hand corpus — neighbors in key order pair, far keys don't, distance law exact") {
    val dir = tempDir("q148-hand")
    // docs 1/2 share a 24-char key prefix and differ by one char inside
    // the 40-char compare prefix (distance 1); doc 3 sorts adjacent but
    // its prefix is ≫8 edits away; doc 4 is in another block entirely
    writeDocs(dir, Seq(
      (1L, "aa quick brown fox jumps over the lazy dog"),
      (2L, "aa quick brown fox jumps ever the lazy dog"),
      (3L, "aa zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"),
      (4L, "bb totally different block")))
    val got = graft.ops.ScaleOps16.q148SnmDedup(spark, dir.toString)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("dist"))).toSeq
    assert(got == Seq((1L, 2L, 1L)))
  }

  test("q148: real corpus — every pair re-verifies distance ≤ 8 and window adjacency ≤ 3") {
    val docs = graft.ops.Relational.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val keyed = docs.map { case (id, t0) =>
      val t = t0.trim.toLowerCase
      (id, t.take(24), t.take(40))
    }
    val got = graft.ops.ScaleOps16.q148SnmDedup(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("dist")))
    assert(got.nonEmpty)
    // scalar SNM over the same key order (blocked by 2-char prefix)
    val expected = keyed.groupBy(_._2.take(2)).values.flatMap { blk =>
      val sorted = blk.toSeq.sortBy(r => (r._2, r._1))
      for {
        i <- sorted.indices; k <- 1 to 3 if i + k < sorted.length
        a = sorted(i); b = sorted(i + k)
        d = levenshteinScalar(a._3, b._3) if d <= 8
      } yield (math.min(a._1, b._1), math.max(a._1, b._1), d.toLong)
    }.toSet
    assert(got.toSet == expected)
  }

  test("q148: skewed corpus — rank-join path row-identical to the windowed reference when one key run holds 40%") {
    val dir = tempDir("q148-skew")
    // 200 docs in ONE block: 80 share the identical 24-char sort key
    // (ties break by doc_id — the windowed form's worst case), the rest
    // spread; plus a second small block. The rank-join path must
    // reproduce the windowed reference EXACTLY, including inside the
    // tie run where order is doc_id-only.
    val hot = "aa shared twenty-four ch" // 24 chars
    val rows = (0L until 80L).map(i => (i, hot + s"ars tail varies $i")) ++
      (80L until 180L).map(i => (i, f"aa key number $i%03d distinct body")) ++
      (180L until 200L).map(i => (i, s"zz other block doc $i"))
    writeDocs(dir, rows)
    val fast = graft.ops.ScaleOps16.q148SnmDedupRankJoin(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val ref = graft.ops.ScaleOps16.q148SnmDedupWindowed(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(fast.nonEmpty && fast == ref,
      s"rank-join and windowed SNM must agree: ${fast.size} vs ${ref.size}")
    // the adaptive entry must route through the rank-join branch when the
    // measured block bound is forced low, with identical rows
    spark.conf.set("graft.snm.maxBlockRows", "50")
    try {
      val adaptive = graft.ops.ScaleOps16.q148SnmDedup(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(adaptive == ref)
    } finally spark.conf.unset("graft.snm.maxBlockRows")
  }

  test("q147 drift-bound edge (r13 verdict #5): the extremal corpus shape — one token owning EVERY occurrence at the 10^16 bound — overflows DECIMAL(38) and fails LOUDLY under ANSI, never a silently null-dropped row") {
    import spark.implicits._
    // na*nb = 10^16 == the hard default bound -> the EXACT branch runs
    // (pre-scaling only engages strictly ABOVE it); with one token
    // holding every half-A occurrence, diff = ca*nb = 10^16 exactly and
    // diff*diff*10^6 = 10^38 — one past DECIMAL(38)'s ceiling. This is
    // the single extremal point the q147 Scaladoc argues fails loudly;
    // the argument is now a red-on-silent-overflow test.
    val na = 100000000L; val nb = 100000000L
    val byTok = Seq(("allofit", na, 0L)).toDF("tok", "ca", "cb")
    val ex = intercept[Throwable] {
      graft.ops.ScaleOps16.q147DriftScored(byTok, na, nb,
        maxNaNb = BigInt(10).pow(16)).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(c => c.isInstanceOf[ArithmeticException] ||
        String.valueOf(c.getMessage).toLowerCase.contains("overflow") ||
        String.valueOf(c.getMessage).contains("NUMERIC_VALUE_OUT_OF_RANGE")),
      s"expected a loud ANSI decimal overflow, got: $ex")
    // one order of magnitude inside the bound, the same extremal shape
    // computes: diff^2 * 10^6 = 10^34 fits DECIMAL(38) comfortably
    val ok = graft.ops.ScaleOps16.q147DriftScored(
      Seq(("allofit", 10000000L, 0L)).toDF("tok", "ca", "cb"),
      10000000L, 10000000L, BigInt(10).pow(16)).collect()
    assert(ok.length == 1 && ok.head.getAs[Long]("score_fp") > 0L)
  }

  private def levenshteinScalar(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }
}
