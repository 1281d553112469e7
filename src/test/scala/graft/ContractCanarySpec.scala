package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** r9 hardening: the r8 testdata refresh broke 10 queries with zero red
  * local tests (coverage-only specs never EXECUTED q09/q14/q27–q30). This
  * suite closes that class of escape three ways:
  *  1. every SparkEntry query is executed end-to-end on sf0.001;
  *  2. the schema canary is green on all shipped SFs and loud on forced
  *     drift;
  *  3. Relational.events() reads BOTH physical encodings the driver has
  *     shipped (nanos-as-long and native timestamp) to identical values.
  */
class ContractCanarySpec extends GraftSuite {

  test("every registered query executes on sf0.001 (no-throw, empties pinned)") {
    val dir = "/root/testdata/sf0.001"
    val failures = scala.collection.mutable.ListBuffer[String]()
    val empties  = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try { if (fn(spark, dir).count() == 0L) empties += name }
      catch { case e: Throwable =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}" }
    }
    assert(failures.isEmpty, s"queries threw:\n  ${failures.mkString("\n  ")}")
    // Queries allowed to be empty at sf0.001 ONLY — an unexpected empty is
    // a regression signal even when nothing throws. (Populated at r9 from
    // an audited run; update deliberately, not reflexively.)
    // q05: the anti-join has no unmatched rows at the smallest SF — the
    // DuckDB oracle returns the same empty set (hash-green in r8).
    val allowedEmpty = Set("q05_anti_join")
    assert(empties.toSet.subsetOf(allowedEmpty),
      s"unexpectedly empty at sf0.001: ${(empties.toSet -- allowedEmpty).toSeq.sorted.mkString(", ")}")
  }

  test("schema canary is green on every shipped SF") {
    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val drift = Schemas.check(spark, s"/root/testdata/sf$sf") ++
        Schemas.checkEmbeddingDim(spark, s"/root/testdata/sf$sf")
      assert(drift.isEmpty, s"sf$sf drift:\n  ${drift.mkString("\n  ")}")
    }
  }

  test("schema canary is loud on forced drift (negative test)") {
    val dir = tempDir("canary-neg")
    // events with ts as STRING (a type the engine has never supported) and
    // a missing props column and an extra col — all three drift kinds fire
    import spark.implicits._
    Seq((1L, "2024-01-01", 7L, "click", 0.5, "x"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "surprise")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val drift = Schemas.check(spark, dir.toString)
    assert(drift.exists(_.contains("events.ts: dtype string")), drift.mkString("; "))
    assert(drift.exists(_.contains("events.props: MISSING")), drift.mkString("; "))
    assert(drift.exists(_.contains("events.surprise: UNEXPECTED")), drift.mkString("; "))
    // other tables report missing files rather than passing vacuously
    assert(drift.exists(_.startsWith("lineitem: MISSING")))
  }

  // --- mechanical scalar-spec gate (r10 #3 / r11 verdict #2) ----------------
  //
  // The r10 lesson, hit twice (q150 single-space separator, q153 post-gate
  // bigram total): the DuckDB-oracle hash CANNOT catch a semantic error when
  // both engines share the same non-obvious primitive semantics — only a
  // scalar/hand-derivation spec can. Until r12 that defense was convention.
  // These tests make it a mechanism: every query must be NAMED by a spec
  // file (the qN token), except a FROZEN pre-r10 legacy set whose evidence
  // is operator-level suites (Dedup/Ann/Loader/Relational…) + the oracle +
  // the execution canary above. Any query added without a spec goes red
  // here; any addition to the frozen set is a loud, reviewable diff.

  /** Pre-r10 queries exempt from the qN-token rule. EMPTY since r13:
    * seven burn-down batches (GrandfatherScalarSpec) wrote an
    * independent scalar/hand-derivation spec for every one of the 47
    * queries the r10 gate originally froze — q35/q73/q74/q75/q77, the
    * hash-signature kernels, the media decoders, the heuristics/sketch/
    * boundary/as-of family, clustering/top-k/CDC/sessionize, dedup keys
    * and skew plumbing, and finally the relational core. Every query on
    * the surface now carries scalar evidence; keep it that way — new
    * queries must name their qN id in a spec BEFORE registering. */
  private val scalarSpecGrandfather: Set[String] = Set.empty

  test("scalar-spec gate: every non-grandfathered query is named by a spec file (mechanical, red on an unspec'd qN)") {
    // Plan audits (PlanShapeSpec) and this file's own lists don't count as
    // scalar evidence; neither does the entry-point smoke suite.
    val notEvidence = Set("ContractCanarySpec.scala", "SparkEntrySpec.scala",
      "PlanShapeSpec.scala")
    val specDir = java.nio.file.Paths.get("src/test/scala/graft")
    assert(java.nio.file.Files.isDirectory(specDir),
      s"gate must run from the repo root, cwd=${sys.props("user.dir")}")
    import scala.jdk.CollectionConverters._
    val texts = java.nio.file.Files.list(specDir).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith("Spec.scala"))
      .filterNot(p => notEvidence(p.getFileName.toString))
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toSeq
    assert(texts.size > 20, "spec scan found suspiciously few files")
    val unspecced = SparkEntry.queries.keySet
      .diff(scalarSpecGrandfather)
      .filter { name =>
        val tok = name.takeWhile(_ != '_')
        val pat = java.util.regex.Pattern.compile(
          "(?i)\\b" + tok + "(?![0-9])")
        !texts.exists(t => pat.matcher(t).find())
      }
    assert(unspecced.isEmpty,
      s"queries with NO spec naming their qN id (write a scalar/hand-derivation spec " +
        s"— the r10 rule — before registering): ${unspecced.toSeq.sorted.mkString(", ")}")
    // the frozen set itself must stay a subset of the live surface (a
    // renamed/removed query must be pruned here deliberately, not linger)
    val stale = scalarSpecGrandfather.diff(SparkEntry.queries.keySet)
    assert(stale.isEmpty, s"grandfather entries for queries that no longer exist: $stale")
  }

  test("mutation canary: single-space BPE separator is caught by the scalar greedy reference (the q150 trap)") {
    // the adjacent-merge corpus where the kernels diverge: 'abab' with
    // merge (a,b) → greedy BPE gives [ab, ab] = 2 symbols
    val scalarExpected = 2L
    def sparkCount(seg: org.apache.spark.sql.Column,
                   pattern: String, repl: String, sep: String): Long =
      spark.range(1).select(
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.trim(
              org.apache.spark.sql.functions.call_function("replace",
                seg, lit(pattern), lit(repl))), sep))
          .cast("long")).head().getLong(0)
    // the REAL two-space kernel (Bpe.applyMerges's shape) agrees with it
    val good = sparkCount(lit(" a  b  a  b "), " a  b ", " ab ", "  ")
    assert(good == scalarExpected, s"two-space kernel broke: $good")
    // the MUTANT whole-kernel single-space variant: each match eats the
    // shared separator space, so the second adjacent merge is skipped —
    // IDENTICALLY in DuckDB (same LTR non-overlapping replace), which is
    // why the oracle hash stayed green in r10 and only this scalar
    // comparison goes red
    val mutant = sparkCount(lit(" a b a b "), " a b ", " ab ", " ")
    assert(mutant != scalarExpected,
      "single-space mutant was NOT caught — the spec layer lost its trap coverage")
    assert(mutant == 3L, s"trap shape drifted: $mutant")
  }

  test("mutation canary: post-gate PMI total is caught by the scalar lift reference (the q153 trap)") {
    // hand corpus: bigram counts {good: 6, rare1..rare3: 1 each} with
    // unigram counts chosen so lift is clean. T = total unigrams,
    // B_pre = 9 (all bigrams), B_post = 6 (after the c_xy >= 5 gate).
    val cxy = 6L; val cx = 7L; val cy = 7L; val tt = 20L
    val bPre = 9L; val bPost = 6L
    def liftFp(b: Long): Long = cxy * tt * tt * 1000000L / (b * cx * cy)
    val scalarReference = liftFp(bPre)
    val mutant = liftFp(bPost)
    // both engines would compute the SAME wrong number from the same
    // mirrored SQL shape — the hash cannot catch it; the scalar check does
    assert(mutant != scalarReference,
      "post-gate-total mutant was NOT caught — the spec layer lost its trap coverage")
    // and the production arm uses the pre-gate total: recompute q153's
    // lift on a planted corpus both ways and pin the divergence
    import spark.implicits._
    val dir = tempDir("pmi-postgate")
    val text = (Seq.fill(6)("x y").mkString(" ") + " p q r s t u")
    Seq((1L, text, "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.ops.ScaleOps18.q153PmiLift(spark, dir.toString)
      .filter($"w1" === "x" && $"w2" === "y").head()
    // scalar: tokens = 12·'x y' interleaved… compute directly from the corpus
    val toks = text.split("\\s+").toSeq
    val uniC = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bi = toks.zip(toks.tail)
    val biC = bi.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val t2 = toks.size.toLong
    val bAll = bi.size.toLong
    val expect = biC(("x", "y")) * t2 * t2 * 1000000L /
      (bAll * uniC("x") * uniC("y"))
    assert(got.getAs[Long]("lift_fp") == expect,
      s"q153 must use the PRE-gate bigram total: got ${got.getAs[Long]("lift_fp")}, scalar $expect")
    val postGateWrong = biC(("x", "y")) * t2 * t2 * 1000000L /
      (biC.filter(_._2 >= 5).values.sum * uniC("x") * uniC("y"))
    assert(expect != postGateWrong, "corpus no longer separates pre/post-gate totals")
  }

  test("events() reads nanos-as-long and native-timestamp encodings to identical values") {
    val native = graft.ops.Relational.events(spark, "/root/testdata/sf0.001")
    assert(native.schema("ts").dataType == TimestampType,
      s"native path must surface TimestampType, got ${native.schema("ts").dataType}")

    // Synthesize the legacy world: same rows, ts as nanos-since-epoch long
    // (exactly what a TIMESTAMP(NANOS) file presents under nanosAsLong).
    val dir = tempDir("events-nanos")
    native
      .withColumn("ts", (unix_micros(col("ts")) * lit(1000L) + lit(789L)).as("ts"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val legacy = graft.ops.Relational.events(spark, dir.toString)
    assert(legacy.schema("ts").dataType == TimestampType)
    // sub-µs nanos (the +789) truncate away; both worlds agree row-for-row
    val mismatch = native.select("event_id", "ts")
      .except(legacy.select("event_id", "ts"))
    assert(mismatch.isEmpty, "nanos-as-long and native reads must agree after ns→µs truncation")
  }
}
