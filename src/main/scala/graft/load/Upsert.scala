package graft.load

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Upsert = last-wins dedup + full-outer key join + per-column coalesce —
  * the reference's per-row MERGE/UPDATE-then-INSERT loop
  * (src/file-to-sql-loader.py:1301-1366) restated as ONE Catalyst plan.
  *
  * Scale behavior: the join shuffles both sides by the primary key (or
  * broadcasts the source if small — Catalyst/AQE decides); no driver loops,
  * no per-row round-trips. Duplicate keys inside the source resolve
  * last-wins on the file-order ordinal (test contract
  * test/test_upsert_operations.py:361-395). Atomicity comes from the
  * write-temp-then-swap commit in Loader (a concurrent reader sees
  * old-or-new, never partial — SURVEY §7.4 note 4; on a lakehouse catalog
  * this maps directly onto MERGE INTO).
  */
object Upsert {

  /** Deduplicate the source on `pk`, keeping the row with the highest
    * `ordinalCol` (file order). */
  def dedupLastWins(source: DataFrame, pk: Seq[String], ordinalCol: String): DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*).orderBy(col(ordinalCol).desc)
    source.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", ordinalCol)
  }

  /** Merge `source` into `target` on `pk`. Non-key columns take the source
    * value when the key matched or is new, else the target value. Columns
    * present in only one side pass through (append-style schema tolerance).
    * Adds `__merge_action` ∈ {inserted, updated, kept} for count auditing —
    * strip before persisting. */
  def merge(target: DataFrame, source: DataFrame, pk: Seq[String]): DataFrame = {
    val tCols = target.columns.toSeq
    val sCols = source.columns.toSeq
    val t = tCols.filterNot(pk.contains).foldLeft(target) { (df, c) =>
      df.withColumnRenamed(c, s"__t_$c")
    }
    val s = sCols.filterNot(pk.contains).foldLeft(source) { (df, c) =>
      df.withColumnRenamed(c, s"__s_$c")
    }
    // track row existence on each side through the full-outer join
    val tFlag = t.withColumn("__in_target", lit(true))
    val sFlag = s.withColumn("__in_source", lit(true))
    val joined = tFlag.join(sFlag, pk, "full_outer")
    val outCols = (tCols ++ sCols.filterNot(tCols.contains)).map { c =>
      if (pk.contains(c)) col(c)
      else {
        val hasT = tCols.contains(c)
        val hasS = sCols.contains(c)
        if (hasT && hasS) when(col("__in_source"), col(s"__s_$c")).otherwise(col(s"__t_$c")).as(c)
        else if (hasS) col(s"__s_$c").as(c)
        else col(s"__t_$c").as(c)
      }
    }
    val action = when(col("__in_source") && col("__in_target"), lit("updated"))
      .when(col("__in_source"), lit("inserted"))
      .otherwise(lit("kept"))
    joined.select(outCols :+ action.as("__merge_action"): _*)
  }

  /** Snapshot diff (change-data-capture between two table versions): one
    * full-outer join on the primary key classifies every key as
    * inserted / deleted / changed / unchanged, with null-safe comparison
    * over the shared non-key columns. The audit-side complement of
    * `merge`: run it between yesterday's and today's snapshot to get the
    * change feed the reference's row-at-a-time loader never had. One
    * shuffle on the key; at scale both sides should be bucketed on the pk
    * (Scale.bucketedMirror) making the diff exchange-free. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, pk: Seq[String]): DataFrame = {
    // Compare over the UNION of non-key columns: a column present on only
    // one side reads as null on the other, so schema drift (dropped/added
    // columns) surfaces as "changed" rather than being silently excluded.
    val oldCols = oldDf.columns.toSeq.filterNot(pk.contains)
    val newCols = newDf.columns.toSeq.filterNot(pk.contains)
    val all = (oldCols ++ newCols.filterNot(oldCols.contains))
    val reserved = Seq("__in_old", "__in_new") ++ all.flatMap(c => Seq(s"__o_$c", s"__n_$c"))
    val collisions = (oldDf.columns ++ newDf.columns).toSet.intersect(reserved.toSet)
    require(collisions.isEmpty,
      s"snapshotDiff: input columns collide with internal helper names: ${collisions.mkString(", ")}")
    def side(df: DataFrame, cols: Seq[String], p: String, flag: String): DataFrame = {
      val renamed = cols.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"$p$c"))
      val withMissing = all.filterNot(cols.contains)
        .foldLeft(renamed)((d, c) => d.withColumn(s"$p$c", lit(null)))
      withMissing.withColumn(flag, lit(true))
    }
    val o = side(oldDf, oldCols, "__o_", "__in_old")
    val n = side(newDf, newCols, "__n_", "__in_new")
    val same = all.map(c => col(s"__o_$c") <=> col(s"__n_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val change = when(!coalesce(col("__in_old"), lit(false)), lit("inserted"))
      .when(!coalesce(col("__in_new"), lit(false)), lit("deleted"))
      .when(same, lit("unchanged"))
      .otherwise(lit("changed"))
    o.join(n, pk, "full_outer")
      .select(pk.map(col) :+ change.as("change"): _*)
  }
}
