package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Coalescing merge operators (SURVEY §2.5 — the J3/J9 precedence duality).
  *
  * Two opposite cell-level upsert precedences both exist in the reference:
  *  - `combine_first` (discharge_obs_pd.py:176-190): OLD non-null wins, new
  *    fills holes — the merge-upsert used for instantaneous partitions.
  *  - `Series.update` (dischargeobs_write_xl.py:351): NEW non-null wins.
  *
  * In the long (key → value) model each is one full-outer join plus one
  * `coalesce` per value column. The join shuffles both sides on `keys`; at
  * scale both sides are parquet tables partitioned identically (yyyymm), so
  * only the overlapping partitions need to be read (partition pruning does
  * that when callers filter on the partition key).
  */
object Merge {

  /** Name of the per-row flag `combineFirstChanged` adds. */
  val ChangedCol = "__changed"

  private def merge(old: DataFrame, nw: DataFrame, keys: Seq[String],
                    valueCols: Seq[String], oldWins: Boolean,
                    withChanged: Boolean = false): DataFrame = {
    val o = old.select((keys ++ valueCols).map(col): _*)
      .withColumnsRenamed(valueCols.map(c => c -> s"__o_$c").toMap)
      .withColumn("__o_row", lit(true))
    val n = nw.select((keys ++ valueCols).map(col): _*)
      .withColumnsRenamed(valueCols.map(c => c -> s"__n_$c").toMap)
    val joined = o.join(n, keys, "full_outer") // using-join coalesces keys
    val merged = valueCols.map { c =>
      val (a, b) = if (oldWins) (s"__o_$c", s"__n_$c") else (s"__n_$c", s"__o_$c")
      c -> coalesce(col(a), col(b))
    }
    // a merged row differs from the stored one when the old side had no
    // row, or when the precedence picked a value the old cell did not hold
    val changed = if (!withChanged) Nil else Seq(
      merged.map { case (c, v) => !v.eqNullSafe(col(s"__o_$c")) }
        .foldLeft(col("__o_row").isNull)(_ || _).as(ChangedCol))
    joined.select(keys.map(col) ++ merged.map { case (c, v) => v.as(c) } ++ changed: _*)
  }

  /** J3 — combine_first: old wins, new fills gaps. */
  def combineFirst(old: DataFrame, nw: DataFrame, keys: Seq[String],
                   valueCols: Seq[String]): DataFrame =
    merge(old, nw, keys, valueCols, oldWins = true)

  /** J3 with a per-row boolean `ChangedCol`: true where the merged row is
    * not already in `old` — its key is absent there, or a null old cell was
    * filled by a non-null new value. An all-false result means the merge is
    * a no-op on `old`, so a caller persisting `old` can skip the write.
    */
  def combineFirstChanged(old: DataFrame, nw: DataFrame, keys: Seq[String],
                          valueCols: Seq[String]): DataFrame =
    merge(old, nw, keys, valueCols, oldWins = true, withChanged = true)

  /** J9 — update: new wins, old kept where new is null or absent. */
  def updateWith(old: DataFrame, nw: DataFrame, keys: Seq[String],
                 valueCols: Seq[String]): DataFrame =
    merge(old, nw, keys, valueCols, oldWins = false)
}
