package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY §2.4).
  *
  * The reference dedups with `drop_duplicates(subset=[station, ts],
  * keep='first')` before pivoting (discharge_obs_pd.py:109,150) and drops
  * DST-duplicate indices (`~index.duplicated()`, discharge_obs_pd.py:68-71).
  * pandas' "first" depends on ingest file order; here the caller passes an
  * explicit total ordering, making keep-first deterministic and
  * shuffle-parallel (one hash shuffle on the key, no global sort).
  */
object Dedup {

  /** D1 — keep the first row per key under `order` (must be a total order
    * for determinism). One shuffle on `keys`; rank within partition.
    */
  def dedupFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** D3 — year-rollover disambiguation (dischargeobs_write_xl.py:403-404):
    * any NON-FIRST occurrence of the same (yearless) timestamp is shifted
    * exactly +1 year — pandas `duplicated(keep='first')` flags all
    * subsequent occurrences and each gets one DateOffset(years=1), not a
    * cumulative shift. `order` reproduces the source file order.
    */
  def yearRollover(df: DataFrame, dateKey: Seq[String], order: Seq[Column],
                   tsCol: String): DataFrame = {
    val w = Window.partitionBy(dateKey.map(col): _*).orderBy(order: _*)
    df.withColumn("__occ", row_number().over(w))
      .withColumn(tsCol,
        expr(s"timestampadd(YEAR, CASE WHEN __occ > 1 THEN 1 ELSE 0 END, `$tsCol`)"))
      .drop("__occ")
  }
}
