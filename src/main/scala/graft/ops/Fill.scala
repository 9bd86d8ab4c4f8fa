package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-filling window operators (SURVEY §2.7).
  *
  * W1 — forward-fill: `fillna(method='ffill')` per station down time order
  * (discharge_obs_pd.py:120-121,165; dischargeobs_write_xl.py:355). The
  * bounded variant (T5) fills only up to a cutoff timestamp — the reference
  * fills "up until current day" (dischargeobs_write_xl.py:353-355).
  *
  * Implementation: `last(value, ignoreNulls)` over an unbounded-preceding
  * running frame. Cost at scale: one shuffle on the partition keys + one
  * sort within partitions; no state accumulates on the driver.
  */
object Fill {

  /** Forward-fill `valueCol` within `parts` ordered by `order`. If `cutoff`
    * is given, rows where the predicate is false keep their original value
    * (bounded ffill, T5). `parts` must be non-empty — a partitionless
    * window single-threads a data-sized frame; for bounded sheet/export
    * frames that genuinely need a global order, use `ffillBounded`, which
    * declares that contract.
    */
  def ffill(df: DataFrame, parts: Seq[String], order: Seq[Column],
            valueCol: String, outCol: String,
            cutoff: Option[Column] = None): DataFrame = {
    require(parts.nonEmpty,
      "ffill needs partition keys; for bounded export frames use ffillBounded")
    val w = Window.partitionBy(parts.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = last(col(valueCol), ignoreNulls = true).over(w)
    val v = cutoff match {
      case Some(pred) => when(pred, filled).otherwise(col(valueCol))
      case None       => filled
    }
    df.withColumn(outCol, v)
  }

  /** Global-order forward-fill for BOUNDED sheet/export frames ONLY (a
    * workbook sheet is at most a year of rows by construction —
    * dischargeobs_write_xl.py sheets, discharge_obs_pd.py:114-127 reads).
    * The single partition is EXPLICIT (constant key) — the declared
    * contract of a bounded product frame, not an accidentally-global
    * window on a data-sized one. Data-sized callers must use `ffill`
    * with real partitions.
    */
  def ffillBounded(df: DataFrame, order: Seq[Column],
                   valueCol: String, outCol: String): DataFrame = {
    val w = Window.partitionBy(lit("sheet")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(outCol, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** W2 — blank-on-repeat display labels
    * (dischargeobs_write_xl.py:51-55,85-88,167-168,308-312): suppress a
    * label equal to the previous row's label in export order. `parts`
    * must be non-empty; for a globally-ordered export with a MONOTONE
    * label (month of day, day of timestamp), use `blankOnRepeatByLabel`
    * — it partitions by the label itself and stays fully distributed.
    */
  def blankOnRepeat(df: DataFrame, parts: Seq[String], order: Seq[Column],
                    labelCol: String, outCol: String): DataFrame = {
    require(parts.nonEmpty,
      "blankOnRepeat needs partition keys; for monotone labels use blankOnRepeatByLabel")
    val w = Window.partitionBy(parts.map(col): _*).orderBy(order: _*)
    df.withColumn(outCol,
      when(lag(col(labelCol), 1).over(w) === col(labelCol), lit(""))
        .otherwise(col(labelCol)))
  }

  /** W2 for MONOTONE labels (label is a non-decreasing function of the
    * export order, e.g. month of day): equal labels are contiguous in the
    * global order, so "blank unless first occurrence" partitioned BY THE
    * LABEL equals the lag-based form — with a data-parallel window (one
    * partition per label value) instead of a single global partition.
    */
  def blankOnRepeatByLabel(df: DataFrame, order: Seq[Column],
                           labelCol: String, outCol: String): DataFrame = {
    val w = Window.partitionBy(col(labelCol)).orderBy(order: _*)
    df.withColumn(outCol,
      when(row_number().over(w) === 1, col(labelCol)).otherwise(lit("")))
  }
}
