package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.export.Xlsx
import graft.ops.{Dedup, Fill}

/** Workbook-sheet imports (S7/D3).
  *
  * The ENGINE semantics — date-part forward-fill, timestamp assembly from
  * parts, year rollover, wide→long melt — are shape functions over a raw
  * sheet frame; the sheet can come from a CSV materialization or (round 2)
  * directly from an .xlsx workbook via the dependency-free codec
  * (`graft.export.Xlsx`).
  *
  * Two sheet shapes exist in the reference:
  *  - instantaneous `ALL_Q`/`ALL_H` (discharge_obs_pd.py:114-127):
  *    Day,Hour,Minute,<stations> with Day+Hour blank-on-repeat; NO
  *    rollover;
  *  - hourly sheet (dischargeobs_write_xl.py:396-407): Day,Hour,<stations>
  *    with only Day blank-on-repeat, and any non-first duplicate of the
  *    assembled timestamp shifted +1 year (D3).
  */
object ExcelShaped {

  private def readRaw(spark: SparkSession, path: String) =
    spark.read.option("header", "true").csv(path)
      .withColumn("__line", monotonically_increasing_id())

  /** A decoded xlsx grid as a raw sheet frame: header → string columns
    * ("" cells → null, matching CSV empty-field semantics), row order →
    * `__line`. Driver-side materialization is fine — sheets are bounded
    * product exports by construction.
    */
  private def gridFrame(spark: SparkSession, grid: Xlsx.Grid): DataFrame = {
    val (header, rows) = grid
    val schema = StructType(header.map(StructField(_, StringType, nullable = true)))
    val data = rows.map(r =>
      Row.fromSeq(r.map(v => if (v.isEmpty) null else v).toSeq))
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      .withColumn("__line", monotonically_increasing_id())
  }

  private def sheetFromWorkbook(spark: SparkSession, path: String,
                                sheetName: String): DataFrame = {
    val sheets = Xlsx.read(path)
    val grid = sheets.collectFirst { case (n, g) if n == sheetName => g }
      .getOrElse(throw new IllegalArgumentException(
        s"$path has no sheet '$sheetName' (sheets: ${sheets.map(_._1).mkString(", ")})"))
    gridFrame(spark, grid)
  }

  private def melt(df: DataFrame, stationCols: Seq[String], param: String): DataFrame = {
    val pairs = stationCols.flatMap(c => Seq(lit(c), col(s"`$c`").cast("double")))
    df.select(col("ts"), explode(map(pairs: _*)).as(Seq("station", "value")))
      .select(col("station"), col("ts"), lit(param).as("param"), col("value"))
  }

  /** Instantaneous sheet shape: Day,Hour,Minute,<stations>; Day and Hour
    * forward-filled (discharge_obs_pd.py:120-121); ts from parts (F5). */
  private def shapeInstant(raw: DataFrame, year: Int, param: String): DataFrame = {
    val stationCols = raw.columns.filterNot(Seq("Day", "Hour", "Minute", "__line").contains).toSeq
    val filled = Seq("Day", "Hour").foldLeft(raw) { (df, c) =>
      Fill.ffillBounded(df, Seq(col("__line")), c, c) // sheets are bounded
    }
    val withTs = filled.withColumn("ts", to_timestamp(
      concat(lit(year.toString), lit("-"), col("Day"), lit(" "),
             col("Hour"), lit(":"), col("Minute")),
      "yyyy-MM-dd H:m"))
    melt(withTs, stationCols, param)
  }

  /** Hourly sheet shape: Day,Hour,<stations>; only Day forward-filled;
    * duplicate timestamps rolled +1 year (dischargeobs_write_xl.py:401-405). */
  private def shapeHourly(raw: DataFrame, year: Int, param: String): DataFrame = {
    val stationCols = raw.columns.filterNot(Seq("Day", "Hour", "__line").contains).toSeq
    val filled = Fill.ffillBounded(raw, Seq(col("__line")), "Day", "Day")
    val withTs = filled.withColumn("ts", to_timestamp(
      concat(lit(year.toString), lit("-"), col("Day"), lit(" "),
             col("Hour"), lit(":00")),
      "yyyy-MM-dd H:mm"))
    val rolled = Dedup.yearRollover(withTs, Seq("ts"), Seq(col("__line")), "ts")
    melt(rolled, stationCols, param)
  }

  def readInstantSheet(spark: SparkSession, path: String, year: Int,
                       param: String): DataFrame =
    shapeInstant(readRaw(spark, path), year, param)

  def readHourlySheet(spark: SparkSession, path: String, year: Int,
                      param: String): DataFrame =
    shapeHourly(readRaw(spark, path), year, param)

  /** S7 on a real workbook: decode one sheet of an .xlsx file and apply
    * the hourly shape (year rollover included). */
  def readHourlySheetXlsx(spark: SparkSession, path: String, sheetName: String,
                          year: Int, param: String): DataFrame =
    shapeHourly(sheetFromWorkbook(spark, path, sheetName), year, param)
}
