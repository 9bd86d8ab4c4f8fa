package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** USGS NWIS instantaneous-values normalizer (S3 →
  * discharge_obs_pd.py:46-72).
  *
  * The NWIS REST result is keyed (site_no, datetime-UTC) with parameter
  * columns 00060 (discharge, cfs) and 00065 (stage, ft). Reference
  * semantics:
  *  - unit conversion WITH the reference's 3-dp rounding applied at
  *    conversion time (`round(df/35.3147, 3)`, :63-65);
  *  - UTC → US/Pacific wall time, tz dropped (:66-67);
  *  - DST fall-back produces duplicate wall timestamps; first kept
  *    (`~index.duplicated()`, :70-71) — order = source row order.
  *
  * Station IDs come from USGS_station_list.csv's `BC RFC ID` with the
  * `'U'→'00'` rewrite (:57-58); we keep the RFC ID as the canonical station
  * key and the fetch layer applies the rewrite (`Fetch.normalizeRfcSite`).
  */
object Usgs {

  val schema: StructType = StructType(Seq(
    StructField("site_no", StringType),
    StructField("datetime", StringType),
    StructField("00060", DoubleType),
    StructField("00065", DoubleType)))

  /** Normalize the NWIS iv frame (materialized as CSV per FIXTURES.md §4)
    * to long obs. */
  def readObs(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("header", "true").schema(schema).csv(path)
      .withColumn("__line", monotonically_increasing_id())
    val local = raw.select(
      col("site_no").as("station"),
      from_utc_timestamp(to_timestamp(col("datetime")), "America/Vancouver").as("ts"),
      round(col("`00060`") / 35.3147, 3).as("Q"),
      round(col("`00065`") / 3.28084, 3).as("H"),
      col("__line"))
    val deduped = graft.ops.Dedup.dedupFirst(local, Seq("station", "ts"),
      Seq(col("__line")))
    deduped.select(col("station"), col("ts"),
      explode(map(lit("Q"), col("Q"), lit("H"), col("H"))).as(Seq("param", "value")))
  }
}
