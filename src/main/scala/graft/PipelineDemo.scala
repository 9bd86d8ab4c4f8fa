package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.ingest.{EcccSwob, ExcelShaped, Provincial, Usgs, Wsc}
import graft.pipeline.Pipelines
import graft.storage.ObsStore

/** End-to-end run of the reference's E1→E2 cascade on the bundled source
  * fixtures (SURVEY §3): multi-source ingest → merge-upsert store → hourly
  * rollup → daily rollup → COFFEE recurrence → model-input export with a
  * compiled formula estimate. Usage: sbt "runMain graft.PipelineDemo"
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.tools.ToolSession.local()

    val res = "src/test/resources"
    val stations = Provincial.stationList(spark, s"$res/provincial/provincial_station_list.csv")
    val sources = Seq(
      Wsc.readObs(spark, s"$res/wsc"),
      Provincial.readObs(spark, s"$res/provincial/Discharge.csv", stations, "Q"),
      Usgs.readObs(spark, s"$res/usgs"),
      EcccSwob.readObs(spark, s"$res/swob"),
      ExcelShaped.readHourlySheet(spark, s"$res/excel/hourly_q.csv", 2023, "Q"))

    // a second source reporting the SAME (station, ts, param) as WSC with a
    // different value — cross-source keep-first must let WSC (earlier
    // source) win and must not duplicate the key
    import spark.implicits._
    val conflicting = Seq(
      ("08MF005", java.sql.Timestamp.valueOf("2023-09-12 08:05:00"), "Q", Some(8888.0)))
      .toDF("station", "ts", "param", "value")

    val dir = Files.createTempDirectory("graft-demo").toString + "/obs"
    val store = new ObsStore(spark, dir)
    Pipelines.ingestInstantaneous(store, sources :+ conflicting)
    println(s"[demo] store rows=${store.read().count()} at $dir")
    val xsrc = store.read()
      .filter(col("station") === "08MF005" && col("param") === "Q" &&
        date_format(col("ts"), "MM-dd HH:mm") === "09-12 08:05")
      .select("value").collect().map(_.getDouble(0)).toSeq
    println(s"[demo] cross-source dedup: value(s)=$xsrc " +
      (if (xsrc == Seq(1234.5)) "OK (WSC wins, single row)" else "MISMATCH"))
    store.read().groupBy("param").count().show()

    val inst = store.read()
    val hourly = Pipelines.hourlyRollup(inst, lit("2024-01-16 00:00:00").cast("timestamp"))
    println(s"[demo] hourly rows=${hourly.count()}")
    val daily = Pipelines.dailyRollup(hourly)
    println(s"[demo] daily rows=${daily.count()}")
    val coffee = Pipelines.coffeeProduct(spark, inst)
    println(s"[demo] coffee rows=${coffee.count()}")
    val model = Pipelines.modelInput(daily, Seq("08MF005", "08MG00A", "12401500"),
      Seq(("EST1", "(2.0*{08MF005}).clip(lower=100)", false)))
    println(s"[demo] model-input:")
    model.orderBy("date").show(10, truncate = false)

    // the actual PRODUCT FILES (dischargeobs_write_xl.py:136-144, 211-251):
    // model-input as a year-named sheet in real .xlsx and legacy .xls
    // workbooks, replace-if-exists on the second write
    val products = Files.createTempDirectory("graft-products").toString
    val modelOut = model.withColumn("date", date_format(col("date"), "yyyy-MM-dd"))
    val grid = graft.export.Exports.sheetRows(modelOut, "date")
    graft.export.Xlsx.upsertSheet(s"$products/model.xlsx", "2023", grid)
    graft.export.Xlsx.upsertSheet(s"$products/model.xlsx", "2023", grid)
    graft.export.Xls.upsertSheet(s"$products/obsflows.xls", "2023", grid)
    val xlsxBack = graft.export.Xlsx.read(s"$products/model.xlsx")
    val xlsBack = graft.export.Xls.read(s"$products/obsflows.xls")
    val rowsExpected = modelOut.count()
    println(s"[demo] workbook products: model.xlsx sheets=${xlsxBack.map(_._1)} " +
      s"rows=${xlsxBack.head._2._2.length} obsflows.xls sheets=${xlsBack.map(_._1)} " +
      s"rows=${xlsBack.head._2._2.length} " +
      (if (xlsxBack.map(_._1) == Seq("2023") &&        // replaced, not duplicated
           xlsxBack.head._2._2.length == rowsExpected &&
           xlsBack.head._2._2.length == rowsExpected) "OK" else "MISMATCH"))

    // idempotence probe: re-ingesting the same sources must not change rows
    val before = store.read().count()
    Pipelines.ingestInstantaneous(store, sources)
    val after = store.read().count()
    println(s"[demo] re-ingest idempotence: before=$before after=$after " +
      (if (before == after) "OK" else "MISMATCH"))

    // streaming tick (T1-T4): drain a staged revision file AvailableNow;
    // old-wins merge means the revision must NOT overwrite stored cells
    val staging = Files.createTempDirectory("graft-staging").toString
    Files.writeString(java.nio.file.Paths.get(s"$staging/revision.csv"),
      "station,ts,param,value\n08MF005,2023-09-12 08:05:00,Q,7777.0\n" +
      "08MF005,2023-09-12 08:15:00,Q,1260.0\n")
    graft.streaming.StreamingIngest.ingestTick(spark, staging, store,
      s"$staging/ckpt")
    val cell = store.read()
      .filter(col("station") === "08MF005" && col("param") === "Q" &&
        date_format(col("ts"), "HH:mm").isin("08:05", "08:15"))
      .select(date_format(col("ts"), "HH:mm"), col("value"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    println(s"[demo] streaming tick: 08:05=${cell.get("08:05")} (expect kept 1234.5), " +
      s"08:15=${cell.get("08:15")} (expect new 1260.0) " +
      (if (cell.get("08:05").contains(1234.5) && cell.get("08:15").contains(1260.0)) "OK"
       else "MISMATCH"))

    // empty tick: nothing new staged → checkpoint makes the drain a no-op
    val preEmpty = store.read().count()
    graft.streaming.StreamingIngest.ingestTick(spark, staging, store,
      s"$staging/ckpt")
    val postEmpty = store.read().count()
    println(s"[demo] empty tick no-op: $preEmpty -> $postEmpty " +
      (if (preEmpty == postEmpty) "OK" else "MISMATCH"))
    spark.stop()
  }
}
