package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The three per-workflow CLIs (E1/E2/E3) driven end-to-end on the
  * bundled source fixtures — the same staging shapes a fetcher would
  * leave behind. Each test pins the behavior the reference's cron loop
  * depends on: a tick is idempotent, products land where the next stage
  * reads them, and re-staged data cannot overwrite stored cells.
  */
class PipelineCliSpec extends SparkSpec {

  private lazy val resourcesRoot =
    Paths.get(resource("wsc")).getParent.toString

  test("IngestTick merges every staged source and re-runs are no-ops") {
    val storeDir = Files.createTempDirectory("cli-store").toString + "/obs"
    val n1 = IngestTick.run(spark, resourcesRoot, storeDir)
    assert(n1 > 0)
    // sources present: wsc + provincial Discharge (no Stage.csv staged) + usgs
    val params = spark.read.parquet(storeDir).select("param").distinct()
      .collect().map(_.getString(0)).toSet
    assert(params.contains("Q"))
    val n2 = IngestTick.run(spark, resourcesRoot, storeDir)
    assert(n2 === n1, "re-running the tick must not grow the store")
  }

  test("ExportDaily lays out hourly/daily parquet, coffee CSV and the workbooks") {
    val storeDir = Files.createTempDirectory("cli-store2").toString + "/obs"
    IngestTick.run(spark, resourcesRoot, storeDir)
    val outDir = Files.createTempDirectory("cli-out").toString
    val (nh, nd) = ExportDaily.run(spark, storeDir, outDir,
      nowIso = Some("2023-09-13 00:00:00"), stationsArg = Nil)
    assert(nh > 0 && nd > 0)
    assert(spark.read.parquet(s"$outDir/hourly").count() === nh)
    assert(spark.read.parquet(s"$outDir/daily").count() === nd)
    // the workbooks carry the year sheet with one row per model-input date
    val xlsx = graft.export.Xlsx.read(s"$outDir/model.xlsx")
    val xls = graft.export.Xls.read(s"$outDir/obsflows.xls")
    assert(xlsx.map(_._1) === Seq("2023") && xls.map(_._1) === Seq("2023"))
    assert(xlsx.head._2._2.nonEmpty)
    assert(xlsx.head._2._2.length === xls.head._2._2.length)
    // coffee CSV is readable and non-empty
    val coffee = spark.read.option("header", "true").csv(s"$outDir/coffee")
    assert(coffee.count() > 0)
  }

  test("ExportDaily cron default: now from the store, counts from the products, re-runs agree") {
    val storeDir = Files.createTempDirectory("cli-store3").toString + "/obs"
    IngestTick.run(spark, resourcesRoot, storeDir)
    val outDir = Files.createTempDirectory("cli-out3").toString
    val year = spark.read.parquet(storeDir).agg(date_format(max(col("ts")), "yyyy"))
      .head().getString(0)
    val first = ExportDaily.run(spark, storeDir, outDir, nowIso = None, stationsArg = Nil)
    assert(first._1 > 0 && first._2 > 0)
    assert(first === (spark.read.parquet(s"$outDir/hourly").count(),
      spark.read.parquet(s"$outDir/daily").count()))
    assert(graft.export.Xlsx.read(s"$outDir/model.xlsx").map(_._1) === Seq(year))
    assert(graft.export.Xls.read(s"$outDir/obsflows.xls").map(_._1) === Seq(year))
    // a second tick in the same session reads its own fresh products back
    assert(ExportDaily.run(spark, storeDir, outDir, nowIso = None, stationsArg = Nil) === first)
  }

  test("EcccTick builds the resume grid, old wins on re-stage, exports pivots") {
    val gridDir = Files.createTempDirectory("cli-grid").toString + "/grid"
    val outDir = Files.createTempDirectory("cli-eccc").toString
    val (n1, pending1) = EcccTick.run(spark, s"$resourcesRoot/swob", gridDir, outDir)
    assert(n1 > 0)
    // grid cells are all read (they came from staged files); pending counts
    // only spine holes
    val grid = spark.read.parquet(gridDir)
    assert(grid.filter(!col("f_read")).count() === 0)
    // re-staging the same hour must not duplicate or overwrite cells
    val (n2, _) = EcccTick.run(spark, s"$resourcesRoot/swob", gridDir, outDir)
    assert(n2 === n1)
    assert(pending1 >= 0)
    // TA pivot CSV exists when TA data is present (re-read: run 2
    // overwrote the files behind the earlier `grid` plan)
    val grid2 = spark.read.parquet(gridDir)
    if (grid2.filter(col("param") === "TA" && col("value").isNotNull).count() > 0)
      assert(spark.read.option("header", "true").csv(s"$outDir/TA").count() > 0)
  }

  test("EcccTick keeps earlier hours when the grid is a file:// URI") {
    val base = Files.createTempDirectory("cli-grid-uri")
    val gridDir = base.resolve("grid").toUri.toString
    assert(gridDir.startsWith("file:/"))
    val outDir = base.resolve("out").toString
    val src = Paths.get(s"$resourcesRoot/swob/WAE_2024011506.xml")
    // two ticks over different hours of one station
    for ((hour, i) <- Seq("2024011506", "2024011507").zipWithIndex) {
      val staged = Files.createDirectories(base.resolve(s"swob$i"))
      Files.copy(src, staged.resolve(s"WAE_$hour.xml"))
      EcccTick.run(spark, staged.toString, gridDir, outDir)
    }
    val hours = spark.read.parquet(gridDir).select("ts").distinct().count()
    assert(hours === 2L, "the second tick overwrote the first tick's hour")
  }
}
