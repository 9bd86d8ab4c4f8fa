package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TimeUtil
import graft.export.{Exports, Xls, Xlsx}
import graft.ingest.{EcccSwob, Provincial, Usgs, Wsc}
import graft.pipeline.Pipelines
import graft.storage.{Fs, ObsStore, ParquetCompact}

/* Thin per-workflow CLIs mirroring the reference's three cron scripts —
  * the "run E1/E2/E3 on a tick" entry points (SURVEY §3; the reference
  * schedules one process per script from `.github/workflows/main*.yml`).
  * Each wraps the existing Pipelines/EcccSwob/ObsStore operators around a
  * staging-directory argument: the network fetch (S1-S3) stays OUTSIDE
  * the engine by design — a fetcher (or the driver's fixtures) stages
  * raw files, the tick normalizes + merges them. main() owns the session
  * (ToolSession doctrine); run() is session-injected so PipelineCliSpec
  * drives all three on the shared test session. Paths are probed with
  * `Fs.exists`, so `file://` and `s3a://` URIs work as plain paths do,
  * and every product a rerun rewrites goes through
  * `ParquetCompact.replace`, so a crashed tick leaves the last good copy.
  */

/** E1 — instantaneous ingest tick (`discharge_obs_pd.py:366-412`):
  * normalize every staged source present under `stagingDir`
  * (`wsc/`, `provincial/Discharge.csv` + `provincial/Stage.csv` +
  * `provincial/provincial_station_list.csv`, `usgs/`) and merge-upsert
  * into the partitioned store (old wins — re-running a tick is a no-op).
  *
  * Usage: runMain graft.tools.IngestTick <stagingDir> <storeDir>
  */
object IngestTick {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: IngestTick <stagingDir> <storeDir>")
    val spark = ToolSession.local()
    try run(spark, args(0), args(1))
    finally spark.stop()
  }

  def run(spark: SparkSession, stagingDir: String, storeDir: String): Long = {
    def exists(p: String) = Fs.exists(spark, p)
    val stations =
      if (exists(s"$stagingDir/provincial/provincial_station_list.csv"))
        Some(Provincial.stationList(spark,
          s"$stagingDir/provincial/provincial_station_list.csv"))
      else None
    val sources = Seq.newBuilder[DataFrame]
    if (exists(s"$stagingDir/wsc"))
      sources += Wsc.readObs(spark, s"$stagingDir/wsc")
    val provincialCsvs = Seq("Discharge" -> "Q", "Stage" -> "H")
      .filter { case (f, _) => exists(s"$stagingDir/provincial/$f.csv") }
    // staged provincial data without its station list must fail LOUDLY:
    // the re-key join needs the list, and silently skipping the source
    // would let a lossy tick report success (old-wins merging then hides
    // the gap from every later tick's log)
    require(provincialCsvs.isEmpty || stations.nonEmpty,
      s"$stagingDir/provincial has ${provincialCsvs.map(_._1).mkString(",")} " +
        "but no provincial_station_list.csv — re-stage the station list")
    for (st <- stations; (file, param) <- provincialCsvs)
      sources += Provincial.readObs(spark, s"$stagingDir/provincial/$file.csv", st, param)
    if (exists(s"$stagingDir/usgs"))
      sources += Usgs.readObs(spark, s"$stagingDir/usgs")
    val staged = sources.result()
    require(staged.nonEmpty, s"no recognized sources under $stagingDir")
    val store = new ObsStore(spark, storeDir)
    Pipelines.ingestInstantaneous(store, staged)
    val n = store.read().count()
    println(s"[ingest-tick] ${staged.size} sources merged; store rows=$n")
    n
  }
}

/** E2 — daily derived products + exports (`dischargeobs_write_xl.py:
  * 430-452`): store → hourly rollup → daily rollup (both written as
  * parquet products) → COFFEE recurrence CSV → model-input workbook
  * (.xlsx + legacy .xls, sheet named for the year of `now`).
  *
  * Usage: runMain graft.tools.ExportDaily <storeDir> <outDir>
  *          [nowIso=max store ts] [stations=all, comma-separated]
  */
object ExportDaily {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ExportDaily <storeDir> <outDir> [nowIso] [stationsCsv]")
    val spark = ToolSession.local()
    try run(spark, args(0), args(1), args.lift(2),
      args.lift(3).map(_.split(",").toSeq).getOrElse(Nil))
    finally spark.stop()
  }

  def run(spark: SparkSession, storeDir: String, outDir: String,
          nowIso: Option[String], stationsArg: Seq[String]): (Long, Long) = {
    val inst = new ObsStore(spark, storeDir).read()
    // default `now` = the newest stored observation — the tail-patch
    // cutoff the reference takes from the wall clock on its cron tick —
    // and the sheet year with it, from one aggregate. An EMPTY store has
    // no max(ts): fail with an actionable message instead of NPE-ing
    // later in the rollup.
    val (now, year) = nowIso match {
      case Some(s) => (lit(s).cast("timestamp"), s.take(4))
      case None =>
        val r = inst.agg(max(col("ts")), date_format(max(col("ts")), "yyyy")).head()
        require(!r.isNullAt(0), s"store at $storeDir is empty; pass nowIso explicitly")
        (lit(r.getTimestamp(0)), r.getString(1))
    }
    ParquetCompact.replace(spark, s"$outDir/hourly")(
      Pipelines.hourlyRollup(inst, now).write.parquet(_))
    val hourly = spark.read.parquet(s"$outDir/hourly")
    ParquetCompact.replace(spark, s"$outDir/daily")(
      Pipelines.dailyRollup(hourly).write.parquet(_))
    val daily = spark.read.parquet(s"$outDir/daily")
    Exports.writeCsv(
      Pipelines.coffeeProduct(spark, inst)
        .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss")),
      s"$outDir/coffee")
    val stations =
      if (stationsArg.nonEmpty) stationsArg
      else daily.filter(col("param") === "Q").select("station").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
    val model = Pipelines.modelInput(daily, stations, estimates = Nil)
      .withColumn("date", date_format(col("date"), "yyyy-MM-dd"))
    val grid = Exports.sheetRows(model, "date")
    Xlsx.upsertSheet(s"$outDir/model.xlsx", year, grid)
    Xls.upsertSheet(s"$outDir/obsflows.xls", year, grid)
    val counts = (hourly.count(), daily.count())
    println(s"[export-daily] hourly=${counts._1} daily=${counts._2} " +
      s"stations=${stations.size} -> $outDir")
    counts
  }
}

/** E3 — ECCC weather tick (`ECCC_hourly.py:29-141`): parse staged
  * SWOB-ML XML, merge into the grid parquet (f_read resume flags ride
  * along), report the still-pending (station, hour) work-list for the
  * next fetch, and write the per-variable TA/PC pivot CSVs.
  *
  * Usage: runMain graft.tools.EcccTick <swobStagingDir> <gridDir> <outDir>
  */
object EcccTick {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: EcccTick <swobStagingDir> <gridDir> <outDir>")
    val spark = ToolSession.local()
    try run(spark, args(0), args(1), args(2))
    finally spark.stop()
  }

  def run(spark: SparkSession, stagingDir: String, gridDir: String,
          outDir: String): (Long, Long) = {
    val fresh = EcccSwob.readObs(spark, stagingDir)
      .withColumn("f_read", lit(true))
    val prior = ParquetCompact.readIfExists(spark, gridDir)
      .getOrElse(fresh.limit(0))
    // old wins (T2 doctrine): a re-staged hour cannot overwrite the
    // stored cell
    ParquetCompact.replace(spark, gridDir)(
      graft.ops.Dedup.dedupFirst(
          prior.withColumn("__src", lit(0))
            .unionByName(fresh.withColumn("__src", lit(1))),
          Seq("station", "ts", "param"), Seq(col("__src")))
        .drop("__src")
        .write.parquet(_))
    val grid = spark.read.parquet(gridDir)
    // the resume work-list a fetcher would take next tick: full
    // station × hour grid of the observed window, minus read cells
    val stations = grid.select("station").distinct()
    val hours = TimeUtil.spineOver(grid, "ts", "hour", "1 hour")
    val done = grid.select(col("station"), col("ts"), col("f_read"))
    val pending = EcccSwob.pendingWork(stations, hours, done)
    val nPending = pending.count()
    val exported = Seq("TA", "PC")
    val stationsOf = grid.filter(col("param").isin(exported: _*))
      .select("param", "station").distinct().collect()
      .groupMap(_.getString(0))(_.getString(1))
    for (param <- exported; st <- stationsOf.get(param))
      Exports.writeCsv(
        Pipelines.ecccVariableExport(grid, param, st.sorted.toSeq)
          .withColumn("ts", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")),
        s"$outDir/$param")
    val nGrid = grid.count()
    println(s"[eccc-tick] grid rows=$nGrid pending cells=$nPending -> $outDir")
    (nGrid, nPending)
  }
}
