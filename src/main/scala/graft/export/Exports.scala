package graft.export

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Sink/export boundary (SURVEY §2.2).
  *
  * K2 — per-variable/per-station CSV export (discharge_obs_pd.py:357;
  * ECCC_hourly.py:138-139): single-file CSV via coalesce(1) — an export
  * convenience for bounded product files, NOT a pattern for bulk data
  * (bulk writes stay partitioned).
  * K6 — CSV→parquet converter (discharge_obs_pd.py:267-279).
  * K3/K4 — Excel workbook writes: the reference renders year-named sheets
  * with xlsxwriter/openpyxl/xlwt. The workbook CODEC is a driver-side
  * boundary (no POI in the jar set — SURVEY §7.3); `sheetRows` produces
  * the exact ordered, label-blanked, NaN-blanked grid the reference writes
  * cell-by-cell (dischargeobs_write_xl.py:217-233), ready for any codec.
  * K5 — object-store PUT + version purge: a store-maintenance task on the
  * driver (AWS SDK), not an engine operator; writes themselves address
  * s3a:// directly.
  */
object Exports {

  /** Training-shard EXPORT: the trainer-consumable layout for packed
    * sequences — one directory per shard (the mixture/packing key), files
    * capped at `rowsPerFile` rows, rows laid out in `orderCols` order
    * within each file so a reader streams chunks contiguously.
    *
    * The plan is the one to want at corpus scale: `repartitionByRange`
    * over (shard ++ orderCols) gives RANGE-disjoint, internally sorted
    * tasks (samples the keys, one exchange — contiguous chunk ranges per
    * task, unlike hash partitioning which interleaves every chunk range
    * across all tasks), `partitionBy(shard)` routes each task's rows to
    * its shard directory, and `maxRecordsPerFile` rolls files at the cap
    * WITHIN the sorted stream — so file boundaries respect chunk order
    * and shard directories stay append-friendly. No global sort, no
    * single-task funnel.
    */
  def writeTrainingShards(df: DataFrame, path: String, shardCol: String,
                          orderCols: Seq[String], rowsPerFile: Int): Unit =
    df.repartitionByRange((shardCol +: orderCols).map(col): _*)
      .sortWithinPartitions((shardCol +: orderCols).map(col): _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", rowsPerFile.toLong)
      .partitionBy(shardCol)
      .parquet(path)

  /** Replace a driver-side product file whole: `body` fills a temp
    * sibling, which then moves over `path`, so a crash mid-write leaves
    * the previous product, never a truncated one (K3/K4 workbooks). */
  private[export] def replaceFile(path: String)(
      body: java.io.OutputStream => Unit): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dst = Paths.get(path).toAbsolutePath
    val tmp = Files.createTempFile(dst.getParent, ".graft-", ".tmp")
    try {
      val out = Files.newOutputStream(tmp)
      try body(out) finally out.close()
      Files.move(tmp, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  /** K2 — write a bounded product frame as ONE headered CSV file,
    * replacing `path` whole ([[graft.storage.ParquetCompact.replace]]). */
  def writeCsv(df: DataFrame, path: String): Unit =
    graft.storage.ParquetCompact.replace(df.sparkSession, path)(
      df.coalesce(1).write.option("header", "true").csv(_))

  /** JSONL corpus sink — the lingua franca of LLM corpus interchange
    * (one JSON object per line, gzip-compressed shards). Distributed by
    * construction: each task writes its own shard, no coalesce, no
    * driver funnel; `maxRecordsPerFile` bounds shard size so downstream
    * loaders stream fixed-size files at any corpus scale.
    */
  def writeJsonl(df: DataFrame, path: String, rowsPerFile: Int = 100000): Unit =
    df.write.mode("overwrite")
      .option("compression", "gzip")
      .option("maxRecordsPerFile", rowsPerFile.toLong)
      .json(path)

  /** K6 — round-trip a stored CSV to parquet. */
  def csvToParquet(spark: SparkSession, csvPath: String, parquetPath: String): Unit =
    spark.read.option("header", "true").option("inferSchema", "true").csv(csvPath)
      .write.mode("overwrite").parquet(parquetPath)

  /** K3/K4 — materialize a sheet: ordered rows, nulls rendered as "" (the
    * reference writes '' for NaN cells, dischargeobs_write_xl.py:229-233).
    * Collects to the driver — sheets are bounded product exports by
    * construction (a year of hourly rows × a model's station list).
    */
  def sheetRows(df: DataFrame, orderCol: String): (Array[String], Array[Array[String]]) = {
    val cols = df.columns
    val rows = df.orderBy(orderCol).collect().map { r =>
      cols.indices.map(i => if (r.isNullAt(i)) "" else r.get(i).toString).toArray
    }
    (cols, rows)
  }
}
