package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The offline-index tools' bucketed tables, in one place: the catalog
  * name, the bucketed write and the fresh-session reopen.
  *
  * A bucketed table is what makes an index build-once/probe-many: probes
  * bucket-prune to the buckets they need (`SelectedBucketsCount n out of
  * B` in the scan) and any join or aggregate keyed on the bucket column
  * consumes the table's hash distribution with no index-side exchange
  * (SimilaritySpec and TextSpec assert both plan properties). The bucket
  * spec lives in the catalog, not in the parquet footers, so a new
  * session must re-register the files through the bucketed DDL to get
  * pruning back — [[open]] does that, taking the column list from the
  * files so no schema is written twice.
  */
object Catalog {

  /** Catalog name for an artifact: a sanitized path slug plus a
    * path-hash suffix, so two artifacts in one session or metastore
    * register as DISTINCT tables instead of the second `DROP TABLE IF
    * EXISTS` clobbering the first's registration. */
  def pathTable(prefix: String, outDir: String): String = {
    val slug = outDir.replaceAll("[^A-Za-z0-9]+", "_")
      .replaceAll("^_+|_+$", "").takeRight(40).toLowerCase
    f"${prefix}_${slug}_${outDir.hashCode & 0x7fffffff}%x"
  }

  /** Write `df` as the external parquet table `table` at `path`, bucketed
    * and sorted by `bucketCol`. `overwrite` re-registers the table;
    * `append` needs it registered with the same bucket spec (Spark
    * refuses a mismatch, so the bucketed-scan contract survives growth). */
  def save(df: DataFrame, table: String, path: String, buckets: Int,
           bucketCol: String, mode: String = "overwrite"): Unit = {
    if (mode == "overwrite") df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    df.write.bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .option("path", path)
      .format("parquet").mode(mode).saveAsTable(table)
  }

  /** Re-register the bucketed files at `path` as `table` and return it.
    * Safe in a fresh session. */
  def open(spark: SparkSession, table: String, path: String, buckets: Int,
           bucketCol: String): DataFrame = {
    val cols = spark.read.parquet(path).schema.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"""
      CREATE TABLE $table ($cols)
      USING parquet
      CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $buckets BUCKETS
      LOCATION '$path'""")
    spark.table(table)
  }
}
