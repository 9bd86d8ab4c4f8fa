package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generic scan helpers (SURVEY §2.1).
  *
  * S9 — object-store GET/LIST: reads/writes address the store directly via
  * the Hadoop FileSystem API (s3a:// URIs behave identically to file://
  * here — see `graft.storage.Fs`); no staged copy step is needed.
  */
object Sources {

  /** JSONL corpus source with an EXPLICIT schema — inference on JSON
    * triggers a whole extra pass over the data (Spark samples or scans
    * the full input to derive types), which at corpus scale doubles the
    * read; corpus schemas are known, so callers pass one and the scan is
    * single-pass with column pruning intact. Handles .jsonl/.jsonl.gz
    * shard directories as written by `Exports.writeJsonl`.
    */
  def readJsonl(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)
}
