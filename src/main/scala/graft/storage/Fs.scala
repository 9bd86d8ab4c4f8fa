package graft.storage

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one on-disk path probe (S9 → the reference's object-store
  * existence checks, `discharge_obs_pd.py:199`, `ECCC_hourly.py:44`).
  * Every path resolves through the Hadoop `FileSystem` of the session's
  * Hadoop conf, so a plain path, a `file://` URI and an `s3a://` URI all
  * answer alike; a `java.nio` probe reads a URI as absent.
  */
object Fs {
  def get(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def exists(spark: SparkSession, path: String): Boolean =
    get(spark, path).exists(new Path(path))
}
