package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TimeUtil
import graft.ops.Merge

/** The partitioned observation table with merge-upsert (K1/T2 →
  * discharge_obs_pd.py:174-258).
  *
  * Layout: parquet partitioned by (yyyymm, param) — the Spark-native form
  * of the reference's one-file-per-(year-month, datatype) routing
  * (`DischargeOBS_{YYYYMM}_{Q|H}.parquet`). What the reference does by hand
  * — distinct-month discovery, per-month file selection, per-file
  * combine_first, rewrite (:192-258) — Catalyst does declaratively:
  * partition-column filters prune the scan, and dynamic partition overwrite
  * rewrites only the (yyyymm, param) partitions the merge changed; a no-op
  * tick (a retried tick, or a lookback with no new readings) writes
  * nothing.
  *
  * Scale notes: the month list of the incoming batch is tiny (bounded by
  * the calendar — a 2-day ingest touches ≤2 months), and so is the list of
  * changed partitions, so collecting them to drive pruning and the write
  * is O(1) driver work, not data-sized. The merge join shuffles only the
  * overlapping partitions' rows on (station, ts, param).
  */
class ObsStore(spark: SparkSession, path: String) {

  private def withKeys(obs: DataFrame): DataFrame =
    obs.withColumn("yyyymm", TimeUtil.yyyymm(col("ts")))

  def read(): DataFrame = spark.read.parquet(path)

  /** Cluster rows by their target partition before the partitioned write:
    * without this, EVERY task holds a writer for EVERY (yyyymm, param) it
    * sees — a batch spread over 32 tasks × 4 partitions lands 128 small
    * files (the classic small-files problem; at cluster scale it also
    * exhausts writer memory). One shuffle by the partition keys gives one
    * file per partition. If a single month/param outgrows one task's
    * write budget at scale, extend the clustering with a file-count salt
    * (repartition(n, keys :+ salt)).
    */
  private def clustered(obs: DataFrame): DataFrame =
    obs.repartition(col("yyyymm"), col("param"))

  /** Full (over)write of a batch into its partitions. */
  def write(obs: DataFrame): Unit =
    clustered(withKeys(obs)).write
      .partitionBy("yyyymm", "param")
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path)

  /** T2 merge-upsert: read ONLY the partitions overlapping the batch
    * (pruned via the partition-column isin filter), combine_first with the
    * reference's precedence — existing non-null wins, new fills gaps
    * (discharge_obs_pd.py:176-190) — and dynamically overwrite only the
    * (yyyymm, param) partitions the merge changed; a no-op tick writes
    * nothing.
    */
  def mergeUpsert(newObs: DataFrame): Unit = {
    if (!Fs.exists(spark, path)) { write(newObs); return }
    // the batch is evaluated once: its month list and the merge both read
    // this checkpoint, so a keep-first dedup upstream (whose order may
    // depend on the evaluation) cannot differ between the two
    val batch = withKeys(newObs.select("station", "ts", "param", "value"))
      .localCheckpoint(true)
    val months = batch.select("yyyymm").distinct().collect().map(_.getString(0)).toSeq
    if (months.isEmpty) return
    val existing = read().filter(col("yyyymm").isin(months: _*))
      .select("station", "ts", "param", "value")
    val merged = Merge.combineFirstChanged(existing, batch,
        Seq("station", "ts", "param"), Seq("value"))
      // materialize BEFORE writing: the merge reads the very partitions the
      // dynamic overwrite rewrites — staging-commit makes the lazy form
      // work, but an eager localCheckpoint removes the self-overwrite
      // hazard outright (the overlap is bounded by the batch's month span,
      // so the materialized set is small relative to the table)
      .localCheckpoint(true)
    val keyed = withKeys(merged)
    val changed = keyed.filter(col(Merge.ChangedCol)).select("yyyymm", "param").distinct()
      .collect().map(r => col("yyyymm") <=> r.getString(0) && col("param") <=> r.getString(1))
    if (changed.nonEmpty)
      write(keyed.filter(changed.reduce(_ || _)).drop(Merge.ChangedCol, "yyyymm"))
  }
}
