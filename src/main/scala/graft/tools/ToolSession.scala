package graft.tools

import org.apache.spark.sql.SparkSession

/** The ONE local-session builder for graft's mains (`graft.Bench`,
  * `Smoke`, `PipelineDemo` and the tools) — copies had already drifted
  * on the SPARK_GRAFT_CPUS default; a new required config now lands
  * once. `graft.Verify` alone keeps its own builder: it is the oracle
  * correctness run, and its 33.5 s was measured at its own `local[4]`
  * default (ToolSession defaults to `local[32]`).
  */
object ToolSession {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // SPILL-SAFE LARGE SHUFFLES (VERDICT r12 #3): start every shuffle
      // at 512 partitions and let AQE COALESCE small stages back to the
      // 64 MB advisory target — at sf0.1 plans land where they always
      // did, while a ×1000 wedge join's per-task sort shrinks 16×, so
      // 32 concurrent tasks stop holding multi-GB page sets that OOM'd
      // the default 8 GiB single-box heap
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // engine-level per-action summary log (reference logging parity —
    // see EngineLog): opt-in via env so bench/verify stdout contracts
    // and driver runs are unaffected
    sys.env.get("GRAFT_LOG_DIR").foreach(graft.core.EngineLog.install(spark, _))
    spark
  }
}
