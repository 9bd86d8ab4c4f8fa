package graft.tools

/** Plan views over the registered queries.
  *
  * Usage (the sf dir comes from SPARK_GRAFT_SF_DIR, default sf0.1):
  *   runMain graft.tools.Probe explain <query> [<query> ...]
  *   runMain graft.tools.Probe digests
  *
  *  - `explain`: the formatted physical plan of each named query.
  *  - `digests`: one plan digest (exN/cgM/md5) per registered query —
  *    exchange counts for the whole registry without dumping 231 full
  *    plans (`scale-artifacts/plan_digests_r20.txt`).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = ToolSession.local()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.headOption match {
      case Some("explain") =>
        args.drop(1).foreach { n =>
          println(s"=== $n ===")
          graft.SparkEntry.queries(n)(spark, d).explain("formatted")
        }
      case Some("digests") =>
        graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, q) =>
          val dig = try {
            graft.Bench.planDigest(
              q(spark, d).queryExecution.executedPlan.toString)
          } catch { case e: Throwable => s"failed:${e.getClass.getSimpleName}" }
          println(s"[digest] $n $dig")
        }
      case other => sys.error(s"unknown mode ${other.getOrElse("")} " +
        "(explain <query>... | digests)")
    }
    spark.stop()
  }
}
