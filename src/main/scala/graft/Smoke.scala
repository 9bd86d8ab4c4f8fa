package graft

/** Mirrors the driver's smoke check: SparkEntry.entry must return rows > 0
  * on sf0.001. Usage: sbt "runMain graft.Smoke"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.tools.ToolSession.local()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n " + (if (n > 0) "OK" else "EMPTY — FAIL"))
    spark.stop()
  }
}
