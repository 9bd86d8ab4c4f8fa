package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, SparkEntry}
import graft.storage.ObsStore
import graft.tools.{EcccTick, ExportDaily, IngestTick, ToolSession}

/** The benchmark's JVM side: runs one workload against the graft
  * programme's public entry points and writes what it measured as JSON.
  *
  * Started by `perfbench/run.py`, which generates the inputs, checks the
  * outputs and prints the result line, with `key=value` arguments:
  *
  *  - `workload`: `cron_cycle`, or a query workload whose registered
  *    query names come in `queries`, comma separated;
  *  - `data`: the input directory; `work`: a directory for every file the
  *    programme writes; `out`: the result JSON to write;
  *  - `passes` (query workloads): timed passes over the query list;
  *  - `cycles`, `stations`, `expect.*` (cron_cycle): cron cycles to time,
  *    the workbook station list, and the product row counts to assert;
  *  - `setups`: how many times the repeatable set-up step runs;
  *  - `trace=1`: record spans and Spark job/stage/task counters.
  *
  * Timing is taken around the calls into the programme. A query's
  * latency is build (the registered function returning its DataFrame,
  * eager jobs included) plus exec (a noop write, as `graft.Bench` does);
  * the traced run also forces `executedPlan` in between, as its own span.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val trace = opt.getOrElse("trace", "0") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = ToolSession.local()
    val r = new Result
    r.num("session_s", (System.currentTimeMillis() - jvmStartMs) / 1000.0)
    val spans = new Spans(spark)
    val recorder = if (trace) Some(new Recorder) else None
    recorder.foreach(spark.sparkContext.addSparkListener)
    try {
      opt("workload") match {
        case "cron_cycle" => Cron.run(spark, opt, spans, r)
        case _ => Queries.run(spark, opt, spans, trace, r)
      }
      r.num("cal_s", spans.time("context")(calibration(spark))._1)
    } catch { case e: Throwable =>
      r.aborted = s"${e.getClass.getName}: ${e.getMessage}"
    }
    recorder.foreach(_.drain())
    r.num("peak_rss_mb", Result.peakRssMb())
    r.write(opt("out"), spans, recorder)
    spark.stop()
  }

  /** `graft.Bench.calibration`'s constant-work CPU spin at 1/16 of its
    * rows, best of two, scaled back up: the same box-speed reading on the
    * same scale, at a sixteenth of the cost. Context, not a metric.
    */
  def calibration(spark: SparkSession): Double = {
    val rows = Bench.CalRows / 16
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, rows, 1L, spark.sparkContext.defaultParallelism)
        .selectExpr("bit_xor(xxhash64(id))").head()
      (System.nanoTime() - t0) / 1e9 * 16
    }.min
  }
}

object Spans {
  final case class Span(id: Int, name: String, parent: Int, op: String,
                        startUs: Long, var endUs: Long = -1L)
}

/** Spans recorded from outside the programme: name, start, end, parent
  * and the operation they belong to. The innermost open span's id rides
  * on the thread as a Spark local property, so every job the listener
  * sees names the span that started it.
  */
final class Spans(spark: SparkSession) {
  import Spans.Span
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  /** Runs `body` inside a span; returns its result and the seconds taken. */
  def time[T](name: String, op: String = "")(body: => T): (T, Double) = {
    val s = Span(all.size, name, stack.headOption.map(_.id).getOrElse(-1),
      if (op.nonEmpty) op else stack.headOption.map(_.op).getOrElse(""), nowUs)
    all += s
    stack = s :: stack
    spark.sparkContext.setLocalProperty("perfbench.span", s.id.toString)
    val t0 = System.nanoTime()
    try {
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } finally {
      s.endUs = nowUs
      stack = stack.tail
      spark.sparkContext.setLocalProperty("perfbench.span",
        stack.headOption.map(_.id.toString).orNull)
    }
  }
}

object Result {
  /** One timed operation: a query execution or a cron tick. */
  final case class Op(name: String, kind: String, pass: Int, s: Double,
                      var failure: String = "")

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }
}

/** What the JVM side hands back: named numbers, the timed operations with
  * their failures, and (traced runs) the spans and Spark counters.
  */
final class Result {
  import Result.Op
  val nums = mutable.LinkedHashMap.empty[String, Double]
  val ops = mutable.ArrayBuffer.empty[Op]
  var aborted = ""

  def num(k: String, v: Double): Unit = nums(k) = v

  def fail(op: Op, why: String): Unit =
    op.failure = if (op.failure.isEmpty) why else s"${op.failure}; $why"

  def write(path: String, spans: Spans, recorder: Option[Recorder]): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("aborted", aborted)
    val n = root.putObject("nums")
    nums.foreach { case (k, v) => n.put(k, v) }
    val o = root.putArray("ops")
    ops.foreach { op =>
      o.addObject().put("name", op.name).put("kind", op.kind).put("pass", op.pass)
        .put("s", op.s).put("failure", op.failure)
    }
    recorder.foreach { rec =>
      val sp = root.putArray("spans")
      spans.all.foreach { s =>
        sp.addObject().put("id", s.id).put("name", s.name).put("parent", s.parent)
          .put("op", s.op).put("start_us", s.startUs).put("end_us", s.endUs)
      }
      rec.writeTo(root)
    }
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    m.writeValue(new File(path), root)
  }
}

/** Query workloads: the named registered queries run `passes` times in
  * fixed order. Afterwards, untimed, the last pass's DataFrames are
  * written as parquet, with the oracle SQL, for the oracle comparison.
  */
object Queries {
  import Result.Op

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, opt: Map[String, String], spans: Spans,
          trace: Boolean, r: Result): Unit = {
    val data = opt("data")
    val names = opt("queries").split(",").toSeq
    val passes = opt.getOrElse("passes", "2").toInt
    val setups = opt.getOrElse("setups", "3").toInt
    val registry = SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"not registered: ${missing.mkString(",")}")
    // warm-up, as graft.Bench warms up, on this workload's data: set-up,
    // repeated, median reported
    val warm = "q01_pricing_summary"
    val warmups = (1 to setups).map { _ =>
      spans.time("setup.warmup", warm)(materialize(registry(warm)(spark, data)))._2
    }
    r.num("warmup_s", warmups.sorted.apply(warmups.size / 2))
    val last = mutable.LinkedHashMap.empty[String, (Op, DataFrame)]
    val (_, wall) = spans.time("timed") {
      for (pass <- 1 to passes; name <- names if !last.get(name).exists(_._1.failure.nonEmpty)) {
        val t0 = System.nanoTime()
        try {
          val (df, s) = spans.time("query", name) {
            val (df, _) = spans.time("queries.build")(registry(name)(spark, data))
            if (trace) spans.time("queries.plan")(df.queryExecution.executedPlan)
            spans.time("queries.exec")(materialize(df))
            df
          }
          val op = Op(name, "query", pass, s)
          r.ops += op
          last(name) = (op, df)
        } catch { case e: Throwable =>
          val op = Op(name, "query", pass, (System.nanoTime() - t0) / 1e9)
          r.ops += op
          r.fail(op, s"${e.getClass.getSimpleName}: ${e.getMessage}")
          last(name) = (op, null)
        }
      }
    }
    r.num("wall_s", wall)
    val outDir = s"${opt("work")}/results"
    spans.time("check") {
      for ((name, (op, df)) <- last if df != null) {
        try df.write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          r.fail(op, s"result write: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }
    val m = new ObjectMapper()
    val oracles = m.createObjectNode()
    SparkEntry.oracleSql.foreach { case (k, v) => if (names.contains(k)) oracles.put(k, v) }
    Files.createDirectories(Paths.get(outDir))
    m.writeValue(new File(s"$outDir/oracle_sql.json"), oracles)
  }
}

/** cron_cycle: from a generated prior store and grid, run `cycles` cron
  * cycles of IngestTick → EcccTick → ExportDaily in cron order over the
  * re-staged inputs, checking every tick's products, untimed, after the
  * tick: the idempotent old-wins re-merge leaves the store's row count
  * and content digest unchanged, the grid and the hourly/daily products
  * have the row counts the generator implies, and no grid cell is pending.
  * The timed wall is the sum of the ticks. Set-up is the session plus a
  * read of the store, repeated `setups` times (median reported).
  */
object Cron {
  import Result.Op

  /** Row count and an order-independent digest of the store's content. */
  private def digest(spark: SparkSession, store: String): (Long, String) = {
    val row = spark.read.parquet(store)
      .agg(count(lit(1)), sum(xxhash64(col("station"), col("ts"), col("param"),
        col("value")).cast("decimal(38,0)")).cast("string"))
      .head()
    (row.getLong(0), row.getString(1))
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def run(spark: SparkSession, opt: Map[String, String], spans: Spans, r: Result): Unit = {
    val (data, work) = (opt("data"), opt("work"))
    val cycles = opt.getOrElse("cycles", "1").toInt
    val setups = opt.getOrElse("setups", "3").toInt
    val stations = opt("stations").split(",").toSeq
    val expect = opt.collect { case (k, v) if k.startsWith("expect.") =>
      k.stripPrefix("expect.") -> v.toLong }
    def check(op: Op, what: String, got: Long, want: Long): Unit =
      if (got != want) r.fail(op, s"$what: got $got, expected $want")

    val (store, grid) = (s"$data/store", s"$data/grid")
    val reads = (1 to setups).map { _ =>
      spans.time("setup.warmup")(new ObsStore(spark, store).read().count())._2
    }
    r.num("warmup_s", reads.sorted.apply(reads.size / 2))
    val (rows0, digest0) = spans.time("check")(digest(spark, store))._1
    val exportBytes = mutable.ArrayBuffer.empty[Double]

    def tick[T](name: String, kind: String, c: Int)(body: => T)(checks: (Op, T) => Unit): Unit = {
      val t0 = System.nanoTime()
      val res = try Right(spans.time(s"tick.$kind", s"cycle$c")(body))
      catch { case e: Throwable => Left(e) }
      res match {
        case Right((v, s)) =>
          val op = Op(name, kind, c, s)
          r.ops += op
          spans.time("check")(checks(op, v))
        case Left(e) =>
          val op = Op(name, kind, c, (System.nanoTime() - t0) / 1e9)
          r.ops += op
          r.fail(op, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    spans.time("timed") {
      for (c <- 1 to cycles) {
        tick("IngestTick", "ingest", c)(IngestTick.run(spark, s"$data/tick", store)) { (op, n) =>
          check(op, "prior store rows", rows0, expect("store_rows"))
          check(op, "store rows", n, expect("store_rows"))
          val (rows, d) = digest(spark, store)
          check(op, "store rows re-read", rows, rows0)
          if (d != digest0) r.fail(op, "store content changed by an idempotent re-merge")
        }
        tick("EcccTick", "eccc", c)(
          EcccTick.run(spark, s"$data/tick/swob", grid, s"$work/eccc_out")) { (op, v) =>
          check(op, "grid rows", v._1, expect("grid_rows"))
          check(op, "pending cells", v._2, expect("pending"))
        }
        tick("ExportDaily", "export", c)(
          ExportDaily.run(spark, store, s"$work/export_out", None, stations)) { (op, v) =>
          check(op, "hourly rows", v._1, expect("hourly_rows"))
          check(op, "daily rows", v._2, expect("daily_rows"))
          val sheets = graft.export.Xlsx.read(s"$work/export_out/model.xlsx")
          check(op, "workbook sheets", sheets.size.toLong, 1L)
          check(op, "workbook rows", sheets.head._2._2.size.toLong, expect("daily_dates"))
          exportBytes += dirBytes(new File(s"$work/export_out")).toDouble
        }
      }
    }
    // the checks between ticks are not part of the timed work
    r.num("wall_s", r.ops.map(_.s).sum)
    r.num("export_bytes", if (exportBytes.isEmpty) 0.0 else exportBytes.sorted.apply(exportBytes.size / 2))
  }
}
