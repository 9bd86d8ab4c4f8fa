package graft.storage

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The in-place replace contract every rewritten tick product relies on
  * ([[ParquetCompact.replace]]): a crashed rewrite leaves the previous
  * contents whole, the next writer sweeps what it left, and a fold may
  * read the directory it replaces.
  */
class ParquetCompactSpec extends SparkSpec {

  private def ids(dir: String): Set[Long] =
    spark.read.parquet(dir).select(col("id")).collect().map(_.getLong(0)).toSet

  /** A rows job that fails mid-write, after 75 rows went out. One task,
    * so no task of the failed job is still running when the next
    * replace starts. */
  private def failingWrite(tmp: String): Unit =
    spark.range(0, 100, 1, 1)
      .select(when(col("id") === 75, raise_error(lit("injected")))
        .otherwise(col("id")).as("id"))
      .write.parquet(tmp)

  test("replace: a rewrite whose rows job throws keeps every row of dir; " +
      "the next replace sweeps the stray") {
    val dir = Files.createTempDirectory("replace").toString + "/t"
    spark.range(0, 100, 1, 4).write.parquet(dir)
    intercept[Exception](ParquetCompact.replace(spark, dir)(failingWrite))
    assert(ParquetCompact.read(spark, dir).count() === 100L)
    assert(ids(dir) === (0L until 100L).toSet,
      "a failed rewrite must leave the original rows canonical")
    assert(!Fs.exists(spark, s"${dir}__compact/_SUCCESS"))
    ParquetCompact.replace(spark, dir)(spark.range(200, 210).write.parquet(_))
    assert(ids(dir) === (200L until 210L).toSet)
    assert(!Fs.exists(spark, s"${dir}__compact") &&
      !Fs.exists(spark, s"${dir}__old"), "the next replace must sweep strays")
    // a crashed FIRST write is never promoted in place of "absent"
    val fresh = Files.createTempDirectory("replace").toString + "/t"
    intercept[Exception](ParquetCompact.replace(spark, fresh)(failingWrite))
    assert(ParquetCompact.readIfExists(spark, fresh).isEmpty)
    ParquetCompact.replace(spark, fresh)(spark.range(3).write.parquet(_))
    assert(ids(fresh) === Set(0L, 1L, 2L))
  }

  test("replace: a multi-task rewrite that throws while its other tasks " +
      "still run returns with none of them running; an immediate retry " +
      "writes the new rows and leaves no stray") {
    import spark.implicits._
    val dir = Files.createTempDirectory("replace-linger").toString + "/t"
    spark.range(0, 100, 1, 4).write.parquet(dir)
    ParquetCompactSpec.reset()
    intercept[Exception](ParquetCompact.replace(spark, dir) { tmp =>
      spark.range(0, 4, 1, 4).as[Long].map(ParquetCompactSpec.lingering)
        .write.parquet(tmp)
    })
    assert(ParquetCompactSpec.started.get === 3,
      "the three lingering tasks must have been running when task 0 raised")
    assert(ParquetCompactSpec.running.get === 0,
      "a failed replace must not return while tasks of its write still run")
    ParquetCompact.replace(spark, dir)(spark.range(200, 210).write.parquet(_))
    assert(ids(dir) === (200L until 210L).toSet)
    assert(!Fs.exists(spark, s"${dir}__compact") &&
      !Fs.exists(spark, s"${dir}__old"), "no stray may outlive the retry")
  }

  test("replace: a fold that reads dir and replaces it gives the folded rows") {
    val dir = Files.createTempDirectory("replace-fold").toString + "/t"
    def fold(lo: Long): Unit = ParquetCompact.replace(spark, dir) { tmp =>
      val batch = spark.range(lo, lo + 10).toDF()
      ParquetCompact.readIfExists(spark, dir).fold(batch)(_.unionByName(batch))
        .write.parquet(tmp)
    }
    Seq(0L, 10L, 20L).foreach(fold)
    assert(ids(dir) === (0L until 30L).toSet)
  }
}

object ParquetCompactSpec {
  val started = new java.util.concurrent.atomic.AtomicInteger
  val running = new java.util.concurrent.atomic.AtomicInteger
  @volatile private var othersStarted = new java.util.concurrent.CountDownLatch(3)

  def reset(): Unit = {
    started.set(0); running.set(0)
    othersStarted = new java.util.concurrent.CountDownLatch(3)
  }

  /** The row of a 4-task write: task 0 raises once the other three are
    * running, and they run on for two more seconds, deaf to the
    * interrupt a cancelled SQL job sends (as a task blocked in I/O is). */
  def lingering(id: Long): Long =
    if (id == 0) {
      othersStarted.await(60, java.util.concurrent.TimeUnit.SECONDS)
      throw new IllegalStateException("injected")
    } else {
      running.incrementAndGet(); started.incrementAndGet()
      othersStarted.countDown()
      val end = System.nanoTime() + 2000000000L
      while (System.nanoTime() < end)
        try Thread.sleep(math.max(1L, (end - System.nanoTime()) / 1000000L))
        catch { case _: InterruptedException => }
      running.decrementAndGet()
      id
    }
}
