package graft.storage

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** The ONE way graft replaces a directory in place — every tick
  * product a rerun rewrites (the ECCC grid, ExportDaily's products and
  * CSVs, the corpus `_manifest`, the crawl `_linedf`, the drift
  * `_grid`/`psi`, BPE `_shard_offsets`, every [[graft.sim.IndexMeta]]
  * row, the band-index rebuilds) and the small-file compaction of
  * APPEND-GROWN directories (`_bands`/`_fpbands`, and through
  * [[compactWith]] the bucketed IVF-PQ code table). The reference gets
  * the same guarantee from its object store: it writes a product whole,
  * then PUTs it, so a reader sees the old object or the new one.
  *
  * THE SWAP (crash-atomic, single-writer; [[replace]]): the new
  * contents land fully at `<dir>__compact` while the original keeps
  * serving (so the writer may read `dir` to build them); the swap is
  * then rename-ASIDE — original → `<dir>__old`, new → canonical, aside
  * deleted last — so every crash window leaves a complete copy on disk:
  *  - before the first rename the original is canonical (a stray
  *    `__compact`, finished or not, is swept by the next writer);
  *  - between the renames nothing is canonical, and the next reader's
  *    [[recover]] promotes the finished rewrite (or, lacking one, rolls
  *    the aside original back);
  *  - after the second rename only the stray `__old` remains to sweep.
  * A rewrite counts as finished once its job committed (`_SUCCESS`), so
  * a crashed first write is never promoted in place of "absent".
  * READERS AT MOST PROMOTE, NEVER DELETE: a reader opening while a
  * writer runs in another process must not sweep that writer's
  * in-progress `__compact`, so stray sweeping is writer-only.
  * Cost per replace: two renames and one delete on top of the write.
  * On `s3a://` a rename is a copy, so there the swap costs one more
  * copy of the directory per replace.
  */
object ParquetCompact {

  private def rewritePath(dir: String) = new Path(dir + "__compact")
  private def asidePath(dir: String) = new Path(dir + "__old")

  /** Data-file census of a parquet directory (underscore-prefixed
    * commit markers and dot-prefixed checksums excluded). 0 when the
    * directory does not exist. */
  def dataFiles(spark: SparkSession, dir: String): Int = {
    val p = new Path(dir)
    val fs = Fs.get(spark, dir)
    if (!fs.exists(p)) 0
    else fs.listStatus(p)
      .count(f => f.isFile && !f.getPath.getName.startsWith("_")
        && !f.getPath.getName.startsWith("."))
  }

  /** Reader-side crash recovery for the swap: when the canonical `dir`
    * is missing, promote the finished `__compact` rewrite or, lacking
    * one, roll the `__old` aside back. Idempotent; no-op on a healthy
    * directory. */
  def recover(spark: SparkSession, dir: String): Unit = {
    val fs = Fs.get(spark, dir)
    val (p, tmp, old) = (new Path(dir), rewritePath(dir), asidePath(dir))
    if (!fs.exists(p)) {
      val from = if (Fs.exists(spark, s"$tmp/_SUCCESS")) Some(tmp)
        else if (fs.exists(old)) Some(old) else None
      from.foreach { f =>
        require(fs.rename(f, p) || promoted(fs, f, p),
          s"swap recovery failed: $f -> $p")
        System.err.println(s"[compact] crash window recovered at $dir: " +
          s"renamed ${f.getName} back to canonical")
      }
    }
  }

  /** A rename that lost the race to another actor's identical one. */
  private def promoted(fs: FileSystem, from: Path, to: Path): Boolean =
    fs.exists(to) && !fs.exists(from)

  /** Read a swap-managed parquet directory, recovering first. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    recover(spark, dir)
    spark.read.parquet(dir)
  }

  /** [[read]], or None when the directory does not exist. */
  def readIfExists(spark: SparkSession, dir: String): Option[DataFrame] = {
    recover(spark, dir)
    if (Fs.exists(spark, dir)) Some(spark.read.parquet(dir)) else None
  }

  /** Replace the contents of `dir` (absent or not) with what `write`
    * puts at the path it is given: recover, sweep strays, write, swap
    * in, and refresh the session's cached listings of `dir` once.
    * `dir` stays canonical until `write` returns, so `write` may read
    * it (a fold of the standing rows needs no checkpoint); a `write`
    * that throws leaves `dir` untouched, and by the time its exception
    * reaches the caller no task of its jobs is still running and
    * `__compact` is gone (see [[settled]]), so an immediate retry
    * starts clean. */
  def replace(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    recover(spark, dir)
    val fs = Fs.get(spark, dir)
    val (p, tmp, old) = (new Path(dir), rewritePath(dir), asidePath(dir))
    sweepStrays(fs, tmp, old)
    settled(spark) {
      write(tmp.toString)
    } {
      fs.delete(tmp, true)
    }
    if (fs.exists(p))
      require(fs.rename(p, old),
        s"replace swap failed: $p -> $old (nothing moved; the " +
          "original is still canonical)")
    // between the renames a concurrent reader's recover may already
    // have promoted the rewrite: that is the swap done, not a failure
    require(fs.rename(tmp, p) || promoted(fs, tmp, p),
      s"replace swap failed: $tmp -> $p (original preserved at " +
        s"${old.getName}; the next read recovers it)")
    fs.delete(old, true)
    spark.catalog.refreshByPath(dir)
  }

  /** Run `body`; if it throws, stop the jobs it started, wait until none
    * of their tasks is running, run `cleanup` and rethrow. Spark fails a
    * job as soon as one task fails while the job's other tasks run on (a
    * killed task stops at its next interrupt check or row check), and
    * such a late write task recreates `__compact/_temporary` after the
    * next writer's sweep, failing an immediate retry with
    * PATH_ALREADY_EXISTS. The body's jobs carry a per-call job tag, so
    * they can be cancelled and their tasks counted by a listener; a
    * one-task fence job, started after the cancel, ends only after every
    * task those jobs launched has posted its start, and the wait is for
    * the fence's end plus the end of every started task. The success
    * path adds the tag and the listener for the duration of `body`: no
    * job and no wait. */
  private def settled(spark: SparkSession)(body: => Unit)(
      cleanup: => Unit): Unit = {
    val sc = spark.sparkContext
    val tag = s"graft-replace-${java.util.UUID.randomUUID()}"
    val census = new TaskCensus(tag)
    sc.addSparkListener(census)
    sc.addJobTag(tag)
    try body
    catch {
      case scala.util.control.NonFatal(e) =>
        sc.removeJobTag(tag)
        sc.cancelJobsWithTag(tag)
        sc.addJobTag(census.fenceTag)
        try sc.parallelize(Seq(0), 1).foreach(_ => ())
        finally sc.removeJobTag(census.fenceTag)
        census.awaitIdle()
        cleanup
        throw e
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(census)
    }
  }

  /** The running tasks of the jobs tagged `tag`, and the end of the job
    * tagged [[fenceTag]] ([[settled]]). */
  private final class TaskCensus(tag: String) extends SparkListener {
    val fenceTag = s"$tag-fence"
    private val stages = scala.collection.mutable.Set.empty[Int]
    private val running = scala.collection.mutable.Set.empty[Long]
    private var fenceJob = -1
    private var fenced = false
    private def tags(e: SparkListenerJobStart): Set[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .fold(Set.empty[String])(_.split(",").toSet)
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val t = tags(e)
      if (t(tag)) stages ++= e.stageIds
      if (t(fenceTag)) fenceJob = e.jobId
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (e.jobId == fenceJob) { fenced = true; notifyAll() }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      if (stages(e.stageId)) running += e.taskInfo.taskId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (running.remove(e.taskInfo.taskId)) notifyAll()
    }
    def awaitIdle(): Unit = synchronized {
      while (!fenced || running.nonEmpty) wait()
    }
  }

  /** Rewrite `dir` into ~`targetFiles` files when its census exceeds
    * `maxFiles`; returns (filesBefore, filesAfter) — equal when the
    * threshold did not bind. */
  def compactDir(spark: SparkSession, dir: String, maxFiles: Int,
                 targetFiles: Int = 1): (Int, Int) = {
    require(targetFiles >= 1, s"targetFiles $targetFiles < 1")
    compactWith(spark, dir, maxFiles) { (src, tmp) =>
      src.coalesce(targetFiles).write.parquet(tmp)
    }
  }

  /** The threshold + [[replace]] skeleton: recover, take the census,
    * and when it exceeds `maxFiles` let `rewrite` write the directory's
    * rows (read from the FILES) to the path it is given, swapped in by
    * [[replace]]. Returns (filesBefore, filesAfter). */
  def compactWith(spark: SparkSession, dir: String, maxFiles: Int)(
      rewrite: (DataFrame, String) => Unit): (Int, Int) = {
    recover(spark, dir)
    val before = dataFiles(spark, dir)
    if (before <= maxFiles) (before, before)
    else {
      replace(spark, dir)(tmp => rewrite(spark.read.parquet(dir), tmp))
      (before, dataFiles(spark, dir))
    }
  }

  /** Writer-only: with the canonical directory present, a leftover
    * `__old` (swap completed, crash before its delete) or `__compact`
    * (rewrite never swapped in) is dead weight from an interrupted run. */
  private def sweepStrays(fs: FileSystem, tmp: Path, old: Path): Unit =
    Seq(old, tmp).filter(fs.exists).foreach { s =>
      fs.delete(s, true)
      System.err.println(s"[compact] swept stray ${s.getName}")
    }

  /** CLI: runMain graft.storage.ParquetCompact <dir> [maxFiles=64]
    * [targetFiles=1] */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ParquetCompact <dir> [maxFiles] [targetFiles]")
    val spark = graft.tools.ToolSession.local()
    val (before, after) = compactDir(spark, args(0),
      maxFiles = if (args.length > 1) args(1).toInt else 64,
      targetFiles = if (args.length > 2) args(2).toInt else 1)
    println(s"[compact] ${args(0)}: $before -> $after data files" +
      (if (before == after) " (threshold not crossed, no rewrite)" else ""))
    spark.stop()
  }
}
