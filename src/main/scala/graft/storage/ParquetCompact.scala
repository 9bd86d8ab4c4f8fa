package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Small-file compaction for APPEND-GROWN parquet directories: the
  * `_bands`/`_fpbands` corpus indexes of the embedding and fingerprint
  * ticks, and (through [[compactWith]]) the bucketed IVF-PQ code table
  * of [[graft.tools.IvfPqBuild.compact]]. Every ingest tick appends a
  * handful of files; a thousand ticks is thousands of files under every
  * later scan and listing, so a deployment runs this on a slower cadence
  * than the ticks (or whenever [[dataFiles]] crosses its threshold).
  *
  * THE SWAP (the only one in graft — crash-atomic, single-writer): the
  * rewrite lands fully at `<dir>__compact` while the original keeps
  * serving; the swap is then rename-ASIDE — original → `<dir>__old`,
  * rewrite → canonical, aside deleted last — so every crash window
  * leaves a complete copy on disk:
  *  - before the first rename the original is canonical (a stray
  *    `__compact` is swept by the next compaction);
  *  - between the renames nothing is canonical, and the next reader's
  *    [[recover]] promotes the completed rewrite (or, lacking one, rolls
  *    the aside original back);
  *  - after the second rename only the stray `__old` remains to sweep.
  * READERS AT MOST PROMOTE, NEVER DELETE: a reader opening while a
  * compaction runs in another process must not sweep that writer's
  * in-progress `__compact`, so stray sweeping is writer-only
  * ([[compactWith]], the one actor that knows no rewrite is in flight).
  * Row-level content is IDENTICAL before and after (spec-pinned); only
  * the file layout changes. Rewrite cost is one read + one write of the
  * directory, paid 1/cadence as often as ticks.
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
    * is missing, promote the completed `__compact` rewrite or, lacking
    * one, roll the `__old` aside back. Idempotent; no-op on a healthy
    * directory. */
  def recover(spark: SparkSession, dir: String): Unit = {
    val fs = Fs.get(spark, dir)
    val (p, tmp, old) = (new Path(dir), rewritePath(dir), asidePath(dir))
    if (!fs.exists(p)) {
      val from = if (fs.exists(tmp)) Some(tmp)
        else if (fs.exists(old)) Some(old) else None
      from.foreach { f =>
        require(fs.rename(f, p), s"swap recovery failed: $f -> $p")
        System.err.println(s"[compact] crash window recovered at $dir: " +
          s"renamed ${f.getName} back to canonical")
      }
    }
  }

  /** Read a swap-managed parquet directory, recovering first. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    recover(spark, dir)
    spark.read.parquet(dir)
  }

  /** Rewrite `dir` into ~`targetFiles` files when its census exceeds
    * `maxFiles`; returns (filesBefore, filesAfter) — equal when the
    * threshold did not bind. */
  def compactDir(spark: SparkSession, dir: String, maxFiles: Int,
                 targetFiles: Int = 1): (Int, Int) = {
    require(targetFiles >= 1, s"targetFiles $targetFiles < 1")
    compactWith(spark, dir, maxFiles) { (src, tmp) =>
      src.coalesce(targetFiles).write.mode("overwrite").parquet(tmp)
    }
  }

  /** The threshold + rewrite + swap skeleton: recover, take the census,
    * and when it exceeds `maxFiles` sweep strays, let `rewrite` write
    * the directory's rows (read from the FILES) to the `__compact` path
    * it is given, and swap it in. Returns (filesBefore, filesAfter). */
  def compactWith(spark: SparkSession, dir: String, maxFiles: Int)(
      rewrite: (DataFrame, String) => Unit): (Int, Int) = {
    recover(spark, dir)
    val before = dataFiles(spark, dir)
    if (before <= maxFiles) (before, before)
    else {
      val fs = Fs.get(spark, dir)
      val (p, tmp, old) = (new Path(dir), rewritePath(dir), asidePath(dir))
      sweepStrays(fs, tmp, old)
      rewrite(spark.read.parquet(dir), tmp.toString)
      require(fs.rename(p, old),
        s"compaction swap failed: $p -> $old (nothing moved; the " +
          "original is still canonical)")
      require(fs.rename(tmp, p),
        s"compaction swap failed: $tmp -> $p (original preserved at " +
          s"${old.getName}; the next read recovers it)")
      fs.delete(old, true)
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
