package graft.sim

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.storage.ParquetCompact

/** ONE index-meta contract for every persisted tick index (VERDICT r13
  * #4): the embedding tick's `_bands_meta`, the fingerprint tick's
  * `_fpbands_meta`, and any next modality share this module's
  * read/verify/rebuild skeleton instead of re-growing three slightly
  * different ones. A meta artifact is a SINGLE parquet row of named
  * long fields: the index's INVARIANTS (fields a caller must match
  * exactly — banding family, hash width, completeness contract), one
  * DIAL (the measured-size parameter the index was built at — LSH row
  * width, hamming band count), and `built_n` (the corpus size the dial
  * was chosen for).
  *
  * [[ensureFresh]] is the staleness guard both ticks run at tick start:
  * verify invariants (LOUD mismatch — never serve a mismatched
  * contract), compare the built dial against what the CURRENT corpus
  * needs, rebuild through the caller's thunk when stale (one corpus
  * scan — the honest price of a dial change), and adopt-and-record
  * legacy artifacts that predate the meta contract so the NEXT check
  * compares against a written dial instead of re-assuming. Columns are
  * read through a `cast("long")` so pre-module artifacts with INT
  * columns keep reading; writes are uniformly BIGINT.
  */
object IndexMeta {

  /** Read the single meta row at `metaDir` as name → long. None when
    * the artifact predates the meta contract (no directory). */
  def read(spark: SparkSession, metaDir: String,
           cols: Seq[String]): Option[Map[String, Long]] =
    ParquetCompact.readIfExists(spark, metaDir).map { df =>
      val rows = df.select(cols.map(c => col(c).cast("long").as(c)): _*)
        .collect()
      require(rows.length == 1, s"index meta at $metaDir has " +
        s"${rows.length} rows, expected exactly 1")
      cols.zipWithIndex.map { case (c, i) => c -> rows(0).getLong(i) }.toMap
    }

  /** Persist the meta row (replaced whole — the meta IS the current-dial
    * record, history lives in the tick logs). */
  def write(spark: SparkSession, metaDir: String,
            fields: Seq[(String, Long)]): Unit = {
    val schema = StructType(fields.map(f =>
      StructField(f._1, LongType, nullable = false)))
    val row: Row = Row(fields.map(f => Long.box(f._2)): _*)
    ParquetCompact.replace(spark, metaDir)(spark.createDataFrame(
        java.util.Collections.singletonList(row), schema)
      .coalesce(1).write.parquet(_))
  }

  /** The shared staleness skeleton. Returns the EFFECTIVE dial every
    * consumer of the index must use.
    *
    *  - invariants: fields that must match the caller exactly (e.g. the
    *    band count an LSH index was hashed with, a hamming index's hash
    *    width and maxHamming contract) — a mismatch is a require, never
    *    a silent rebuild, because the caller's READ side is already
    *    wired for its own contract;
    *  - `neededDial` vs the built dial decides staleness via
    *    `staleWhen(built, needed)` (monotone `needed > built` for widths
    *    that only widen; `needed != built` for dials that step in either
    *    direction);
    *  - `rebuild(dial)` re-derives the index at the new dial (the caller
    *    owns the write — band formulas stay in one place);
    *  - a meta-less legacy artifact is adopted as built at `legacyDial`
    *    (the old contract's only possible value) and RECORDED, so the
    *    staleness arithmetic applies to it uniformly — an oversized
    *    legacy corpus rebuilds immediately, which is the correct
    *    outcome: its index WAS saturating.
    */
  def ensureFresh(spark: SparkSession, metaDir: String,
                  invariants: Seq[(String, Long)], dialName: String,
                  neededDial: Long, legacyDial: Long, corpusN: Long,
                  staleWhen: (Long, Long) => Boolean, what: String)
                 (rebuild: Long => Unit): Long = {
    val cols = invariants.map(_._1) ++ Seq(dialName, "built_n")
    val meta = read(spark, metaDir, cols)
    meta.foreach { m =>
      invariants.foreach { case (k, v) =>
        require(m(k) == v, s"index meta at $metaDir was built with " +
          s"$k=${m(k)}, caller expects $v — refusing to serve a " +
          "mismatched contract")
      }
    }
    val built = meta.map(_(dialName)).getOrElse(legacyDial)
    if (staleWhen(built, neededDial)) {
      System.err.println(s"[index-meta] $what at $metaDir is STALE: " +
        s"built $dialName=$built" +
        meta.map(m => s" (corpus was ${m("built_n")})").getOrElse("") +
        s", corpus now $corpusN needs $dialName=$neededDial — rebuilding")
      rebuild(neededDial)
      write(spark, metaDir,
        invariants ++ Seq(dialName -> neededDial, "built_n" -> corpusN))
      neededDial
    } else {
      // adopt-and-record for legacy artifacts so the NEXT check can
      // compare against a written dial instead of re-assuming
      if (meta.isEmpty)
        write(spark, metaDir,
          invariants ++ Seq(dialName -> built, "built_n" -> corpusN))
      built
    }
  }
}
