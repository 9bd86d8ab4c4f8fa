package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.text.NearDup

/** Offline TEXT-corpus dedup-index lifecycle — the [[IvfPqBuild]] of the
  * MinHash world: build the [[NearDup.CorpusIndex]] ONCE per corpus
  * version, persist its three frames as bucketed tables, and serve every
  * ingest tick's `incrementalDedupIndexed` from the reopened tables.
  *
  *  - `bands` bucketed by `band_hash`: the candidate probe join consumes
  *    the table's hash distribution with NO exchange on the corpus side
  *    (only the batch shuffles into the bucket layout), and an equality
  *    probe bucket-prunes at scan time — both plan properties are
  *    asserted in TextSpec on exactly this table shape;
  *  - `hashes` bucketed by `ch`: the exact-dup md5 join gets the same
  *    corpus-side-stationary treatment;
  *  - `sets` bucketed by `id`: the signature join-back for verified
  *    candidates keys on the corpus id.
  *
  * Cost model (PLANS.md): the build pays one corpus signature scan plus
  * three bucketed writes, amortized over every subsequent tick; a tick
  * then pays batch-side scans plus bucket-pruned index probes — nothing
  * corpus-sized is recomputed or re-shuffled per tick. Catalog names
  * derive from `outDir` (two indexes in one metastore must not clobber
  * each other — [[Catalog.pathTable]]).
  *
  * Usage:
  *   runMain graft.tools.CorpusBuild build <sfDir> <outDir> [k=16] [bands=8] [buckets=8] [batchMod=5]
  *   runMain graft.tools.CorpusBuild probe <sfDir> <outDir> [reps=1] [batchMod=5]
  *     (probe takes NO signature params — k/bands/buckets are part of the
  *     persisted artifact; see [[IndexMeta]]. `batchMod` sets the demo
  *     split: corpus = doc_id % mod ≠ 0, tick batch = the rest — mod 5
  *     is the 20% demo batch, mod 500 a realistic ~0.2% ingest tick;
  *     build and probe must use the SAME mod.)
  */
object CorpusBuild {

  private def tableName(outDir: String, part: String): String =
    Catalog.pathTable(s"graft_corpus_$part", outDir)

  /** The signature parameters an index was built with. Persisted WITH the
    * index and read back at open time: probing with a different k or
    * bands than the build is not an error Spark can see — the band hashes
    * simply never collide, the candidate join comes back empty, and every
    * near-dup is silently reported 'new'. The params are part of the
    * artifact, exactly like IvfPqBuild's persisted codebooks. Storage rides
    * the shared [[graft.sim.IndexMeta]] contract (VERDICT r13 #4); this
    * index is the INVARIANTS-ONLY case — MinHash banding has no
    * corpus-sized dial (band count is pinned by the signature length),
    * so there is no ensureFresh arm, just the one meta row.
    */
  final case class IndexMeta(k: Int, bands: Int, buckets: Int)

  /** The reopened index plus the build-time parameters every probe must
    * reuse for its batch-side signatures.
    */
  final case class OpenedIndex(index: NearDup.CorpusIndex, meta: IndexMeta)

  /** Build the corpus index over `corpus` and persist all three frames as
    * bucketed external tables under `outDir`, plus the build params.
    */
  def build(spark: SparkSession, corpus: DataFrame, outDir: String,
            k: Int = 16, bands: Int = 8, buckets: Int = 8): Unit = {
    val idx = NearDup.corpusIndex(corpus, "doc_id", "text", k, bands)
    def write(df: DataFrame, part: String, bucketCol: String): Unit =
      Catalog.save(df, tableName(outDir, part), s"$outDir/$part", buckets,
        bucketCol)
    write(idx.bands, "bands", "band_hash")
    write(idx.sets, "sets", "id")
    write(idx.hashes, "hashes", "ch")
    graft.sim.IndexMeta.write(spark, s"$outDir/meta",
      Seq("k" -> k.toLong, "bands" -> bands.toLong, "buckets" -> buckets.toLong))
  }

  private def readMeta(spark: SparkSession, outDir: String): IndexMeta = {
    val m = graft.sim.IndexMeta.read(spark, s"$outDir/meta",
        Seq("k", "bands", "buckets"))
      .getOrElse(sys.error(s"no corpus-index meta at $outDir/meta"))
    IndexMeta(m("k").toInt, m("bands").toInt, m("buckets").toInt)
  }

  /** Re-register the persisted files as external bucketed tables
    * ([[Catalog.open]]: the bucket spec lives in the catalog DDL, not the
    * parquet footers) and return the index ready
    * for [[NearDup.incrementalDedupIndexed]] TOGETHER with the build-time
    * k/bands a probe must reuse. Safe in a fresh session.
    */
  def openIndex(spark: SparkSession, outDir: String): OpenedIndex = {
    val meta = readMeta(spark, outDir)
    def reopen(part: String, bucketCol: String): DataFrame =
      Catalog.open(spark, tableName(outDir, part), s"$outDir/$part",
        meta.buckets, bucketCol)
    OpenedIndex(NearDup.CorpusIndex(
      bands = reopen("bands", "band_hash"),
      sets = reopen("sets", "id"),
      hashes = reopen("hashes", "ch")), meta)
  }

  /** Drop the catalog registrations for the index at `outDir` (the data
    * files are left in place — registration is per-session state).
    */
  def dropTables(spark: SparkSession, outDir: String): Unit =
    Seq("bands", "sets", "hashes").foreach(p =>
      spark.sql(s"DROP TABLE IF EXISTS ${tableName(outDir, p)}"))

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: CorpusBuild build|probe <sfDir> <outDir> ...")
    val (mode, sfDir, outDir) = (args(0), args(1), args(2))
    def arg(i: Int, dflt: Int) = if (args.length > i) args(i).toInt else dflt
    val spark = ToolSession.local()
    // the tool's demo split: corpus = 80% of documents, batch = the rest
    val docs = Tables.documents(spark, sfDir)
    mode match {
      case "build" =>
        val mod = arg(6, 5)
        val t0 = System.nanoTime()
        build(spark, docs.filter(col("doc_id") % mod =!= 0), outDir,
          k = arg(3, 16), bands = arg(4, 8), buckets = arg(5, 8))
        println(f"[corpus] built bands/sets/hashes bucketed index at $outDir " +
          f"(batchMod $mod) in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "probe" =>
        // reps > 1 separates the one-off session costs (DDL, codegen)
        // from the steady-state tick latency — the IvfPqBuild probe rule
        val reps = arg(3, 1)
        val mod = arg(4, 5)
        for (r <- 1 to reps) {
          val t0 = System.nanoTime()
          val opened = openIndex(spark, outDir)
          val verdicts = NearDup.incrementalDedupIndexed(opened.index,
              docs.filter(col("doc_id") % mod === 0), "doc_id", "text",
              k = opened.meta.k, bands = opened.meta.bands)
            .groupBy("verdict").count().orderBy("verdict").collect()
          println(f"[corpus] tick $r/$reps verdicts from the reopened index " +
            f"(batchMod $mod) in ${(System.nanoTime() - t0) / 1e9}%.1f s: " +
            verdicts.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" "))
        }
      case other => sys.error(s"unknown mode $other (build|probe)")
    }
    spark.stop()
  }
}
