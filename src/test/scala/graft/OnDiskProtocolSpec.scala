package graft

import org.scalatest.funsuite.AnyFunSuite

/** One on-disk protocol: each storage decision the artifact tools and
  * the append ticks share lives in one helper, and a hand-rolled copy
  * anywhere else in main code fails here. Comments are stripped before
  * matching, so scaladoc may still name the mechanisms.
  *  - the `Trigger.AvailableNow` drain: `streaming.StreamingIngest.drain`;
  *  - the bucketed-table DDL (`CLUSTERED BY`): `tools.Catalog.open`;
  *  - the Hadoop-FS path probe: `storage.Fs` (also the one
  *    `getFileSystem`), and no `java.nio` `Files.exists` under tools/,
  *    which reads a `file://` or `s3a://` URI as absent;
  *  - the in-place directory replace: `storage.ParquetCompact.replace`
  *    (also the one `refreshByPath`), so no tick product is rewritten
  *    by `mode("overwrite")`, which deletes the old rows before the new
  *    ones exist;
  *  - the local session: `tools.ToolSession.local`, plus the oracle
  *    run's own builder in `Verify`.
  */
class OnDiskProtocolSpec extends AnyFunSuite {
  private val root = java.nio.file.Paths.get("src/main/scala/graft")

  /** (path relative to `root`, source with comments removed) */
  private lazy val sources: Seq[(String, String)] = {
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq
        .filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.readString(p)
            .replaceAll("(?s)/\\*.*?\\*/", "")
            .replaceAll("(?m)(^|\\s)//.*$", "$1"))
    } finally walk.close()
  }

  /** Every (file, occurrence count) of `pattern` in main code. */
  private def sites(pattern: String, under: String = ""): Seq[(String, Int)] =
    sources.collect { case (rel, body) if rel.startsWith(under) =>
      rel -> pattern.r.findAllMatchIn(body).size
    }.filter(_._2 > 0).sortBy(_._1)

  test("one AvailableNow drain, in StreamingIngest.drain") {
    assert(sites("""Trigger\.AvailableNow""") ===
      Seq("streaming/StreamingIngest.scala" -> 1))
  }

  test("one bucketed-table DDL, in tools.Catalog") {
    assert(sites("CLUSTERED BY") === Seq("tools/Catalog.scala" -> 1))
  }

  test("one path probe, in storage.Fs") {
    assert(sites("""\.exists\(new (org\.apache\.hadoop\.fs\.)?Path""") ===
      Seq("storage/Fs.scala" -> 1))
    assert(sites("""getFileSystem\(""") === Seq("storage/Fs.scala" -> 1))
    assert(sites("""Files\.exists""", under = "tools/").isEmpty)
  }

  test("one directory replace, in storage.ParquetCompact") {
    assert(sites("refreshByPath") === Seq("storage/ParquetCompact.scala" -> 1))
    // the one-off artifact builds (BpeBuild, IvfPqBuild) keep overwrite;
    // `format("noop")` sinks end in `.save()` and do not match
    val overwrite =
      """mode\("overwrite"\)(\s*\.\w+\([^()]*\))*\s*\.(parquet|csv)\("""
    val ticks = Set("streaming/StreamingIngest.scala",
      "tools/PipelineCli.scala", "sim/IndexMeta.scala")
    assert(sites(overwrite).filter(s => ticks(s._1)).isEmpty)
    assert(sites("""SparkSession\s*\.builder""") ===
      Seq("Verify.scala" -> 1, "tools/ToolSession.scala" -> 1))
  }
}
