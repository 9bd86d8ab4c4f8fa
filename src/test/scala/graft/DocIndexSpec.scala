package graft

import org.scalatest.funsuite.AnyFunSuite

/** Doc contract for README's operator index (VERDICT r10 #6): with 206
  * registered queries across 20+ files, the README must map capability →
  * entry point → query, and must not go stale as queries are added or
  * files move. Fails if a registered query's short key is missing from
  * the index section, or an entry-point path cited there doesn't exist;
  * likewise if the Running section's `runMain` lines name a main that
  * is gone.
  */
class DocIndexSpec extends AnyFunSuite {
  private def readmeSection(heading: String): String = {
    val src = scala.io.Source.fromFile("README.md", "UTF-8")
    val text = try src.mkString finally src.close()
    val start = text.indexOf(heading)
    assert(start >= 0, s"README.md has no '$heading' section")
    val rest = text.substring(start + 3)
    val end = rest.indexOf("\n## ")
    if (end >= 0) rest.substring(0, end) else rest
  }

  private lazy val indexSection: String = readmeSection("## Operator index")

  test("every registered query appears in the README operator index") {
    val missing = SparkEntry.queries.keySet.toSeq.sorted.filterNot { name =>
      val short = name.takeWhile(_ != '_')
      // boundary match so q11 doesn't ride on q110
      ("(?<![0-9a-z])" + short + "(?![0-9])").r.findFirstIn(indexSection).isDefined
    }
    assert(missing.isEmpty, s"queries absent from README operator index: $missing")
  }

  test("every entry-point path cited in the index exists") {
    val cited = """`([a-z/]+/[A-Za-z]+\.scala)`""".r
      .findAllMatchIn(indexSection).map(_.group(1)).toSeq.distinct
    assert(cited.nonEmpty, "index cites no entry-point paths")
    val stale = cited.filterNot(p =>
      java.nio.file.Files.exists(java.nio.file.Paths.get("src/main/scala/graft", p)))
    assert(stale.isEmpty, s"stale entry points in README operator index: $stale")
  }

  test("every runMain in the README Running section names an existing main") {
    val running = readmeSection("## Running")
    val cited = """runMain graft\.((?:[a-z]+\.)*)([A-Z][A-Za-z0-9]*)""".r
      .findAllMatchIn(running).map(m => (m.group(1), m.group(2))).toSeq.distinct
    assert(cited.nonEmpty, "Running section cites no runMain targets")
    // a top-level definition starts at column 0; the object's body runs
    // to the next one
    val topLevel = "(?m)^(?:object|class|trait|case class|abstract|final|sealed) ".r
    def hasMain(dir: java.io.File, obj: String): Boolean =
      Option(dir.listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".scala")).exists { f =>
          val s = scala.io.Source.fromFile(f, "UTF-8")
          val body = try s.mkString finally s.close()
          ("(?m)^object " + obj + "\\b").r.findFirstMatchIn(body).exists { m =>
            val after = body.substring(m.end)
            val seg = topLevel.findFirstMatchIn(after)
              .fold(after)(n => after.substring(0, n.start))
            seg.contains("def main(")
          }
        }
    val missing = cited.filterNot { case (pkg, obj) =>
      hasMain(new java.io.File("src/main/scala/graft/" + pkg.replace('.', '/')), obj)
    }.map { case (pkg, obj) => s"graft.$pkg$obj" }
    assert(missing.isEmpty, s"README runMain targets with no main: $missing")
  }
}
