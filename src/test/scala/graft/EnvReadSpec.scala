package graft

import org.scalatest.funsuite.AnyFunSuite

/** Environment reads belong to the entry points: library code takes its
  * settings as parameters (sizing bounds from `graft.core.Sizing`), so a
  * query's plan never depends on the shell it ran from. Fails if
  * `sys.env`, `System.getenv` or `sys.props` appears in any main source
  * file other than the four mains that own the process configuration.
  */
class EnvReadSpec extends AnyFunSuite {
  private val root = java.nio.file.Paths.get("src/main/scala/graft")
  private val allowed = Set("Bench.scala", "Verify.scala",
    "tools/ToolSession.scala", "tools/Probe.scala")

  test("only the entry-point mains read the environment") {
    val envRead = """sys\.env|System\.getenv|sys\.props""".r
    val walk = java.nio.file.Files.walk(root)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq
        .filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString -> java.nio.file.Files.readString(p))
        .collect { case (rel, body) if envRead.findFirstIn(body).isDefined => rel }
        .filterNot(allowed).sorted
    } finally walk.close()
    assert(offenders.isEmpty, s"environment read outside the entry points: $offenders")
  }
}
