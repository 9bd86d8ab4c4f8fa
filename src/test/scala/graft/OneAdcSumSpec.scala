package graft

import org.scalatest.funsuite.AnyFunSuite

/** One IVFADC scorer: every cell-pruned ADC candidate score (raw and
  * residual PQ, one-shot, sweep and serve) is summed in
  * `Similarity.adcScore`; the only other ADC sum is the exhaustive
  * `pqAdcTopK` the specs compare against. A hand-rolled copy of the sum
  * anywhere else in `sim/Similarity.scala` fails here. Comments are
  * stripped before matching, so scaladoc may still name the sum.
  */
class OneAdcSumSpec extends AnyFunSuite {
  test("sum(col(\"t_micro\")) appears twice in Similarity: adcScore and pqAdcTopK") {
    val body = java.nio.file.Files.readString(
        java.nio.file.Paths.get("src/main/scala/graft/sim/Similarity.scala"))
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("(?m)(^|\\s)//.*$", "$1")
    // each sum's enclosing def: the last `def` before it
    val defs = """def (\w+)""".r.findAllMatchIn(body).map(m => m.start -> m.group(1)).toSeq
    val sites = """sum\(col\("t_micro"\)\)""".r.findAllMatchIn(body)
      .map(m => defs.takeWhile(_._1 < m.start).last._2).toSeq
    assert(sites.sorted === Seq("adcScore", "pqAdcTopK"),
      s"expected one ADC sum in adcScore and one in pqAdcTopK, found: $sites")
  }
}
