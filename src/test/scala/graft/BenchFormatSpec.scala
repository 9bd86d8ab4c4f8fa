package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Pure-format tests for the bench's driver contract: baseline parsing,
  * the >2.5× tripwire, and the 1900-char stdout budget under every
  * degradation path (the driver keeps only the final ~2000 chars of
  * stdout and json-parses the LAST line — see Bench scaladoc).
  */
class BenchFormatSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private def lastLine(payload: String): String = payload.split('\n').last
  private def parses(line: String): Boolean =
    try { mapper.readTree(line); true } catch { case _: Throwable => false }

  private def mkResults(n: Int, times: Int => Double): Seq[Bench.QResult] =
    (1 to n).map { i =>
      val t = times(i)
      Bench.QResult(f"q$i%02d_synthetic_query_name_with_length_$i",
        t, Seq(Some(t + 0.4), Some(t + 0.1), Some(t)))
    }

  test("calibration field rides the summary when measured, is absent when not (VERDICT r12 #8)") {
    val out = mkResults(5, _ => 0.3)
    val withCal = composeOf(out, cal = 1.23)
    assert(withCal.contains("\"cal\":1.23"), withCal)
    assert(parses(lastLine(withCal)))
    val without = composeOf(out, cal = -1.0)
    assert(!without.contains("\"cal\""), without)
    assert(parses(lastLine(without)))
  }

  private def composeOf(out: Seq[Bench.QResult], cal: Double): String =
    Bench.composeStdout(out, out.map(_.best).sum, Nil, Nil, "/sf", cal = cal)

  test("parseBaseline picks the rightmost numeric column and skips dashes/notes") {
    val md =
      """|# BASELINE
         || query | r01 sec | r07 sec | r09 sec | note |
         ||---|---|---|---|---|
         || q01_pricing_summary | 0.72 | 0.55 | 0.42 |  |
         || q49_lsh_pairs | — | 0.59 | 0.62 |  |
         || q107_interval_join | — | 0.65 | 0.42 | r08 second half ÷1.45 box ≈ 0.45 |
         || q116_value_trend |  |  | 0.22 | r08: exact-integer least squares |
         || **total** | **66.33** | **54.0** | whatever |
         |not a table line""".stripMargin
    val b = Bench.parseBaseline(md.linesIterator)
    assert(b("q01_pricing_summary") == 0.42)
    assert(b("q49_lsh_pairs") == 0.62)
    assert(b("q107_interval_join") == 0.42) // note cell has digits but isn't a bare number
    assert(b("q116_value_trend") == 0.22)
    assert(!b.contains("**total**") && b.size == 4)
  }

  test("tripwire flags only >2.5x entries with a positive best and a baseline") {
    val base = Map("q01_a" -> 0.40, "q02_b" -> 0.40, "q03_c" -> 0.40)
    val out = Seq(
      Bench.QResult("q01_a", 1.20, Seq(Some(1.2))),  // 3.0x -> flag
      Bench.QResult("q02_b", 0.90, Seq(Some(0.9))),  // 2.25x -> no
      Bench.QResult("q03_c", -1.0, Seq(None)),       // failed -> no (it's in errors)
      Bench.QResult("q04_d", 99.0, Seq(Some(99.0)))) // no baseline -> no
    assert(Bench.findFlags(out, base).map(_.name) == Seq("q01_a"))
  }

  test("123-query payload with one flagged query fits the budget, flag line first") {
    val out = mkResults(123, i => if (i == 107) 4.651 else 0.3)
    val flags = Seq(Bench.Flag(out(106), 0.42, "ex4/cg6/ab12cd34"))
    val payload = Bench.composeStdout(out, 40.0, Nil, flags, "/sf")
    assert(payload.length <= Bench.StdoutBudget)
    val lines = payload.split('\n')
    assert(lines.head.contains("\"metric\":\"flag\"") && lines.head.contains("\"q\":\"q107\""))
    assert(lines.head.contains("\"reps\":[5.051,4.751,4.651]"))
    assert(lines.head.contains("\"plan\":\"ex4/cg6/ab12cd34\""))
    assert(lines.forall(parses))
    assert(lastLine(payload).contains("\"metric\":\"total\""))
  }

  test("mass failure degrades errors to short keys then a count, stays parseable") {
    // the ADVICE r09 scenario: most of 123 queries throwing — full-name
    // errors alone would overflow even the '{}' fallback line
    val out = mkResults(123, _ => -1.0).map(r => r.copy(times = Seq(None, None, None)))
    val errors = out.map(_.name)
    val payload = Bench.composeStdout(out, 0.0, errors, Nil, "/sf")
    assert(payload.length <= Bench.StdoutBudget)
    val last = lastLine(payload)
    assert(parses(last))
    val node = mapper.readTree(last)
    val errs = node.get("errors")
    // degraded form: either a short-key array or a bare count — never
    // a front-truncated full-name list
    assert(errs.isInt || (errs.isArray && errs.size == 123 &&
      errs.get(0).asText.length <= 4))
  }

  test("adjudicate: a persistently-slow query reproduces, a transient one is contended") {
    // VERDICT r10 #2 done-criterion: an artificially slowed query (its
    // quiet-tail re-measure is STILL >2.5x baseline) must keep its flag;
    // a transiently-slowed one (tail re-measure back under the line)
    // must come back contended:true; a failed re-measure must not
    // downgrade the flag.
    val slow = Bench.Flag(Bench.QResult("q20_slowed", 1.25, Seq(Some(1.3), Some(1.25))), 0.20, "ex2/cg3/aa")
    val transient = Bench.Flag(Bench.QResult("q21_transient", 0.70, Seq(Some(0.7), Some(0.71))), 0.17, "ex2/cg3/bb")
    val broken = Bench.Flag(Bench.QResult("q22_broken", 0.90, Seq(Some(0.9))), 0.23, "ex2/cg3/cc")
    val tails = Map("q20_slowed" -> 1.20, "q21_transient" -> 0.15)
    val adj = Bench.adjudicate(Seq(slow, transient, broken), tails.get)
    val byName = adj.map(f => f.q.name -> f).toMap
    assert(!byName("q20_slowed").contended && byName("q20_slowed").tail.contains(1.20))
    assert(byName("q21_transient").contended && byName("q21_transient").tail.contains(0.15))
    assert(!byName("q22_broken").contended && byName("q22_broken").tail.isEmpty)
    // full record carries the verdict either way
    assert(byName("q21_transient").fullJson.contains("\"contended\":true"))
    assert(byName("q21_transient").fullJson.contains("\"tail\":0.150"))
    assert(byName("q20_slowed").fullJson.contains("\"contended\":false"))
  }

  test("sub-noise-floor flags re-measure x3 in the quiet tail (VERDICT r13 #7)") {
    // the r13 close self-adjudicated q176/q180 (sub-second rows) via an
    // ad-hoc manual re-measure; the rule is now standard: a flagged row
    // whose BASELINE column sits under the 0.5 s noise floor gets 3
    // tail samples (min taken), everything else keeps 1
    assert(Bench.quietTailReps(0.14) === 3) // the q176/q180 class
    assert(Bench.quietTailReps(0.49) === 3)
    assert(Bench.quietTailReps(0.5) === 1)
    assert(Bench.quietTailReps(5.38) === 1)
    // a flagged query MISSING from the baseline cannot be sub-second by
    // evidence — the caller passes MaxValue, landing on 1
    assert(Bench.quietTailReps(Double.MaxValue) === 1)
  }

  test("a contended query's qt/queries entry carries the quiet-tail value") {
    // VERDICT r11 #4 done-criterion: BENCH_rN's compact artifact must
    // not show a phantom 17× regression the tripwire itself adjudicated
    // to box contention — the contended query's compact entry is the
    // tail re-measure, the reproduced flag and the broken-tail flag keep
    // their in-suite values.
    val out = Seq(
      Bench.QResult("q01_contended", 4.43, Seq(Some(4.43), Some(4.50), Some(4.6))),
      Bench.QResult("q02_reproduced", 2.00, Seq(Some(2.0), Some(2.1), Some(2.2))),
      Bench.QResult("q03_healthy", 0.30, Seq(Some(0.3), Some(0.31), Some(0.32))),
      Bench.QResult("q04_allfailed", -1.0, Seq(None, None, None)))
    val flags = Seq(
      Bench.Flag(out(0), 0.26, "ex2/cg3/aa", tail = Some(0.20), contended = true),
      Bench.Flag(out(1), 0.30, "ex2/cg3/bb", tail = Some(1.95), contended = false),
      // contended without a tail must never happen via adjudicate, but
      // foldAdjudicated must not crash or invent a value if it does
      Bench.Flag(out(3), 0.30, "ex2/cg3/cc", tail = None, contended = true))
    val folded = Bench.foldAdjudicated(out, flags)
    val byName = folded.map(r => r.name -> r.best).toMap
    assert(byName("q01_contended") == 0.20) // tail replaces the contended in-suite time
    assert(byName("q02_reproduced") == 2.00) // reproduced flags keep the real slowness
    assert(byName("q03_healthy") == 0.30)
    assert(byName("q04_allfailed") == -1.0) // error sentinel survives untouched
    // raw repeats are untouched — only the compact best is adjudicated
    assert(folded.head.times == out.head.times)
    // and the compact payload renders the adjudicated value
    val total = folded.map(_.best).filter(_ >= 0).sum
    val payload = Bench.composeStdout(folded, total, Seq("q04_allfailed"), flags, "/sf")
    assert(payload.linesIterator.toSeq.last.contains("\"q01\":0.200"))
    assert(!payload.contains("4.430") || payload.contains("\"metric\":\"flag\""))
  }

  test("contended flags fold to one count line; reproduced ones keep their own lines") {
    val out = mkResults(120, i => if (i <= 3) 2.0 else 0.3)
    val mk = (i: Int, cont: Boolean) => Bench.Flag(out(i - 1), 0.30,
      "ex1/cg2/dd", tail = Some(if (cont) 0.31 else 1.9), contended = cont)
    val flags = Seq(mk(1, false), mk(2, true), mk(3, true))
    val payload = Bench.composeStdout(out, 40.0, Nil, flags, "/sf")
    assert(payload.length <= Bench.StdoutBudget)
    val lines = payload.split('\n')
    assert(lines.count(_.contains("\"metric\":\"flag\"")) == 1)
    assert(lines.head.contains("\"q\":\"q01\"") && lines.head.contains("\"tail\":1.900"))
    val fold = lines.find(_.contains("\"metric\":\"flags_contended\"")).get
    assert(fold.contains("\"n\":2") && fold.contains("\"q02\"") && fold.contains("\"q03\""))
    lines.foreach(l => assert(parses(l)))
  }

  test("8 flags + 206 queries still carry per-query times (qt array) in-budget") {
    // VERDICT r10 #3: BENCH_r10's parsed summary had queries:{} because
    // flags evicted the map. A 206-entry short-key OBJECT is ~2.3 kB at
    // one decimal — over the 1900-char window by itself — so the ladder
    // swaps to the positional qt array and trims flag reps to 2 first.
    val out = mkResults(206, i => if (i <= 8) 1.5 else 0.3)
    val flags = (1 to 8).map(i => Bench.Flag(out(i - 1), 0.30, "ex3/cg4/ee", tail = Some(1.45)))
    val payload = Bench.composeStdout(out, 70.0, Nil, flags, "/sf")
    assert(payload.length <= Bench.StdoutBudget)
    val lines = payload.split('\n')
    assert(lines.count(_.contains("\"metric\":\"flag\"")) == 8, payload)
    val node = mapper.readTree(lastLine(payload))
    assert(node.get("qn").asInt == 206)
    assert(node.get("qt").isArray && node.get("qt").size == 206, payload.length)
    // flag lines rode through on first+last reps (length 2)
    val flagNode = mapper.readTree(lines.head)
    assert(flagNode.get("reps").size == 2)
  }

  test("flag overflow collapses the tail into flags_omitted, keeps most-severe") {
    val out = mkResults(60, i => 5.0 + i * 0.01) // all slow
    val flags = out.map(r => Bench.Flag(r, 0.30, "ex1/cg1/00000000"))
    val payload = Bench.composeStdout(out, 300.0, Nil, flags, "/sf")
    assert(payload.length <= Bench.StdoutBudget)
    assert(payload.contains("\"metric\":\"flags_omitted\""))
    // the kept flags are the most severe (highest best/base ratio = q60)
    assert(payload.split('\n').head.contains("\"q\":\"q60\""))
    assert(parses(lastLine(payload)))
  }

  test("no flags, healthy run: single summary line with 3-decimal short keys") {
    val out = mkResults(123, _ => 0.345)
    val payload = Bench.composeStdout(out, 42.4, Nil, Nil, "/root/testdata/sf0.1")
    assert(!payload.contains('\n'))
    assert(payload.contains("\"q01\":0.345"))
    assert(parses(payload))
  }

  test("BASELINE.md gate is anchored on the newest closing column, shared-46 carve-out retired") {
    // VERDICT r10 #7: the 2x gate must track the full most-recent
    // best-of-3 column, not the round-1 single-run 46-query carve-out.
    val md = scala.io.Source.fromFile("BASELINE.md", "UTF-8")
    val text = try md.mkString finally md.close()
    // the anchor round is read from the per-query table, not pinned
    // as a literal: the newest `rNN sec` column of its header
    val header = text.linesIterator.find(_.startsWith("| query | r"))
    assert(header.isDefined, "per-query table header not found")
    val rounds = "\\br(\\d+) sec\\b".r.findAllMatchIn(header.get)
      .map(_.group(1).toInt).toSeq
    assert(rounds.nonEmpty, s"no rNN sec column in: ${header.get}")
    val newest = f"r${rounds.max}%02d"
    assert(text.contains(s"Gate anchor ($newest+): the $newest closing column"),
      s"gate paragraph does not anchor on the newest column $newest")
    assert(!text.contains("compares like-for-like totals on the shared 46"))
    assert(!text.contains("kept as the\ndriver's 2× gate anchor"))
  }

  test("planDigest is id-stable: same structure, different run ids -> same digest") {
    // r18 (the q104 adjudication): expression ids, plan_id and RDD-scan
    // contents vary run to run; the md5 must key on structure only
    val a = """*(1) Project [doc_id#48L, text#103]
+- BroadcastHashJoin [doc_id#48L], [keeper_id#136L], LeftSemi, BuildRight, [plan_id=1892]
   +- Scan ExistingRDD[doc_id#48L,text#103]"""
    val b = """*(1) Project [doc_id#948L, text#1103]
+- BroadcastHashJoin [doc_id#948L], [keeper_id#77L], LeftSemi, BuildRight, [plan_id=41]
   +- Scan ExistingRDD[doc_id#948L,text#1103,extra#7]"""
    val c = """*(1) Project [doc_id#48L, text#103]
+- SortMergeJoin [doc_id#48L], [keeper_id#136L], LeftSemi, [plan_id=1892]
   +- Scan ExistingRDD[doc_id#48L,text#103]"""
    assert(Bench.planDigest(a) === Bench.planDigest(b),
      "run-varying ids must not change the digest")
    assert(Bench.planDigest(a) !== Bench.planDigest(c),
      "a structural change must change the digest")
    assert(Bench.planDigest(a).startsWith("ex0/cg0/"))
  }

  test("live BASELINE.md parses and covers the registered queries") {
    val b = Bench.loadBaseline("BASELINE.md")
    assert(b.size >= 100, s"only ${b.size} baseline rows parsed")
    val missing = SparkEntry.queries.keySet.diff(b.keySet)
    assert(missing.isEmpty, s"queries without a BASELINE.md row: $missing")
  }
}
