package graft.tools

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The scale-study generator must be trustworthy before any number
  * measured on its corpora is: bit-reproducible (all perturbation derives
  * from xxhash64 seeds), twin replicas must actually be near-dups and
  * heavy replicas actually NOT (else the scaling ratios measure a corpus
  * that doesn't have the claimed structure), and the dup-dense anchored
  * mode must produce the super-linear cluster shape the tier-engagement
  * runs of SCALE.md §5 rely on.
  */
class ScaleGenSpec extends AnyFunSuite with SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def jaccard3(a: String, b: String): Double = {
    def g(s: String) =
      s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (ga, gb) = (g(a), g(b))
    if (ga.isEmpty && gb.isEmpty) 1.0
    else ga.intersect(gb).size.toDouble / ga.union(gb).size
  }

  test("documents scaling is bit-reproducible and id-disjoint") {
    val docs = graft.core.Tables.documents(spark, sf)
    val a = ScaleGen.scaleDocuments(docs, 4, 0.5, anchorClusters = false)
    val b = ScaleGen.scaleDocuments(docs, 4, 0.5, anchorClusters = false)
    assert(a.count() == docs.count() * 4)
    assert(a.select("doc_id").distinct().count() == a.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("twins are near-dups, heavy replicas are not, replica 0 is verbatim") {
    val docs = graft.core.Tables.documents(spark, sf).filter(col("doc_id") < 40)
    val out = ScaleGen.scaleDocuments(docs, 6, 1.0, anchorClusters = false)
      .select(pmod(col("doc_id"), lit(ScaleGen.IdStride)).as("base"),
        (col("doc_id") / ScaleGen.IdStride).cast("long").as("rep"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    val orig = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // replica 0 verbatim
    for ((id, t) <- orig) assert(out((id, 0L)) == t)
    val bases = orig.keys.toSeq.sorted
    // twinFrac=1: every odd rep r>1 is a light pass over heavy rep r-1
    val twinJ = bases.map(id => jaccard3(out((id, 3L)), out((id, 2L))))
    assert(twinJ.count(_ > 0.5) >= bases.size * 8 / 10,
      s"twin Jaccard too low: ${twinJ.sorted.mkString(",")}")
    // heavy replicas vs the original and vs each other: far under threshold
    val heavyJ = bases.flatMap(id => Seq(
      jaccard3(orig(id), out((id, 2L))), jaccard3(out((id, 2L)), out((id, 4L)))))
    assert(heavyJ.forall(_ < 0.35), s"heavy Jaccard too high: ${heavyJ.max}")
  }

  test("anchored mode builds clusters of ~twinFrac*mult light replicas") {
    val docs = graft.core.Tables.documents(spark, sf).filter(col("doc_id") === 3)
    val out = ScaleGen.scaleDocuments(docs, 20, 0.5, anchorClusters = true)
      .select((col("doc_id") / ScaleGen.IdStride).cast("long").as("rep"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // all twins share the rep-0-seeded heavy base → pairwise near-dups
    val twins = (1L until 20L).filter { r =>
      // a twin is a light (3% drop) pass: detect by high J vs another twin
      (1L until 20L).exists(o => o != r && jaccard3(out(r), out(o)) > 0.5)
    }
    assert(twins.size >= 5 && twins.size <= 15, s"twin cohort ${twins.size}")
    // and the cohort is mutually similar (one cluster, not chains)
    val cohort = twins.map(out)
    for (a <- cohort; b <- cohort)
      assert(jaccard3(a, b) > 0.4)
  }

  test("salted substitution grows vocabulary with corpus size (Heaps realism)") {
    // the r11 study's corpus-fidelity lesson: the unsalted generator
    // saturated distinct 3-grams at ~30k for a ×100 corpus, handing every
    // token a document frequency ∝ N — which silently broke the prefix
    // filter's rare-token premise (q190) and left the semi-join tier gate
    // 130× under its bound. Distinct TOKENS must grow ~linearly in mult.
    val docs = graft.core.Tables.documents(spark, sf)
    def vocab(mult: Int): Long =
      ScaleGen.scaleDocuments(docs, mult, 0.0, anchorClusters = false)
        .select(explode(split(col("text"), " ")).as("t"))
        .filter(col("t") =!= "").select("t").distinct().count()
    val (v2, v8) = (vocab(2), vocab(8))
    // 1 verbatim + (mult−1) salted replicas → distinct tokens ≈ V0·mult
    assert(v8 > v2 * 3, s"vocabulary saturates: x2=$v2, x8=$v8")
  }

  test("vocabBeta < 1 grows vocabulary sublinearly; beta=1 is the r11 generator verbatim") {
    val docs = graft.core.Tables.documents(spark, sf)
    def vocab(mult: Int, beta: Double): Long =
      ScaleGen.scaleDocuments(docs, mult, 0.0, anchorClusters = false,
          vocabBeta = beta)
        .select(explode(split(col("text"), " ")).as("t"))
        .filter(col("t") =!= "").select("t").distinct().count()
    // default-beta output is bit-identical to the explicit-1.0 call (the
    // r11 corpora regenerate unchanged)
    val a = ScaleGen.scaleDocuments(docs, 4, 0.5, anchorClusters = false)
    val b = ScaleGen.scaleDocuments(docs, 4, 0.5, anchorClusters = false,
      vocabBeta = 1.0)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // the salt pool shrinks ∝ mult^beta: at the same mult, beta=0.5 must
    // produce materially less vocabulary than beta=1 (distinct salts
    // ≈ min(draws, pool)), and still more than the unsalted floor
    val (v1, vH) = (vocab(8, 1.0), vocab(8, 0.5))
    assert(vH < v1 * 3 / 4, s"beta=0.5 did not shrink vocabulary: $vH vs $v1")
    assert(vH > vocab(1, 0.5) * 2, s"beta=0.5 saturated at the floor: $vH")
  }

  test("shiftCalendar: replica calendars disjoint, per-user timelines rigid; default verbatim") {
    val ev = graft.core.Tables.events(spark, sf).filter(col("user_id") < 50)
    val shifted = ScaleGen.scaleEvents(ev, 3, shiftCalendar = true)
    val verbatim = ScaleGen.scaleEvents(ev, 3)
    // default mode: timestamps verbatim (each replica repeats the calendar)
    assert(verbatim.select("ts").distinct().count() ===
      ev.select("ts").distinct().count())
    // shifted mode: replicas occupy disjoint ranges — the max of rep r is
    // strictly before the min of rep r+1
    val bounds = shifted
      .groupBy((col("event_id") / (ScaleGen.IdStride * 100)).cast("long").as("rep"))
      .agg(min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi"))
      .orderBy("rep").collect()
    assert(bounds.length === 3)
    bounds.sliding(2).foreach { w =>
      assert(w(0).getLong(2) < w(1).getLong(1),
        s"replica calendars overlap: ${w.toSeq}")
    }
    // rigid shift: inter-event deltas per (base user, rep) match rep 0's
    val deltas = shifted
      .select(pmod(col("user_id"), lit(ScaleGen.IdStride)).as("u"),
        (col("user_id") / ScaleGen.IdStride).cast("long").as("rep"),
        unix_micros(col("ts")).as("tu"))
      .groupBy("u", "rep")
      .agg(sort_array(collect_list(col("tu"))).as("ts"))
      .withColumn("d", expr("transform(slice(ts, 2, size(ts)), (x, i) -> x - ts[i + 1])"))
      .select("u", "rep", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    for (((u, rep), d) <- deltas if rep > 0)
      assert(d === deltas((u, 0L)), s"user $u rep $rep timeline not rigid")
  }

  test("embeddings: twins cos≈1, heavies decorrelated, norms preserved") {
    val emb = graft.core.Tables.embeddings(spark, sf).filter(col("vec_id") < 30)
    val out = ScaleGen.scaleEmbeddings(emb, 4, 1.0)
      .select(pmod(col("vec_id"), lit(ScaleGen.IdStride)).as("base"),
        (col("vec_id") / ScaleGen.IdStride).cast("long").as("rep"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Float](2)).toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum /
        (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    val bases = out.keys.map(_._1).toSeq.distinct.sorted
    for (id <- bases) {
      assert(cos(out((id, 3L)), out((id, 2L))) > 0.98)  // twin of its anchor
      assert(cos(out((id, 0L)), out((id, 2L))) < 0.9)   // heavy vs original
      val n = math.sqrt(out((id, 2L)).map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-3, s"norm drifted: $n") // unit-norm source
    }
  }
}
