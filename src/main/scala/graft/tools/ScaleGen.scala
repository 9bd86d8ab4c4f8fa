package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derived-corpus generator for the scale-up study (VERDICT r10 #1).
  *
  * Testdata is read-only and tops out at sf0.1 (5k documents / 2k
  * embeddings / 100k events), so every "this holds at 100×" claim in the
  * repo has been a PLAN argument, not a measurement. This tool
  * synthesizes a ×`mult` corpus into a scratch directory by replicating
  * the sf0.1 tables with SEEDED perturbation — all decisions derive from
  * xxhash64(id, replica, salt), so the corpus is bit-reproducible — and
  * the heavy query families then run against it unmodified (they read
  * `dir/<table>.parquet` through [[graft.core.Tables]]).
  *
  * Perturbation design (documents): replica 0 is the original corpus
  * (its natural near-dup structure rides along). Every other replica is
  * a HEAVY rewrite — each token independently substituted with
  * probability 0.65 by a replica-SALTED copy of another token of the
  * same document (seeded by (doc, anchor-replica, position); salting
  * rationale on [[perturbText]]) — which keeps per-doc token-frequency
  * shape and document length, grows vocabulary ∝ corpus (Heaps-law
  * realism), and drives 3-gram Jaccard vs the source below ~0.05
  * and between two heavy replicas below ~0.01 (two rewrites share only 0.35² of positions — without this the replica family itself becomes a quadratic candidate term at r=2 banding): far under every dedup
  * threshold in the suite, i.e. heavy replicas are NEW documents, and
  * corpus-wide dup RATE stays constant as mult grows. Near-dup structure
  * scales linearly through TWINS: an odd replica is, with probability
  * `twinFrac`, a LIGHT perturbation (3% token drop → shingle Jaccard
  * ~0.84) of its even predecessor's heavy rewrite instead of an
  * independent rewrite — so clusters (size ~2) arrive in proportion to
  * corpus size, the shape the banding/candidate-volume linearity claim
  * is about. The dup-DENSE variant for tier-engagement tests
  * (anchorClusters = true) instead anchors every light replica on the
  * replica-0 original: cluster size grows with mult and the pair volume
  * crosses dedupClusters' 1M driver-tier bound at mult≈100 —
  * deliberately super-linear, used to prove the distributed tier
  * engages, never for scaling ratios.
  *
  * Embeddings: replica 0 original; heavy replicas add per-dimension
  * seeded uniform noise at 2× the RMS component scale then renormalize
  * (cos ≈ 0.65 vs source — new vectors, label direction partly kept);
  * twin replicas add 0.1× noise (cos ≈ 0.998 — near-dup). Events:
  * replicas shift user_id/event_id into disjoint stride ranges and keep
  * timelines verbatim (per-user behavior is scale-invariant).
  *
  * Usage: ScaleGen <srcDir> <outDir> <mult> [twinFrac] [anchorClusters]
  *                 [shiftCalendar] [vocabBeta] [tables]
  * e.g.   ScaleGen /root/testdata/sf0.1 /tmp/scale10 10 0.2 false
  *        ScaleGen /root/testdata/sf0.1 /tmp/scale100s 100 0.2 false true 1.0 events
  *        ScaleGen /root/testdata/sf0.1 /tmp/scale100h 100 0.2 false false 0.5 documents
  */
object ScaleGen {
  val IdStride = 10000000L

  /** token-level seeded perturbation of a space-separated text column.
    *
    * Substituted tokens carry a (doc, anchor)-seeded `~salt` suffix, so
    * each replica instance contributes FRESH vocabulary — the corpus's
    * distinct-token and distinct-shingle counts grow with size the way
    * Heaps' law says a real crawl's do. The r11 study measured why this
    * matters: the unsalted generator (substitute with another token of
    * the SAME document) saturates the ×100 corpus at ~30k distinct
    * 3-grams, which (a) leaves the sizedSemiJoin tier gate 130× under
    * its 4M-key bound on "real" traffic and (b) gives every token a
    * document frequency ∝ N, so q190's prefix filter — whose entire
    * premise is that each doc owns some RARE tokens — degenerates to a
    * quadratic candidate join (>600 s at ×100). Doc-level salting keeps
    * within-doc token-frequency shape (two picks of the same source
    * token agree) and document length, while cross-replica token overlap
    * drops to the 35% unsubstituted share — twins still share their
    * partner's salted vocabulary because the suffix is seeded by the
    * ANCHOR replica, exactly like the heavy pass itself.
    */
  /** Salt-pool size for `nDraws` (doc, anchor) substitution draws at
    * vocabulary-growth exponent `beta` (Heaps' law: V ∝ T^β). Each
    * (doc, anchor) pair draws ONE salt, so the distinct-salt count —
    * and with it the salted-variant vocabulary — is ≈ min(nDraws,
    * pool). β = 1 keeps the r11 generator bit-identical (fixed 1M pool
    * ≫ draws at every measured tier: worst-case ∝N vocabulary, the F6
    * corpus). β < 1 sizes the pool ∝ nDraws^β, so vocabulary follows
    * Heaps' law in TOTAL corpus volume (not in mult alone — a pool
    * keyed on mult never binds on a small source corpus); the constant
    * 10 is calibrated so the ×100 sf0.1 tier lands near a real English
    * crawl's vocabulary at the same token count (K·T^0.5 with K ≈ 40 ⇒
    * ~2×10⁵ distinct tokens at 27M tokens). The generated corpus's
    * ACTUAL vocabulary is measured and reported in SCALE.md §9 (the F6
    * lesson: verify corpus properties, never assume them).
    */
  def vocabPool(nDraws: Long, beta: Double): Long =
    if (beta >= 1.0) 1000000L
    else math.max(1L, math.round(10.0 * math.pow(nDraws.toDouble, beta)))

  private def perturbText(textCol: String,
                          pool: Long): org.apache.spark.sql.Column = {
    val tk = split(col(textCol), " ")
    val salt = pmod(xxhash64(col("doc_id"), col("anchor"), lit("vocab")),
      lit(pool))
    // heavy rewrite, seeded by the ANCHOR replica so a twin's light pass
    // applies on top of its partner's heavy text, not a fresh rewrite
    val heavy = transform(tk, (t, i) =>
      when(pmod(xxhash64(col("doc_id"), col("anchor"), i, lit("sub")), lit(100)) < 65,
        concat(element_at(tk,
          (pmod(xxhash64(col("doc_id"), col("anchor"), i, lit("pick")),
            size(tk)) + 1).cast("int")), lit("~"), salt))
        .otherwise(t))
    // light pass: 3% token drop, seeded by the replica ITSELF
    val light = filter(heavy, (t, i) =>
      pmod(xxhash64(col("doc_id"), col("rep"), i, lit("drop")), lit(100)) >= 3)
    when(col("rep") === 0, col(textCol))
      .otherwise(concat_ws(" ", when(col("isTwin"), light).otherwise(heavy)))
  }

  def scaleDocuments(docs: DataFrame, mult: Int, twinFrac: Double,
                     anchorClusters: Boolean,
                     vocabBeta: Double = 1.0): DataFrame = {
    val spark = docs.sparkSession
    val reps = broadcast(spark.range(mult).toDF("rep"))
    // non-anchored twins pair an ODD replica with its even predecessor's
    // heavy rewrite; rep 1 is excluded because its predecessor (rep 0)
    // emits the VERBATIM original, not a heavy rewrite — a rep-1 "twin"
    // would be an orphan with no partner text in the corpus
    val base = docs.crossJoin(reps)
      .withColumn("isTwin",
        col("rep") > 0 && (if (anchorClusters) lit(true)
          else pmod(col("rep"), lit(2)) === 1 && col("rep") > 1) &&
          pmod(xxhash64(col("doc_id"), col("rep"), lit("twin")), lit(1000))
            < (twinFrac * 1000).toLong)
      .withColumn("anchor",
        when(!col("isTwin"), col("rep"))
          .otherwise(if (anchorClusters) lit(0L) else col("rep") - 1))
    val pool =
      if (vocabBeta >= 1.0) vocabPool(0L, vocabBeta)
      else vocabPool(docs.count() * mult, vocabBeta)
    base
      .withColumn("text2", perturbText("text", pool))
      .select(
        (col("doc_id") + col("rep") * IdStride).as("doc_id"),
        col("text2").as("text"),
        col("lang"), col("source"),
        length(col("text2")).as("n_chars"))
  }

  def scaleEmbeddings(emb: DataFrame, mult: Int, twinFrac: Double): DataFrame = {
    val spark = emb.sparkSession
    val reps = broadcast(spark.range(mult).toDF("rep"))
    // same rep-1 exclusion as documents: rep 0 is the verbatim original
    val base = emb.crossJoin(reps)
      .withColumn("isTwin",
        col("rep") > 1 && pmod(col("rep"), lit(2)) === 1 &&
          pmod(xxhash64(col("vec_id"), col("rep"), lit("twin")), lit(1000))
            < (twinFrac * 1000).toLong)
      .withColumn("anchor",
        when(!col("isTwin"), col("rep")).otherwise(col("rep") - 1))
    val d = size(col("embedding"))
    val norm0 = sqrt(aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + x * x))
    // seeded uniform [-1,1] per dimension, scaled to a×(rms component)
    def noisy(amp: org.apache.spark.sql.Column) = transform(col("embedding"),
      (x, i) => x + amp * (norm0 / sqrt(d)) *
        (pmod(xxhash64(col("vec_id"), col("anchor"), i, lit("n")), lit(2001)) - 1000)
          .cast("double") / 1000.0)
    // twins: light noise ON TOP of the anchor's heavy vector — rebuild the
    // anchor's heavy pass (seeded by anchor), then add the twin's own
    val heavyAmp = lit(2.0)
    val heavy = noisy(heavyAmp)
    val twin = transform(heavy, (x, i) => x + lit(0.1) * (norm0 / sqrt(d)) *
      (pmod(xxhash64(col("vec_id"), col("rep"), i, lit("t")), lit(2001)) - 1000)
        .cast("double") / 1000.0)
    val vec = when(col("rep") === 0, col("embedding"))
      .otherwise(when(col("isTwin"), twin).otherwise(heavy))
    val withVec = base.withColumn("v", vec)
    // renormalize back to the source norm so dot- and cosine-consumers
    // see the same scale as the original corpus
    val newNorm = sqrt(aggregate(col("v"), lit(0.0d), (acc, x) => acc + x * x))
    withVec
      .withColumn("vn", transform(col("v"),
        x => (x * norm0 / newNorm).cast("float")))
      .select(
        (col("vec_id") + col("rep") * IdStride).as("vec_id"),
        col("vn").as("embedding"),
        col("label"))
  }

  /** `shiftCalendar = false` (the r11 default) replicates timelines
    * VERBATIM: the calendar stays fixed while users grow ∝ mult, so any
    * fixed-granularity co-occurrence bucket densifies ∝ mult and pair
    * volume grows ∝ mult² — BY CONSTRUCTION (the r12 graph-family study
    * measured 14.1B candidate pairs at ×100 for q113's (type, hour)
    * blocking; finding F10). `shiftCalendar = true` instead shifts each
    * replica's timeline into its own disjoint calendar range (span + 1 h
    * apart): the corpus grows the way a service that RAN LONGER grows —
    * per-bucket occupancy constant, co-occurrence structure arriving
    * ∝ mult — which is the corpus that can measure whether the graph
    * ALGORITHMS scale, as opposed to measuring the densifying corpus
    * itself. Per-user behavior (funnels, retention offsets, paths) is
    * identical either way: a whole timeline shifts rigidly.
    */
  def scaleEvents(events: DataFrame, mult: Int,
                  shiftCalendar: Boolean = false): DataFrame = {
    val spark = events.sparkSession
    val reps = broadcast(spark.range(mult).toDF("rep"))
    val ts =
      if (!shiftCalendar) col("ts")
      else {
        val mm = events.agg(
          unix_micros(min(col("ts"))).as("lo"),
          unix_micros(max(col("ts"))).as("hi")).head()
        val spanSec = (mm.getLong(1) - mm.getLong(0)) / 1000000L + 3600L
        expr(s"timestampadd(SECOND, rep * ${spanSec}L, ts)")
      }
    events.crossJoin(reps).select(
      (col("event_id") + col("rep") * IdStride * 100).as("event_id"),
      ts.as("ts"),
      (col("user_id") + col("rep") * IdStride).as("user_id"),
      col("event_type"), col("value"), col("props"))
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val mult = args(2).toInt
    val twinFrac = if (args.length > 3) args(3).toDouble else 0.2
    val anchorClusters = args.length > 4 && args(4).toBoolean
    val shiftCalendar = args.length > 5 && args(5).toBoolean
    val vocabBeta = if (args.length > 6) args(6).toDouble else 1.0
    // which tables to (re)generate — a shifted-events or natural-vocab
    // variant reuses the expensive unchanged tables from a sibling dir
    val knownTables = Set("documents", "embeddings", "events", "relational")
    val tables: Set[String] =
      if (args.length > 7 && args(7) != "all") args(7).split(",").toSet
      else knownTables
    // a typo'd table name silently generating NOTHING (exit 0) would let a
    // sweep measure a stale sibling corpus — fail loudly instead (ADVICE r12)
    require(tables.subsetOf(knownTables),
      s"unknown table name(s) ${(tables -- knownTables).mkString(", ")}; " +
        s"known: ${knownTables.toSeq.sorted.mkString(", ")}")
    val spark = ToolSession.local()
    import graft.core.Tables
    if (tables("documents"))
      scaleDocuments(Tables.documents(spark, src), mult, twinFrac,
          anchorClusters, vocabBeta)
        .repartition(math.max(8, mult / 2))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    if (tables("embeddings"))
      scaleEmbeddings(Tables.embeddings(spark, src), mult, twinFrac)
        .repartition(math.max(8, mult / 4))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    if (tables("events"))
      scaleEvents(Tables.events(spark, src), mult, shiftCalendar)
        .repartition(math.max(8, mult))
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    // the relational tables ride along unscaled so any query that joins
    // them still resolves (none of the heavy families do)
    if (tables("relational"))
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem"))
        Tables.read(spark, src, t).write.mode("overwrite")
          .parquet(s"$out/$t.parquet")
    println(s"[scalegen] wrote x$mult corpus to $out (twinFrac=$twinFrac, " +
      s"anchorClusters=$anchorClusters, shiftCalendar=$shiftCalendar, " +
      s"vocabBeta=$vocabBeta, tables=${tables.mkString("+")})")
    spark.stop()
  }
}
