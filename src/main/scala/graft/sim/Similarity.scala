package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Sizing
import graft.plans.ArrayOps

/** Similarity search over an embedding column (builder brief).
  *
  * Baseline: brute-force cosine top-k — the query set is broadcast (it is
  * small by construction), so the scan over the vector table is a single
  * pass, no shuffle until the per-query top-k rank. Ranking uses the ROUNDED
  * cosine with an id tie-break so results are stable across fp-summation
  * orders (and across engines for the oracle).
  *
  * Scale paths (both rebuilt in round 2 after the round-1 bench showed the
  * 4-plane/16-bucket LSH LOSING to brute force):
  *
  *  - `lshTopK`: banded random-hyperplane LSH. `planes = bands × rowsPerBand`
  *    sign bits; each band of `rowsPerBand` bits is its own bucket key (the
  *    MinHash banding trick applied to hyperplane signatures). Bucket
  *    population is N / 2^rowsPerBand per band — `rowsPerBand` is the scale
  *    knob (choose ≈ log2(N / wanted-candidates)); `bands` is the recall
  *    knob. Candidates are the UNION of per-band bucket-mates, so the join
  *    yields ~bands · N/2^rowsPerBand candidates per query — bounded, unlike
  *    a single monolithic signature whose buckets grow linearly with N.
  *  - `ivfTopK`: IVF with a FIXED-cardinality deterministic centroid set
  *    (md5-derived pseudo-random directions, independent of table size).
  *    Assignment is per-row codegen arithmetic (argmax over C rounded
  *    cosines) — no join, no window, nothing N-proportional is broadcast.
  *    At scale, partition/bucket the assigned table by `cell` and a probe
  *    reads only its cells; C scales like sqrt(N) in a real deployment and
  *    is a plain parameter here.
  *
  * All dot products run through the codegen kernel
  * `graft.plans.DoubleArrayDot` — sequential accumulation, bit-identical to
  * DuckDB's `list_dot_product`, no interpreted HOF lambdas (the round-1
  * bottleneck: `aggregate(zip_with(...))` re-evaluates per element and
  * blocks exchange reuse).
  *
  * Hyperplane/centroid components are md5-derived doubles computed ONCE on
  * the driver and shipped as array literals — the same
  * `('0x' || substr(md5(seed), 1, 8)) / 2^31 - 1` formula the oracle
  * evaluates in SQL; the parse + power-of-two scaling is exact in binary
  * fp, so the literals are bit-identical to the oracle's values.
  */
object Similarity {

  /** Sequential-order dot product (codegen kernel; see class doc). */
  def dot(spark: SparkSession, a: Column, b: Column): Column =
    ArrayOps.doubleDot(spark, a, b)

  def norm(spark: SparkSession, a: Column): Column = sqrt(dot(spark, a, a))

  def cosine(spark: SparkSession, a: Column, b: Column): Column =
    dot(spark, a, b) / (norm(spark, a) * norm(spark, b))

  /** md5-derived pseudo-random component in [-1, 1): first 8 hex chars of
    * md5(seed) as an integer, scaled by 2^-31, shifted by -1. Exact in
    * double fp ⇒ bit-identical to the SQL-side evaluation of the same
    * formula.
    */
  private[graft] def mdComponent(seed: String): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(seed.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.substring(0, 8), 16).toDouble / 2147483648.0) - 1.0
  }

  /** Hyperplane p over `dims` dimensions: component i = md5("{p}_{i}"). */
  private[graft] def planeVec(p: Int, dims: Int): Array[Double] =
    Array.tabulate(dims)(i => mdComponent(s"${p}_$i"))

  /** Centroid c over `dims` dimensions: component i = md5("c{c}_{i}") —
    * a distinct seed family from the hyperplanes. */
  private[graft] def centroidVec(c: Int, dims: Int): Array[Double] =
    Array.tabulate(dims)(i => mdComponent(s"c${c}_$i"))

  /** Sequential-order norm of a driver-side vector (index-order fold —
    * matches sqrt(list_dot_product(v, v)) in the oracle). */
  private[graft] def seqNorm(v: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    math.sqrt(acc)
  }

  /** Driver-memory budget for the IVF-PQ serve path ([[ivfPqServe]]):
    * its query-side collect plus the distance table it broadcasts —
    * the quantified form of the bruteForceTopK "queries must be small"
    * broadcast rule (VERDICT r14 #4 made it an enforced contract). */
  val ProbeCollectBudgetBytes: Long = 256L << 20

  /** Query cap the budget buys. Per query the driver holds the collected
    * row — (dims + centroids) doubles (vector + cell-cosine array) — and,
    * per probed cell, one probe row carrying the vector plus
    * `cellTableRows` (= m·ksub) distance-table rows of six 8-byte fields
    * on their way into the broadcast. The cap SHRINKS as the centroid
    * count grows (a √N-sized quantizer at a 2M-vector corpus widens the
    * row ~20× vs the floor-held shape) and as the table widens (at
    * dims 64, C 16, nprobe 2, m 8, ksub 16 the table is 95% of a query's
    * bytes); a fixed row cap would silently blow the budget there. The
    * defaults count the collected row alone. */
  private[graft] def probeQueryCap(dims: Int, centroids: Int,
                                   budgetBytes: Long, nprobe: Int = 0,
                                   cellTableRows: Int = 0): Int = {
    val perQuery = 8L * (dims + centroids) +
      nprobe.toLong * (8L * dims + 48L * cellTableRows)
    math.max(1024L, budgetBytes / perQuery).min(Int.MaxValue.toLong).toInt
  }

  /** Brute-force top-k: for each query vector, the k nearest non-self
    * vectors by cosine. `queries` must be small (it is broadcast). Norms
    * are precomputed per VECTOR (once), not per pair.
    */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val sp = vectors.sparkSession
    val v = vectors.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("vn", norm(sp, col("v")))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(sp, col("qv")))
    val scored = v.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dot(sp, col("qv"), col("v")) / (col("qn") * col("vn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
  }

  /** HARD-NEGATIVE MINING for contrastive training: per query vector, the
    * top-k highest-cosine vectors with a DIFFERENT label — close in
    * embedding space yet semantically negative, exactly the examples a
    * contrastive / reranker trainer wants next to each positive. Brute
    * force over a broadcast query set (the q38 doctrine: the baseline the
    * ANN paths are judged against); at corpus scale compose the same
    * label-inequality predicate into `ivfProbe`'s cell-restricted
    * candidates instead — the label test rides the probe's scan filter,
    * so the quadratic stays confined to probed cells.
    */
  def hardNegatives(vectors: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, queryPred: Column, k: Int): DataFrame = {
    val sp = vectors.sparkSession
    val v = vectors.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"), col(labelCol).as("neg_label"))
      .withColumn("vn", norm(sp, col("v")))
    val q = vectors.filter(queryPred)
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"), col(labelCol).as("qlbl"))
      .withColumn("qn", norm(sp, col("qv")))
    val scored = v.join(broadcast(q), col("neg_label") =!= col("qlbl"))
      .withColumn("cosine",
        round(dot(sp, col("qv"), col("v")) / (col("qn") * col("vn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("neg_label"),
        col("cosine"), col("rank"))
  }

  case class MmrCand(query_id: Long, vec_id: Long, rel_micro: Long,
                     v: Array[Double], vn: Double)
  case class MmrPick(query_id: Long, vec_id: Long, pick: Int, mmr_z: Long)

  /** Spark's `round(x, 6)` semantics on the driver/executor side:
    * BigDecimal HALF_UP at scale 6 — the exact algorithm the Round
    * expression runs, so an in-JVM cosine snap is bit-identical to the
    * codegen path (and to DuckDB's round, already proven equal by every
    * kernel-based oracle match). */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Sequential-order dot of two driver-side vectors (index-order fold —
    * matches the codegen kernel and list_dot_product). */
  private def seqDot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** MAXIMAL MARGINAL RELEVANCE (Carbonell & Goldstein 1998, public)
    * diversified top-k: from each query's `nCandidates` highest-cosine
    * candidates, greedily select `k` maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — the standard
    * redundancy-suppressing re-rank for retrieval-augmented sampling and
    * eval-set construction (a plain top-k returns near-duplicates; MMR
    * spends the k slots on coverage).
    *
    * λ is passed as an integer tenth (`lamX10`, default 7 → λ=0.7) so the
    * greedy comparison is EXACT integer arithmetic on micro-snapped
    * cosines: z = lamX10·rel_micro − (10−lamX10)·maxsim_micro. The first
    * pick has no selected set, so its z is lamX10·rel_micro (same
    * ordering as relevance). Ties break to the smaller vec id at every
    * step — the whole greedy trajectory is engine-exact.
    *
    * Scale shape: candidates come from [[bruteForceTopK]] (swap in
    * [[ivfTopK]] at corpus scale — MMR only needs SOME candidate ranker);
    * ONE keyed join re-attaches each candidate's vector, and the C²
    * pairwise cosines are computed INSIDE the per-query group — C is a
    * small constant, so C²·dims flops per query is cheaper than the
    * pair-join alternative, which needed the candidate frame THREE times
    * (a checkpoint whose cached blocks then lingered in the session —
    * measured here polluting the NEXT query's first run). The in-group
    * cosine uses the same sequential fold + HALF_UP-scale-6 rounding as
    * the codegen kernel, so the trajectory stays engine-exact. The
    * greedy is inherently sequential IN k but embarrassingly parallel
    * ACROSS queries — typed `flatMapGroups` over ≤C-row groups (the
    * Recurrence doctrine: one shuffle on the query key, sequential only
    * within a key).
    */
  def mmrSelect(vectors: DataFrame, idCol: String, vecCol: String,
                queryPred: Column, nCandidates: Int, k: Int,
                lamX10: Int = 7): DataFrame = {
    require(lamX10 >= 0 && lamX10 <= 10, s"lamX10 must be in [0,10], got $lamX10")
    val sp = vectors.sparkSession
    import sp.implicits._
    val cand = bruteForceTopK(vectors, vectors.filter(queryPred),
        idCol, vecCol, nCandidates)
      .select(col("query_id"), col("vec_id"),
        floor(col("cosine") * lit(1e6) + lit(0.5)).cast("long").as("rel_micro"))
    val v = vectors.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("vn", norm(sp, col("v")))
    val rows = cand.join(v, Seq("vec_id")).as[MmrCand]
    val lo = lamX10.toLong; val hi = (10 - lamX10).toLong
    rows.groupByKey(_.query_id)
      .flatMapGroups { (qid: Long, it: Iterator[MmrCand]) =>
        val all = it.toArray.sortBy(_.vec_id) // ascending ⇒ smaller id wins ties
        def simMicro(a: MmrCand, b: MmrCand): Long =
          math.floor(round6(seqDot(a.v, b.v) / (a.vn * b.vn)) * 1e6 + 0.5).toLong
        val remaining = scala.collection.mutable.LinkedHashSet(all.indices: _*)
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val out = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
        var pick = 1
        while (pick <= k && remaining.nonEmpty) {
          var best = -1; var bestZ = Long.MinValue; var first = true
          for (c <- remaining) { // index order == id order ⇒ ties to smaller id
            val z =
              if (selected.isEmpty) lo * all(c).rel_micro
              else lo * all(c).rel_micro -
                hi * selected.iterator.map(s => simMicro(all(c), all(s))).max
            if (first || z > bestZ) { best = c; bestZ = z; first = false }
          }
          remaining -= best; selected += best
          out += MmrPick(qid, all(best).vec_id, pick, bestZ)
          pick += 1
        }
        out.iterator
      }
      .toDF("query_id", "vec_id", "pick", "mmr_z")
  }

  /** IVF ANN with a fixed-size deterministic coarse quantizer (see object
    * doc): C centroids independent of N; per-row argmax assignment; queries
    * probe their `nprobe` best cells; top-k ranked inside probed cells only.
    *
    * The per-vector work is C kernel dot products against literal arrays —
    * all inside whole-stage codegen. The assignment is materialized ONCE
    * (`localCheckpoint`) — that materialization IS the IVF index build: a
    * real deployment persists the assigned table (partitioned/bucketed by
    * `cell`) and amortizes it over every probe; recomputing the C-dot
    * assignment expression in each consuming stage would instead pay its
    * codegen + compute once per stage. On a cluster, substitute a persisted
    * bucketed table or `checkpoint(dir)`.
    *
    * After the index: one tiny window over queries × C probe rows, a
    * broadcast of the probe list into the cell-pruned scan, and the final
    * per-query rank — no window or join anywhere near the assignment.
    */
  def ivfTopK(vectors: DataFrame, idCol: String, vecCol: String,
              dims: Int, centroids: Int, nprobe: Int, k: Int,
              queryPred: Column): DataFrame =
    ivfTopKWith(vectors, idCol, vecCol,
      (0 until centroids).map(c => centroidVec(c, dims)).toArray,
      nprobe, k, queryPred)

  /** IVF cell assignment only: (vec_id, v, vn, ccos, cell) for a given
    * centroid matrix — shared by the query path and the trainer. */
  private def assignCells(vectors: DataFrame, idCol: String, vecCol: String,
                          cents: Array[Array[Double]]): DataFrame = {
    val sp = vectors.sparkSession
    val dims = cents.head.length
    val cnorms = cents.map(seqNorm)
    // registry names must be CONTENT-unique per matrix: ensureRegistered
    // skips re-registration for a known name, so a (32-bit) hash
    // collision between two different centroid matrices would silently
    // reuse the wrong one. md5 over the raw double bits makes collisions
    // cryptographically negligible (the LSH plane names need no digest:
    // planeVec is a pure function of (plane, dims), so name ⟹ matrix).
    val key = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val bb = java.nio.ByteBuffer.allocate(8)
      cents.foreach(_.foreach { d =>
        bb.clear(); bb.putDouble(d); md.update(bb.array()) })
      md.digest().take(8).map("%02x".format(_)).mkString
    }
    // ONE kernel pass yields the C dots AND the argmax cell (see
    // DoubleMatVecArgMaxCos for why neither the composed
    // array_position(ccos, array_max(ccos)) form — pruning-hostile,
    // measured 33× interpreted fallback on the q74 join — nor a
    // cell-only kernel beside a separate matVec — double dot work for
    // ccos-keeping consumers — is acceptable). `cell` reads the last
    // element, so cell-only consumers inline exactly one kernel call.
    val v = vectors.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("vn", norm(sp, col("v")))
      .withColumn("cdx", graft.plans.ArrayOps.matVecArgMaxCos(sp, col("v"), cents,
        s"ivf_${cents.length}x${dims}_$key"))
    // ccos via ONE zip_with over a single slice of the kernel output — an
    // array() of C per-element expressions would reference `cdx` C+1
    // times, and projection collapse inlines a kernel call per reference:
    // fine at the registered C=16 (the original design note below), a
    // C²·dims-per-row term once adaptiveCentroids picks C ≈ √N (the r11
    // ×10 study measured q43 at 12.4 s vs 1.5 s exactly from this).
    val ccosArr = zip_with(
      slice(col("cdx"), 1, cents.length), typedLit(cnorms.toSeq),
      (d, cn) => round(d / (cn * col("vn")), 6))
    v.withColumn("ccos", ccosArr)
      .withColumn("cell", element_at(col("cdx"), cents.length + 1).cast("int"))
      .drop("cdx")
  }

  /** The IVF INDEX as a DataFrame: (vec_id, v, vn, ccos, cell). This is
    * what a real deployment persists — `write.bucketBy(B, "cell")
    * .sortBy("cell").saveAsTable(...)` — so that (a) probe scans are
    * BUCKET-PRUNED (`cell IN (probes)` reads only the matching buckets:
    * the plan shows `SelectedBucketsCount: n out of B`) and (b) any
    * aggregation/join keyed on `cell` consumes the table's hash
    * distribution with NO exchange. SimilaritySpec demonstrates both plan
    * properties on a reopened bucketed table; PLANS.md carries the dump.
    */
  def ivfIndex(vectors: DataFrame, idCol: String, vecCol: String,
               cents: Array[Array[Double]]): DataFrame =
    assignCells(vectors, idCol, vecCol, cents)

  /** IVF RECALL-vs-NPROBE CURVE — the evidence table behind choosing an
    * index's probe budget: for each nprobe, recall@k of the IVF path
    * against the brute-force truth on the same query set. The curve is
    * what an index build publishes next to its cell-balance stats
    * (SimilaritySpec measures one point; this sweeps the knob).
    *
    * Cost shape: ONE brute-force truth pass (checkpointed — it is the
    * expensive term and every sweep point reads it) + one IVF execution
    * per sweep point; the per-point result is |queries|×k-bounded and
    * the join back to truth is a semi join on that bounded frame. The
    * driver collects only the |nprobes| summary numbers. Ties at the
    * rounded-cosine rank boundary break by vec_id in both the engine
    * and the oracle, so the truth SET is engine-exact and recall is an
    * integer ratio.
    */
  def ivfRecallCurve(vectors: DataFrame, idCol: String, vecCol: String,
                     dims: Int, centroids: Int, nprobes: Seq[Int], k: Int,
                     queryPred: Column): DataFrame = {
    require(nprobes.nonEmpty, "ivfRecallCurve needs at least one sweep point")
    val truth = bruteForceTopK(vectors, vectors.filter(queryPred),
        idCol, vecCol, k)
      .select(col("query_id"), col("vec_id"))
      .localCheckpoint(true)
    val nq = vectors.filter(queryPred).count()
    // r19 sweep-share: the old shape re-ran ivfTopK — assignment pass
    // INCLUDED — once per sweep point. Now ONE assignment (the index
    // build) + ONE probe pass at max(nprobes) with each candidate's
    // cell probe-rank attached; every sweep point is a prank-slice
    // (a vector's cell has one fixed rank per query, so the slice IS
    // that point's candidate set), and the |nprobes| hit counts
    // collect in ONE job. Bit-identical rows per point.
    val cents = (0 until centroids).map(c => centroidVec(c, dims)).toArray
    val index = assignCells(vectors, idCol, vecCol, cents)
      .localCheckpoint(true)
    val npMax = nprobes.max
    val q = index.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("vn").as("qn"), posexplode(col("ccos")).as(Seq("cell", "pcos")))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("cell"))
    val probes = q.withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= npMax)
      .select(col("query_id"), col("qv"), col("qn"), col("cell"),
        col("prank"))
    val sp = vectors.sparkSession
    val cand = broadcast(probes)
      .join(index.select(col("vec_id"), col("v"), col("vn"), col("cell")),
        Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dot(sp, col("qv"), col("v")) / (col("qn") * col("vn")), 6))
      .select(col("query_id"), col("vec_id"), col("cosine"), col("prank"))
    val hitsByNp = sweepTopK(cand, "cosine", scoreAsc = false, nprobes, k)
      .join(truth, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("np")).agg(count(lit(1)).as("hits"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    recallTable(vectors.sparkSession, nprobes, nq, k, hitsByNp)
  }

  /** SIMPLIFIED SILHOUETTE per IVF cell (Rousseeuw 1987's silhouette
    * with centroid distances standing in for mean pairwise distances —
    * the standard large-N variant, since the full form is quadratic per
    * cell): for each vector, a = cosine distance to its OWN centroid,
    * b = distance to the nearest OTHER centroid, s = (b − a)/max(a, b).
    * Per-cell mean s is the clustering-quality census an index build
    * reads before trusting its cell structure — cells near 0 are
    * boundary mush (probe more cells), cells near 1 are tight.
    *
    * Exactness + scale: both distances come from the ONE kernel pass
    * that assignment already runs (the ccos array — no second scan, no
    * shuffle beyond the per-cell rollup); a and b micro-snap from the
    * 6-dp-rounded cosines before the ratio, and since b ≥ a by
    * construction (own cell is the argmax), s = (b − a)/b with one
    * trailing division. Top ties give a = b ⇒ s = 0 — the honest
    * "equally close to two cells" verdict. O(C) work per row; the
    * output is C-bounded.
    */
  def silhouetteByCell(vectors: DataFrame, idCol: String, vecCol: String,
                       dims: Int, centroids: Int): DataFrame = {
    val cents = (0 until centroids).map(c => centroidVec(c, dims)).toArray
    val assigned = assignCells(vectors, idCol, vecCol, cents)
    val own = element_at(col("ccos"), (col("cell") + 1).cast("int"))
    val second = element_at(sort_array(col("ccos"), asc = false), 2)
    assigned
      .withColumn("am", floor((lit(1.0) - own) * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("bm", floor((lit(1.0) - second) * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("s_micro",
        when(col("bm") <= 0, lit(0L))
          .otherwise(floor((col("bm") - col("am")).cast("double") * lit(1e6)
            / col("bm").cast("double") + lit(0.5)).cast("long")))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        floor(sum(col("s_micro")).cast("double")
          / count(lit(1)).cast("double") + lit(0.5)).cast("long")
          .as("mean_sil_micro"))
  }

  /** ORACLE-CHECKABLE distributed Lloyd step: assign every vector to its
    * seeded-quantizer cell, then emit each cell's member count and
    * per-dimension mean as EXACT cross-engine arithmetic — each
    * coordinate micro-snaps (`floor(x·1e6 + 0.5)`, an integer-valued
    * double) before the per-(cell, dim) sum, so the aggregate is
    * order-independent and the single trailing division is one IEEE op.
    * This is the fix for exactly the reason the retired fp-mean trainer
    * was NOT oracle-checked (fp aggregation order made its means
    * run-varying in the last ulps): the snapped mean differs from the
    * exact mean by at most 5e-7 per coordinate — irrelevant to
    * clustering — and is bit-identical everywhere, which is what lets
    * [[trainCentroidsExactMatrix]] iterate it into a REPRODUCIBLE
    * training loop (identical across engines, runs, and partitionings).
    *
    * Emits (cell, i, n_members, m_micro, m): 1024 rows at C=16, d=64 —
    * the refined matrix in row form, distributed end to end (the
    * (cell, dim)-keyed aggregation has C·d groups with partial
    * aggregation; nothing corpus-sized reaches the driver).
    */
  def refineCentroidsExact(vectors: DataFrame, idCol: String, vecCol: String,
                           dims: Int, centroids: Int): DataFrame =
    refineStepExact(vectors, idCol, vecCol,
      (0 until centroids).map(c => centroidVec(c, dims)).toArray)

  /** One snapped Lloyd step against an ARBITRARY centroid matrix — the
    * building block [[refineCentroidsExact]] (seeded matrix) and the
    * iterative trainer share, so the step arithmetic cannot drift
    * between the single-step and trained registrations. */
  private def refineStepExact(vectors: DataFrame, idCol: String,
                              vecCol: String,
                              cents: Array[Array[Double]]): DataFrame =
    assignCells(vectors, idCol, vecCol, cents)
      .select(col("cell").cast("long").as("cell"),
        posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("cell", "i")
      .agg(count(lit(1)).as("n_members"),
           sum(floor(col("x") * lit(1e6) + lit(0.5))).as("m_micro"))
      .select(col("cell"), col("i").cast("long").as("i"), col("n_members"),
        col("m_micro"),
        (col("m_micro").cast("double") /
          (col("n_members").cast("double") * lit(1e6))).as("m"))

  /** Offline IVF TRAINING, engine-exact (VERDICT r12 #1 — replaces the
    * retired fp-mean `trainCentroids`): `iterations` unrolled
    * [[refineStepExact]] Lloyd steps from the deterministic seed
    * directions. Each step = one assignment scan + ONE (cell, dim)-keyed
    * aggregation whose C·d snapped means are collected to the driver —
    * the means are read back off the SAME `m` column the oracle
    * recomputes (`m_micro / (n·1e6)`, integer inputs + one IEEE
    * division), so the matrix after every step is bit-identical across
    * engines, runs, and partitionings. Empty cells keep their previous
    * centroid (the standard Lloyd convention; rendered as the oracle's
    * per-round `coalesce` carry).
    *
    * Scale shape: the bounded O(C·d) collect IS the lineage barrier —
    * each iteration's plan re-roots at the source scan with the next
    * literal matrix, so lineage never grows with `iterations` (the
    * reason this loop needs no `checkpointEvery`: unlike PageRank's
    * node-frame recursion there is no growing distributed lineage to
    * cut). The matrix must reach executors as kernel literals anyway
    * (the `assignCells` argmax contract), and at the IVF sizing rule
    * C ≈ √N even 100 TB keeps C·d driver-side megabytes, not gigabytes.
    */
  def trainCentroidsExactMatrix(vectors: DataFrame, idCol: String,
                                vecCol: String, dims: Int, centroids: Int,
                                iterations: Int): Array[Array[Double]] = {
    require(iterations >= 0, s"iterations $iterations < 0")
    var cents = (0 until centroids).map(c => centroidVec(c, dims)).toArray
    (1 to iterations).foreach { _ =>
      val step = refineStepExact(vectors, idCol, vecCol, cents)
        .select("cell", "i", "m").collect()
      val next = cents.map(_.clone())
      step.foreach { r =>
        next(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getDouble(2)
      }
      cents = next
    }
    cents
  }

  /** The registered FACE of [[trainCentroidsExactMatrix]]: the full
    * C×d trained grid after `iterations` snapped Lloyd steps —
    * (cell, i, n_members, m) where `n_members` is the cell's population
    * in the FINAL step (0 for a cell that emptied) and `m` the trained
    * component (final-step snapped mean, or the carried previous value
    * for an empty cell). Exactly the matrix a deployment would persist
    * via [[saveCentroids]], in oracle-comparable row form: the final
    * step runs distributed against the (iterations−1)-trained matrix
    * and left-joins onto the C·d-row carry grid — nothing corpus-sized
    * leaves the executors.
    */
  def trainCentroidsExact(vectors: DataFrame, idCol: String, vecCol: String,
                          dims: Int, centroids: Int,
                          iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations $iterations < 1")
    val sp = vectors.sparkSession
    import sp.implicits._
    val prev = trainCentroidsExactMatrix(vectors, idCol, vecCol, dims,
      centroids, iterations - 1)
    val grid = sp.createDataset(for {
      c <- 0 until centroids; i <- 0 until dims
    } yield (c.toLong, i.toLong, prev(c)(i))).toDF("cell", "i", "prev_x")
    val last = refineStepExact(vectors, idCol, vecCol, prev)
    grid.join(last, Seq("cell", "i"), "left")
      .select(col("cell"), col("i"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("m"), col("prev_x")).as("m"))
  }

  /** SemDeDup (Abbas et al. 2023, public): semantic dedup WITHIN
    * quantizer cells — a document is dropped when a lower-id member of
    * its own cell is within `minCosine`; survivors are the semantic
    * representatives. Emits kept (vec_id, cell).
    *
    * The cell partition is the published algorithm's cost bound: the
    * quadratic pair term runs per cell (~(N/C)² per cell, never N²),
    * and C is the knob a deployment turns as N grows — this is dedup by
    * clustering, not LSH banding, so near-duplicate pairs SPLIT ACROSS
    * cells are missed by design (the paper's trade; `lshNeighborPairs`
    * is the recall-bounded alternative). The within-cell join carries
    * the vectors because cosine needs them — at (N/C) rows per cell the
    * carried payload is the same order as the pair count, so a
    * join-back would add a shuffle without shrinking the dominant term.
    * Cosine snaps to 6 dp (the q38/q43 rounding doctrine) so the
    * drop set is engine-exact.
    */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    dims: Int, centroids: Int, minCosine: Double): DataFrame =
    semanticDedupWith(vectors, idCol, vecCol,
      (0 until centroids).map(c => centroidVec(c, dims)).toArray, minCosine)

  /** TRAINED-quantizer search behind the measured-size centroid rule
    * (the F11/F3 discipline applied to the r13 trained family): one
    * count() picks C = [[adaptiveCentroids]](n, floor), the snapped
    * trainer refines that many seeded directions, and the search runs
    * against the trained matrix. At or under the 4096-row hold C is
    * the floor, so results are bit-identical to the fixed registration
    * (every oracle scale); above it the quantizer is √N-sized — the
    * sizing the ×100 study measured at 21× for the FIXED shape
    * (workload ∝ N over ∝N-sized probes, SCALE.md §8 addendum 7).
    */
  def trainedIvfTopKAuto(vectors: DataFrame, idCol: String, vecCol: String,
                         dims: Int, floorCentroids: Int, iterations: Int,
                         nprobe: Int, k: Int, queryPred: Column): DataFrame = {
    val n = vectors.count()
    val c = adaptiveCentroids(n, floorCentroids)
    ivfTopKWith(vectors, idCol, vecCol,
      trainCentroidsExactMatrix(vectors, idCol, vecCol, dims, c, iterations),
      nprobe, k, queryPred)
  }

  /** TRAINED SemDeDup behind the same measured-size rule: C ≈ √N holds
    * the per-cell quadratic at (N/√N)² = N per cell — the PAPER's own
    * scaling knob (cluster first precisely so dedup runs per cell),
    * measured 17.5× wall for 100× data vs the ~2,500 s the fixed-16
    * arithmetic implies at ×100 (SCALE.md §8 addendum 7). Floor-held
    * ≤4096 rows so the registered shape stays bit-identical to its
    * fixed oracle.
    */
  def trainedSemanticDedupAuto(vectors: DataFrame, idCol: String,
                               vecCol: String, dims: Int,
                               floorCentroids: Int, iterations: Int,
                               minCosine: Double): DataFrame = {
    val n = vectors.count()
    val c = adaptiveCentroids(n, floorCentroids)
    semanticDedupWith(vectors, idCol, vecCol,
      trainCentroidsExactMatrix(vectors, idCol, vecCol, dims, c, iterations),
      minCosine)
  }

  /** [[semanticDedup]] against an ARBITRARY quantizer matrix — the form
    * the PUBLISHED algorithm actually specifies (SemDeDup clusters with
    * TRAINED k-means, not random directions); registered over the
    * q211-trained matrix as q216 now that snapped training makes the
    * trained cell structure engine-exact. Same per-cell cost bound. */
  def semanticDedupWith(vectors: DataFrame, idCol: String, vecCol: String,
                        cents: Array[Array[Double]],
                        minCosine: Double): DataFrame = {
    val sp = vectors.sparkSession
    val cells = assignCells(vectors, idCol, vecCol, cents)
      .select(col("vec_id"), col("v"), col("vn"), col("cell"))
    val a = cells.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("va"), col("vn").as("na"))
    val b = cells.select(col("cell"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("vn").as("nb"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(ArrayOps.doubleDot(sp, col("va"), col("vb")) /
        (col("na") * col("nb")), 6) >= minCosine)
      .select(col("id_b").as("vec_id")).distinct()
    cells.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
  }

  /** Persist a centroid matrix as parquet rows (c, i, x). Parquet doubles
    * are raw IEEE-754 bits, so save→load reproduces the matrix EXACTLY —
    * which matters because the index and every probe must assign against
    * the same quantizer: a centroid off by one ulp can flip an argmax and
    * silently degrade recall. (JSON was rejected for exactly that reason:
    * textual doubles round-trip only with care; parquet needs none.)
    */
  def saveCentroids(spark: SparkSession, cents: Array[Array[Double]],
                    path: String): Unit = {
    import spark.implicits._
    val rows = for {
      (v, c) <- cents.zipWithIndex.toSeq
      (x, i) <- v.zipWithIndex
    } yield (c, i, x)
    // O(C·dims) rows — one file, written from the driver's literal matrix
    spark.createDataset(rows).toDF("c", "i", "x")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a [[saveCentroids]] matrix (bit-exact; see save doc).
    * A partial/corrupt file must fail HERE, loudly: silently zero-filling
    * missing (c, i) cells would hand back a wrong quantizer, and a wrong
    * quantizer doesn't crash — it just degrades recall, the exact failure
    * mode the bit-exactness contract exists to prevent.
    */
  def loadCentroids(spark: SparkSession, path: String): Array[Array[Double]] = {
    val rows = spark.read.parquet(path).select("c", "i", "x").collect()
    require(rows.nonEmpty, s"no centroid rows at $path")
    val nC = rows.iterator.map(_.getInt(0)).max + 1
    val nI = rows.iterator.map(_.getInt(1)).max + 1
    require(rows.length == nC * nI,
      s"centroid file $path is sparse/partial: ${rows.length} rows for a " +
        s"$nC x $nI matrix (expected ${nC * nI})")
    val seen = new java.util.BitSet(nC * nI)
    val out = Array.fill(nC)(new Array[Double](nI))
    rows.foreach { r =>
      val (c, i) = (r.getInt(0), r.getInt(1))
      require(!seen.get(c * nI + i), s"duplicate centroid cell ($c,$i) at $path")
      seen.set(c * nI + i)
      out(c)(i) = r.getDouble(2)
    }
    out
  }

  /** Cell populations for a centroid matrix — the balance diagnostic. */
  def cellHistogram(vectors: DataFrame, idCol: String, vecCol: String,
                    cents: Array[Array[Double]]): Map[Int, Long] =
    assignCells(vectors, idCol, vecCol, cents)
      .groupBy(col("cell")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** IVF top-k against an explicit centroid matrix (seeded or trained). */
  def ivfTopKWith(vectors: DataFrame, idCol: String, vecCol: String,
                  cents: Array[Array[Double]], nprobe: Int, k: Int,
                  queryPred: Column): DataFrame =
    // per-row matvec cosines + argmax (lowest-cell tie-break via
    // array_position on identical double bits); materialized ONCE — the
    // IVF index build, see scaladoc
    ivfProbe(assignCells(vectors, idCol, vecCol, cents).localCheckpoint(true),
      nprobe, k, queryPred)

  /** Probe an ALREADY-BUILT IVF index frame (vec_id, v, vn, ccos, cell) —
    * the read side of the build-once/probe-many lifecycle: pass the frame
    * reopened from a persisted cell-bucketed table (`tools.Catalog.open`) and
    * query time pays ZERO assignment work; the cell equi-join consumes the
    * table's bucketing with no index-side exchange. SimilaritySpec asserts
    * a reopened index answers identically to a freshly-built one.
    */
  def ivfProbe(index: DataFrame, nprobe: Int, k: Int,
               queryPred: Column): DataFrame = {
    val sp = index.sparkSession
    // probe list: each query's nprobe best cells (window over queries × C
    // rows only — the assignment itself never sees a window or a join)
    val q = index.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
              col("vn").as("qn"), posexplode(col("ccos")).as(Seq("cell", "pcos")))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("cell"))
    val probes = q.withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))

    // scan only the probed cells: probe list is queries × nprobe — small by
    // construction, so it broadcasts into the index scan
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    broadcast(probes)
      .join(index.select(col("vec_id"), col("v"), col("vn"), col("cell")), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dot(sp, col("qv"), col("v")) / (col("qn") * col("vn")), 6))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
  }

  /** Banded-LSH ANN (see object doc): `bands × rowsPerBand` sign-bit
    * signature per vector; a candidate is a vector sharing ANY band's
    * bucket with the query; exact cosine + top-k only on candidates.
    *
    * Plan shape: ONE scan of the vector table computing the per-band
    * buckets inline (kernel dots, zero shuffle), joined against the
    * BROADCAST query side on OR-of-band-equality — the same
    * scan+broadcast+rank shape as bruteForceTopK, except non-candidates
    * are eliminated by `bands` long-compares instead of a dims-wide dot
    * product, and only ~bands·N/2^rowsPerBand candidates per query reach
    * the cosine and the rank exchange (vs all N for brute force).
    *
    * The query set is small by construction (same contract as
    * bruteForceTopK). For corpus×corpus near-neighbor work, use the
    * exploded banded EQUI-join instead (the `NearDup.minhashLshPairs`
    * pattern — shuffle on (band, bucket), population N/2^rowsPerBand per
    * bucket, no broadcast) — a nested-loop over a large query side does
    * not scale.
    *
    * Output shape matches bruteForceTopK; recall < 1 by design (the
    * scale/quality trade) but the result is deterministic, so it keeps an
    * oracle.
    */
  /** Corpus×corpus near-neighbor PAIRS via banded signatures — the
    * EQUI-JOIN scale path for when there is no small query side (all-pairs
    * similarity mining, embedding near-dup detection): signatures explode
    * to (id, band, bucket) rows, the self-join shuffles on (band, bucket)
    * — population N/2^rowsPerBand per bucket, no broadcast, no nested
    * loop — candidates dedupe, and only survivors pay the exact cosine.
    * Returns (id_a, id_b, cosine), id_a < id_b, cosine ≥ minCosine.
    * Composes with `NearDup.dedupClusters` for embedding-cosine near-dup
    * clustering. Same banding/recall trade as lshTopK (SimilaritySpec
    * measures it).
    */
  /** Band bucket codes from the plane-projection array in ONE pass per
    * band: bucket b = Σ_i [pr[b·r+i] ≥ 0]·2^i via zip_with + aggregate
    * over a slice — ONE reference to `pr` per band instead of
    * rowsPerBand. A sum of per-bit element_at terms references the
    * projection rowsPerBand times per band, and projection collapse
    * inlines the matVec kernel once per reference: invisible at the
    * registered r=5 width, a planes²·dims-per-row term once
    * adaptiveRowsPerBand widens r (the assignCells ccos lesson — its
    * ×10 measurement showed the shape 8× slower from exactly this).
    */
  private def bandBuckets(pr: Column, bands: Int, rowsPerBand: Int): IndexedSeq[Column] =
    (0 until bands).map { b =>
      aggregate(
        zip_with(slice(pr, b * rowsPerBand + 1, rowsPerBand),
          typedLit((0 until rowsPerBand).map(i => 1L << i)),
          (x, p) => when(x >= 0, p).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc + x)
    }

  /** `broadcastVectors`: hash-join the candidate→vector join-backs
    * against a BROADCAST of the (id, v, vn) table instead of shuffling
    * vector payloads per candidate. The r11 ×1000 spot-check measured
    * why this is the scale decision that matters here: candidates are
    * ~bands·N·occupancy/2 rows, and a shuffle join-back materializes
    * the dims-wide vectors through TWO exchanges — ~60 GB of sort
    * spill at 2M×64f and 55M candidates, versus ONE ~1 GB broadcast
    * the candidates stream against map-side. The Auto wrapper gates it
    * on the measured vector-payload size; above the gate (vectors that
    * genuinely don't fit an executor) the shuffle join-back is correct
    * — that's an aggregate-disk budget a cluster has.
    */
  /** The LSH BAND-ROW view of a vector table: (vec_id, band_idx,
    * bucket), one row per (vector, band) — the joinable form of the
    * signature, factored out of [[lshNeighborPairs]] so the streaming
    * embedding-dedup tick's persisted band index and the batch pair
    * join share ONE formula (plane matrix, sign-bit packing, band
    * split) and cannot drift. Band equality is the equi-join key; a
    * persisted index `bucketBy`s or broadcasts against exactly these
    * columns.
    */
  def lshBandRows(vectors: DataFrame, idCol: String, vecCol: String,
                  dims: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val sp = vectors.sparkSession
    val planes = bands * rowsPerBand
    val planeMat = (0 until planes).map(p => planeVec(p, dims)).toArray
    val withPr = vectors.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("__pr",
        graft.plans.ArrayOps.matVec(sp, col("v"), planeMat, s"lsh_${planes}x$dims"))
    val bandCols = bandBuckets(col("__pr"), bands, rowsPerBand)
      .zipWithIndex.map { case (bk, b) =>
        struct(lit(b).as("band_idx"), bk.as("bucket"))
      }
    withPr
      .select(col("vec_id"), explode(array(bandCols: _*)).as("bd"))
      .select(col("vec_id"), col("bd.band_idx").as("band_idx"),
        col("bd.bucket").as("bucket"))
  }

  /** Read a persisted band-index meta row: (bands, rows_per_band,
    * built_n). None when the artifact predates the meta contract.
    * Thin wrapper over the shared [[IndexMeta]] contract (VERDICT r13
    * #4) — the on-disk columns read through a long cast, so pre-module
    * INT-column artifacts keep reading. */
  def readBandIndexMeta(spark: SparkSession,
                        metaDir: String): Option[(Int, Int, Long)] =
    IndexMeta.read(spark, metaDir, Seq("bands", "rows_per_band", "built_n"))
      .map(m => (m("bands").toInt, m("rows_per_band").toInt, m("built_n")))

  /** Persist the band-index meta row (replaced whole — the meta IS the
    * current-width record, history lives in the tick logs). */
  def writeBandIndexMeta(spark: SparkSession, metaDir: String, bands: Int,
                         rowsPerBand: Int, builtN: Long): Unit =
    IndexMeta.write(spark, metaDir, Seq("bands" -> bands.toLong,
      "rows_per_band" -> rowsPerBand.toLong, "built_n" -> builtN))

  /** BAND-INDEX STALENESS GUARD (VERDICT r12 #3): a persisted `_bands`
    * index freezes its width at build time, but [[adaptiveRowsPerBand]]
    * is a function of the CORPUS SIZE — once the corpus outgrows the
    * next occupancy threshold, a tick serving through the frozen index
    * silently runs at saturating occupancy (candidates ∝ n²/2^w, the
    * exact quadratic the adaptive width exists to kill). This guard
    * makes the check explicit at every tick: compare the width the
    * CURRENT corpus needs against the width the index was BUILT at
    * (recorded in the meta row), and rebuild the index — one corpus
    * scan, the honest price of a width change — when it falls behind.
    * Returns the effective width every consumer of the index must use.
    *
    * An index without a meta row (pre-r13 artifact) is adopted as
    * built at `floorRowsPerBand` — the old contract's only possible
    * width — so the staleness arithmetic applies to it uniformly
    * (an oversized legacy corpus rebuilds immediately, which is the
    * correct outcome: its index WAS saturating).
    */
  def ensureBandIndexFresh(corpus: DataFrame, idCol: String, vecCol: String,
                           dims: Int, bandsDir: String, metaDir: String,
                           bands: Int, floorRowsPerBand: Int,
                           targetOccupancy: Long = Sizing.TargetOccupancy): Int = {
    val spark = corpus.sparkSession
    val n = corpus.count()
    val needed = adaptiveRowsPerBand(n, floorRowsPerBand, targetOccupancy)
    // shared read/verify/rebuild skeleton (VERDICT r13 #4): width only
    // ever WIDENS (adaptiveRowsPerBand is monotone in n), so staleness
    // is `needed > built`; the band count is the invariant the read
    // side is wired for
    IndexMeta.ensureFresh(spark, metaDir,
      invariants = Seq("bands" -> bands.toLong),
      dialName = "rows_per_band", neededDial = needed.toLong,
      legacyDial = floorRowsPerBand.toLong, corpusN = n,
      staleWhen = (built, need) => need > built,
      what = s"embedding LSH band index at $bandsDir") { w =>
      graft.storage.ParquetCompact.replace(spark, bandsDir)(
        lshBandRows(corpus, idCol, vecCol, dims, bands, w.toInt).write.parquet(_))
    }.toInt
  }

  def lshNeighborPairs(vectors: DataFrame, idCol: String, vecCol: String,
                       dims: Int, bands: Int, rowsPerBand: Int,
                       minCosine: Double,
                       broadcastVectors: Boolean = false): DataFrame = {
    val sp = vectors.sparkSession
    val v = vectors.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("vn", norm(sp, col("v")))
    // the band join carries ONLY (id, band, bucket) — vectors join back in
    // for surviving candidate pairs
    val banded = lshBandRows(vectors, idCol, vecCol, dims, bands, rowsPerBand)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Both join-backs reference the SAME projection (alias qualifiers,
    // not per-side renames): with identical children the two broadcast
    // exchanges canonicalize equal and ReuseExchange collapses them to
    // ONE built broadcast + a ReusedExchange — per-side renamed
    // projections measured as TWO built exchanges (2× the gated memory,
    // ADVICE r11). SimilaritySpec pins the reuse on the executed plan.
    val bv = v.select(col("vec_id"), col("v"), col("vn"))
    def side(df: DataFrame): DataFrame =
      if (broadcastVectors) broadcast(df) else df
    cand
      .join(side(bv).as("A"), col("id_a") === col("A.vec_id"))
      .join(side(bv).as("B"), col("id_b") === col("B.vec_id"))
      .withColumn("cosine",
        round(dot(sp, col("A.v"), col("B.v")) / (col("A.vn") * col("B.vn")), 6))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** BATCH-vs-CORPUS embedding dedup flags — the serving half of the
    * streaming embedding-ingest tick (VERDICT r11 #6): score a SMALL
    * new-vector batch against a persisted corpus through its persisted
    * band index, with NO corpus×corpus term and NO corpus-side shuffle.
    *
    * Plan shape (StreamingSpec pins it): the batch's band rows and the
    * batch vectors BROADCAST (batch-sized by definition); the corpus
    * band index and the corpus vector table stream map-side through two
    * BroadcastHashJoins — no ShuffleExchange anywhere above a corpus
    * scan. The only shuffle is the final per-new-vector max-cosine
    * aggregation, keyed on the candidate rows (≈ batch × occupancy),
    * with map-side partial aggregation. Per tick the corpus is READ
    * once and repartitioned never — the property that makes the tick
    * affordable at any corpus size.
    *
    * Emits (vec_id, best_cosine) for every batch vector with ≥ 1 band
    * collision; callers treat best_cosine ≥ minCosine as "duplicate of
    * the corpus". Band/plane formulas are [[lshBandRows]]'s, so the
    * index a deployment persists and the flags computed here cannot
    * drift.
    */
  def embeddingCorpusFlags(corpusVecs: DataFrame, corpusBands: DataFrame,
                           batch: DataFrame, idCol: String, vecCol: String,
                           dims: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val sp = batch.sparkSession
    val bBands = lshBandRows(batch, idCol, vecCol, dims, bands, rowsPerBand)
      .withColumnRenamed("vec_id", "new_id")
    val bVecs = batch.select(col(idCol).as("new_id"),
        col(vecCol).cast("array<double>").as("nv"))
      .withColumn("nn", norm(sp, col("nv")))
    val cVecs = corpusVecs.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("vn", norm(sp, col("v")))
    // NO distinct on the candidates: a (corpus, new) pair colliding in
    // several bands scores several identical rows, and the max() fold
    // absorbs them — a dropDuplicates here would be the tick's only
    // corpus-lineage repartition, traded away for a few duplicate dots
    val cand = corpusBands.join(broadcast(bBands), Seq("band_idx", "bucket"))
      .select(col("vec_id"), col("new_id"))
    cVecs.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(bVecs), Seq("new_id"))
      .withColumn("cosine",
        round(dot(sp, col("v"), col("nv")) / (col("vn") * col("nn")), 6))
      .groupBy(col("new_id").as("vec_id"))
      .agg(max(col("cosine")).as("best_cosine"))
  }

  /** [[embeddingCorpusFlags]] behind the measured-width decision (the
    * F11 lesson applied at REGISTRATION time rather than after a ×100
    * measurement): one corpus count() picks the same occupancy-adaptive
    * width a deployed tick's persisted index carries (11 bits at 200k
    * vectors, SCALE.md §8 addendum 4), building the corpus band rows at
    * that width. At or under the 4096-row floor hold the width equals
    * the fixed registration, so results are bit-identical at every
    * oracle scale — a fixed 5-bit width would leave corpus bucket
    * occupancy ∝ N and the candidate volume ∝ N²/2⁵, exactly the F2
    * arithmetic.
    */
  def embeddingCorpusFlagsAuto(corpusVecs: DataFrame, batch: DataFrame,
                               idCol: String, vecCol: String, dims: Int,
                               bands: Int, floorRowsPerBand: Int): DataFrame = {
    val n = corpusVecs.count()
    val r = adaptiveRowsPerBand(n, floorRowsPerBand)
    embeddingCorpusFlags(corpusVecs,
      lshBandRows(corpusVecs, idCol, vecCol, dims, bands, r),
      batch, idCol, vecCol, dims, bands, r)
  }

  /** Occupancy-adaptive band width for [[lshNeighborPairs]]: the number
    * of sign bits per band such that the EXPECTED bucket occupancy
    * n / 2^bits stays at or under `targetOccupancy`, never below the
    * registered small-scale `floor`.
    *
    * Why this exists (SCALE.md, the ×100 study's first real finding): a
    * FIXED band width saturates — 5 bits is 32 buckets per band forever,
    * so bucket occupancy grows ∝ n and the band self-join's candidate
    * volume grows ∝ n²/2^bits. At sf0.1 (2 k vectors, occupancy ~62)
    * that term is invisible; at ×10 it already measured 13.3× wall for
    * ×10 data; at ×100 it is ~2.5 BILLION candidate pairs — the fixed
    * width is quadratic by construction, the measurement caught it.
    * Widening restores ~targetOccupancy buckets, making candidates
    * ~n·targetOccupancy/2 per band — linear in n at fixed occupancy.
    *
    * The semantic trade is explicit and belongs to the caller: collision
    * probability per band is p^bits with p = 1 − θ/π, so widening prunes
    * MODERATE-cosine pairs fastest while near-dup pairs (cos → 1,
    * p → 1) keep ~full recall — e.g. cos 0.998 at 11 bits: p ≈ 0.986,
    * p¹¹ ≈ 0.86, and 4 bands give 1−(1−0.86)⁴ ≈ 0.9996; cos 0.2 drops
    * to ~1% candidate rate. Right for DEDUP (the q54 shape, where the
    * pairs that matter are high-cos); wrong for low-threshold similarity
    * SWEEPS, which should raise `bands` (more independent probes)
    * instead of accepting quadratic candidates.
    */
  def adaptiveRowsPerBand(n: Long, floor: Int,
                          targetOccupancy: Long = Sizing.TargetOccupancy): Int = {
    // floor ≤ 24 because the widening loop caps at 24 bits — the doc math
    // (2^bits buckets, probe flips) assumes that cap, so a wider floor
    // must be rejected, not silently passed through (ADVICE r11)
    require(floor >= 1 && floor <= 24, s"floor $floor out of range [1, 24]")
    var bits = floor
    while (bits < 24 && (n >> bits) > targetOccupancy) bits += 1
    bits
  }

  /** [[lshNeighborPairs]] behind a measured-size width decision — the
    * sizedSemiJoin doctrine applied to banding. One count() picks the
    * band width AND the join-back strategy; at or under the floor
    * threshold the band width matches the fixed-width call so RESULTS
    * are bit-identical (SimilaritySpec pins this — the join-back
    * broadcast is a plan-only change), and only the over-threshold
    * corpus pays the (deliberate, documented) recall trade above.
    */
  def lshNeighborPairsAuto(vectors: DataFrame, idCol: String, vecCol: String,
                           dims: Int, bands: Int, floorRowsPerBand: Int,
                           minCosine: Double): DataFrame = {
    val n = vectors.count()
    val r = adaptiveRowsPerBand(n, floorRowsPerBand)
    // vector-payload size gate for the candidate join-back (scaladoc on
    // lshNeighborPairs): broadcast while the (id, v, vn) table fits an
    // executor, shuffle above — and also shuffle BELOW 64k rows, where
    // the candidate volume is small enough that the fixed broadcast
    // build cost (~0.3 s measured at sf0.1) exceeds what it saves and
    // the registered small-scale plan shape stays put
    val bcast = n >= Sizing.MinBroadcastVectorRows &&
      n * (dims * 8L + 32L) <= Sizing.MaxBroadcastVectorBytes
    lshNeighborPairs(vectors, idCol, vecCol, dims, bands, r, minCosine,
      broadcastVectors = bcast)
  }

  /** `probeFlips` enables QUERY-DIRECTED MULTI-PROBE (Lv et al., VLDB'07 —
    * public result): besides its own bucket, each query band probes the
    * buckets reached by flipping the `probeFlips` sign bits whose
    * projections lie CLOSEST to their hyperplane (the bits most likely to
    * disagree for a true near neighbor). At a fixed candidate budget this
    * buys recall: (1+f) probes into 2^r-sized buckets beats one probe into
    * 2^(r-log2(1+f))-sized buckets because the extra probes are chosen by
    * boundary distance, not at random — SimilaritySpec measures the lift
    * at equal budget. probeFlips = 0 is classic single-probe banding (the
    * q39 operating point, kept oracle-checked).
    */
  def lshTopK(vectors: DataFrame, idCol: String, vecCol: String,
              dims: Int, bands: Int, rowsPerBand: Int, k: Int,
              queryPred: Column, probeFlips: Int = 0): DataFrame = {
    require(probeFlips >= 0 && probeFlips <= rowsPerBand,
      s"probeFlips must be in [0, rowsPerBand], got $probeFlips")
    val sp = vectors.sparkSession
    val planes = bands * rowsPerBand
    val planeMat = (0 until planes).map(p => planeVec(p, dims)).toArray
    val v = vectors.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("vn", norm(sp, col("v")))
    // all `planes` projections in ONE kernel pass (see DoubleMatVec doc);
    // buckets via bandBuckets (one kernel reference per band)
    def bucketCol(b: Int): Column = bandBuckets(col("__pr"), bands, rowsPerBand)(b)
    def withBuckets(df: DataFrame, vc: String, prefix: String): DataFrame = {
      val withPr = df.withColumn("__pr",
        graft.plans.ArrayOps.matVec(sp, col(vc), planeMat, s"lsh_${planes}x$dims"))
      val bks = bandBuckets(col("__pr"), bands, rowsPerBand)
      (0 until bands).foldLeft(withPr) { (d, b) =>
        d.withColumn(s"${prefix}b$b", bks(b))
      }.drop("__pr")
    }
    /** query side with probe ARRAYS per band: own bucket + the buckets at
      * the `probeFlips` boundary-nearest bit flips. All codegen built-ins:
      * sort_array over (|proj|, bit) structs orders bits by boundary
      * distance; 1L<<bit via element_at on a literal power array.
      */
    def withProbes(df: DataFrame): DataFrame = {
      val withPr = df.withColumn("__pr",
        graft.plans.ArrayOps.matVec(sp, col("qv"), planeMat, s"lsh_${planes}x$dims"))
      val pows = array((0 until rowsPerBand).map(r => lit(1L << r)): _*)
      (0 until bands).foldLeft(withPr) { (d, b) =>
        val bucket = bucketCol(b)
        val byDist = sort_array(array((0 until rowsPerBand).map { r =>
          struct(abs(element_at(col("__pr"), b * rowsPerBand + r + 1)).as("d"),
                 lit(r).as("r"))
        }: _*))
        val probes = bucket +: (0 until probeFlips).map { i =>
          bucket.bitwiseXOR(
            element_at(pows, element_at(byDist, i + 1).getField("r") + 1))
        }
        d.withColumn(s"qpb$b", array(probes: _*))
      }.drop("__pr")
    }
    val sig = withBuckets(v, "v", "")
    val qBase = v.filter(queryPred).select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("vn").as("qn"))
    val q = if (probeFlips == 0) withBuckets(qBase, "qv", "q") else withProbes(qBase)
    // one row per (query, candidate): the OR over bands collapses
    // multi-band matches, so no distinct is needed
    val bandMatch = (0 until bands).map { b =>
      if (probeFlips == 0) col(s"b$b") === col(s"qb$b")
      else array_contains(col(s"qpb$b"), col(s"b$b"))
    }.reduce(_ || _)
    val scored = sig.join(broadcast(q), bandMatch && col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dot(sp, col("qv"), col("v")) / (col("qn") * col("vn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
  }

  /** [[lshTopK]] re-planned as a banded EQUI-join — the corpus-scale
    * serving path for a LARGE query side. The broadcast-OR shape above is
    * a BroadcastNestedLoopJoin: every (corpus row, query row) pair pays
    * the `bands` bucket compares, an N·N_q term that measured 198× wall
    * at ×100 corpus/query scale in the r11 study. Here both sides explode
    * to (id, band, bucket) rows and ONE shuffle equi-join on
    * (band, bucket) finds the identical candidate set — per-candidate
    * cost, not per-pair: with occupancy-bounded buckets
    * ([[adaptiveRowsPerBand]]) candidates stay ~N_q·bands·occupancy.
    * Results are EXACTLY [[lshTopK]]'s at equal rowsPerBand (the
    * OR-over-bands collapse is replaced by dropDuplicates before the
    * cosine; SimilaritySpec pins parity, including probeFlips > 0).
    */
  def lshTopKBanded(vectors: DataFrame, idCol: String, vecCol: String,
                    dims: Int, bands: Int, rowsPerBand: Int, k: Int,
                    queryPred: Column, probeFlips: Int = 0): DataFrame = {
    require(probeFlips >= 0 && probeFlips <= rowsPerBand,
      s"probeFlips must be in [0, rowsPerBand], got $probeFlips")
    val sp = vectors.sparkSession
    val planes = bands * rowsPerBand
    val planeMat = (0 until planes).map(p => planeVec(p, dims)).toArray
    val v = vectors.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("vn", norm(sp, col("v")))
    val withPr = v.withColumn("__pr",
      graft.plans.ArrayOps.matVec(sp, col("v"), planeMat, s"lsh_${planes}x$dims"))
    def bucketCol(b: Int): Column = bandBuckets(col("__pr"), bands, rowsPerBand)(b)
    // corpus side: one (id, band, bucket) row per band
    val sig = withPr
      .select(col("vec_id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band_idx"), bucketCol(b).as("bucket"))): _*)).as("bd"))
      .select(col("vec_id"), col("bd.band_idx").as("band_idx"),
        col("bd.bucket").as("bucket"))
    // query side: one row per PROBE — own bucket plus the probeFlips
    // boundary-nearest bit flips (same probe set as lshTopK's arrays)
    val pows = array((0 until rowsPerBand).map(r => lit(1L << r)): _*)
    val qsig = withPr.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("__pr"),
        explode(array((0 until bands).map { b =>
          val bucket = bucketCol(b)
          val byDist = sort_array(array((0 until rowsPerBand).map { r =>
            struct(abs(element_at(col("__pr"), b * rowsPerBand + r + 1)).as("d"),
                   lit(r).as("r"))
          }: _*))
          val probes = bucket +: (0 until probeFlips).map { i =>
            bucket.bitwiseXOR(
              element_at(pows, element_at(byDist, i + 1).getField("r") + 1))
          }
          struct(lit(b).as("band_idx"), array(probes: _*).as("buckets"))
        }: _*)).as("bd"))
      .select(col("query_id"), col("bd.band_idx").as("band_idx"),
        explode(col("bd.buckets")).as("bucket"))
    val cand = sig.join(qsig, Seq("band_idx", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
    val scored = cand
      .join(v, Seq("vec_id"))
      .join(v.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("vn").as("qn")), Seq("query_id"))
      .withColumn("cosine",
        round(dot(sp, col("qv"), col("v")) / (col("qn") * col("vn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
  }

  /** Sized dispatch over the two lshTopK plans plus the occupancy-
    * adaptive band width: ONE count() reads the corpus size; through
    * [[graft.core.Sizing.AnnHoldRows]] the call is BIT-IDENTICAL to
    * `lshTopK(..., rowsPerBand = floor)` (broadcast plan AND results —
    * the registered oracle shape); above it, the banded equi-join runs
    * at [[adaptiveRowsPerBand]] width — the N·N_q nested-loop term and
    * the bucket-saturation term both go away, at the documented
    * moderate-cosine recall trade. The q39 serving policy at scale.
    */
  def lshTopKAuto(vectors: DataFrame, idCol: String, vecCol: String,
                  dims: Int, bands: Int, floorRowsPerBand: Int, k: Int,
                  queryPred: Column, probeFlips: Int = 0): DataFrame = {
    val n = vectors.count()
    if (n <= Sizing.AnnHoldRows)
      lshTopK(vectors, idCol, vecCol, dims, bands, floorRowsPerBand, k,
        queryPred, probeFlips)
    else
      lshTopKBanded(vectors, idCol, vecCol, dims, bands,
        adaptiveRowsPerBand(n, floorRowsPerBand), k, queryPred, probeFlips)
  }

  /** Classic IVF sizing (Jégou et al.; the FAISS √N rule, public): the
    * power of two NEAREST √n — the smallest k with 2k² ≥ n, i.e. within
    * a factor √2 of √n — clamped to [floor, cap]. At K ≈ √N cells the
    * serving cost per query is nprobe·√N index reads — the sublinear-
    * per-query property that IS the point of IVF — while the one-off
    * assignment build pays N·K kernel dots. A FIXED K keeps per-cell
    * population ∝ N: the r11 ×100 study measured the 16-cell registered
    * shape at 154× wall for 100× data (every probe scans N/16 vectors).
    * Through [[graft.core.Sizing.AnnHoldRows]] (the SAME engage point
    * as lshTopKAuto's broadcast threshold, so every sized dispatch in
    * the family flips at one documented corpus size) the count IS the
    * floor: the registered fixed-K shape, bit-identical to its static
    * oracle at every testdata scale — the r11 3-SF check caught the
    * earlier 2·floor² hold diverging from the sf0.1 oracle. Above the
    * hold, the nearest power of two to √n (smallest k with 2k² ≥ n),
    * clamped to [floor, [[graft.core.Sizing.MaxCentroids]]].
    */
  def adaptiveCentroids(n: Long, floor: Int): Int = {
    require(floor >= 1 && floor <= Sizing.MaxCentroids,
      s"floor $floor outside [1, ${Sizing.MaxCentroids}]")
    if (n <= Sizing.AnnHoldRows) floor
    else {
      var k = floor
      while (k < Sizing.MaxCentroids && 2L * k * k < n) k = k << 1
      k
    }
  }

  /** [[ivfTopK]] behind the measured-size centroid rule: one count()
    * picks K = [[adaptiveCentroids]](n, floor) — identical to
    * `ivfTopK(..., centroids = floor)` while √n ≤ floor (the oracle
    * scale), √N-sized above it. Same md5 quantizer family, so cell
    * assignments at equal K match the fixed call exactly.
    */
  def ivfTopKAuto(vectors: DataFrame, idCol: String, vecCol: String,
                  dims: Int, floorCentroids: Int, nprobe: Int, k: Int,
                  queryPred: Column): DataFrame = {
    val n = vectors.count()
    val c = adaptiveCentroids(n, floorCentroids)
    ivfTopK(vectors, idCol, vecCol, dims, c, nprobe, k, queryPred)
  }

  /** [[ivfPqTopK]] behind the √N centroid rule (one count(), the
    * ivfTopKAuto doctrine): K = floor through every oracle scale, √N
    * above — a fixed coarse K leaves the probed-cell population ∝ N/K,
    * which with the residue-class query workload measured 139× wall at
    * ×100 on the registered fixed-16 shape; √N cells bound it.
    */
  def ivfPqTopKAuto(vectors: DataFrame, idCol: String, vecCol: String,
                    dims: Int, m: Int, ksub: Int, floorCentroids: Int,
                    nprobe: Int, k: Int, queryPred: Column): DataFrame = {
    val n = vectors.count()
    val c = adaptiveCentroids(n, floorCentroids)
    ivfPqTopK(vectors, idCol, vecCol, dims, m, ksub, c, nprobe, k, queryPred)
  }

  /** The IVF-PQ INDEX as a DataFrame: (vec_id, cell, subspace, code) —
    * m·log2(ksub) bits of code plus a cell id per vector, the payload a
    * deployment persists `bucketBy(cell)` (the ivfIndex doctrine: probe
    * scans become bucket-pruned, cell joins consume the distribution
    * with no exchange). Build cost is the one-off N·K assignment pass +
    * the map-only PQ encode; [[ivfPqProbe]] is the read side.
    */
  def ivfPqIndex(vectors: DataFrame, idCol: String, vecCol: String,
                 dims: Int, m: Int, ksub: Int, centroids: Int): DataFrame =
    ivfPqEncode(vectors, idCol, vecCol, dims, m, ksub,
      (0 until centroids).map(c => centroidVec(c, dims)).toArray,
      (s, c) => pqCentroidVec(s, c, dims / m), residual = false)

  /** Probe an ALREADY-BUILT [[ivfPqIndex]] with EXTERNAL raw-vector
    * queries — the serve half of the build-once/probe-many lifecycle
    * (the regime §F5 of SCALE.md is about: queries arrive at a rate
    * independent of corpus size), through [[ivfPqServe]]. Results are
    * [[ivfPqTopK]]'s exactly when the queries are corpus rows (spec pins
    * parity — same quantizer formulas, same micro-snapped sums, same
    * self-exclusion). A persisted artifact (tools/IvfPqBuild) serves
    * through [[ivfPqServe]] with its own loaded codebooks.
    */
  def ivfPqProbe(index: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, dims: Int, m: Int, ksub: Int,
                 centroids: Int, nprobe: Int, k: Int,
                 collectBudgetBytes: Long = ProbeCollectBudgetBytes): DataFrame =
    ivfPqServe(index, queries, idCol, vecCol, dims, m, ksub, nprobe, k,
      (0 until centroids).map(c => centroidVec(c, dims)).toArray,
      (s, c) => pqCentroidVec(s, c, dims / m), residual = false,
      collectBudgetBytes)

  /** IVF-PQ ADC top-k (Jégou et al. 2011's full IVFADC system, public):
    * the composition that makes PQ scoring SERVE at corpus scale. Plain
    * [[pqAdcTopK]] is an exhaustive ADC scan — every query scores every
    * code row, an N·N_q term the r11 ×100 study measured at 226× wall
    * for 100× data. Here the [[ivfTopK]] coarse quantizer prunes first:
    * vectors carry (cell, PQ code); a query probes its `nprobe` best
    * cells and ADC-scores ONLY the codes living there — per-query work
    * is nprobe·N/K code lookups (sublinear at the √N centroid rule)
    * instead of N.
    *
    * Semantics: identical distance tables and micro-snapped ADC sums as
    * [[pqAdcTopK]] (same codebooks, same fold order — the oracle
    * recomputes both quantizers from the shared md5 formulas); the
    * result is pqAdcTopK RESTRICTED to candidates in probed cells, the
    * recall/cost trade every deployed IVFADC index makes. k/nprobe/m/
    * ksub are the standard serving knobs. Raw PQ is the zero-base case
    * of the residual IVFADC ([[ivfPqResidualTopK]]); both run the same
    * [[adcCandidates]] plan.
    */
  def ivfPqTopK(vectors: DataFrame, idCol: String, vecCol: String,
                dims: Int, m: Int, ksub: Int, centroids: Int, nprobe: Int,
                k: Int, queryPred: Column): DataFrame =
    adcTopK(adcCandidates(vectors, idCol, vecCol, dims, m, ksub,
      (0 until centroids).map(c => centroidVec(c, dims)).toArray,
      (s, c) => pqCentroidVec(s, c, dims / m), residual = false, nprobe,
      queryPred), k)

  /** IVF-PQ RECALL-vs-NPROBE CURVE (VERDICT r12 #5 — the tuning-
    * evidence row q207's composition was missing, the [[ivfRecallCurve]]
    * sibling): for each nprobe, recall@k of the IVFADC path (coarse
    * cell pruning + ADC distances) against the EXACT brute-force cosine
    * truth on the same query set — i.e. what the compressed, pruned
    * serving path loses end to end, the number a deployment reads
    * before choosing its probe budget.
    *
    * Cost shape: ONE brute-force truth pass (checkpointed) + ONE
    * [[adcCandidates]] pass at max(nprobes) — each sweep point is a
    * prank-slice of it, so no point re-encodes or re-scans the codes;
    * all hit counts collect in ONE job ([[sweepHits]]). ADC ties break
    * by vec_id and the truth set is engine-exact (rounded cosine + id
    * tie-break), so recall is an integer ratio.
    */
  def ivfPqRecallCurve(vectors: DataFrame, idCol: String, vecCol: String,
                       dims: Int, m: Int, ksub: Int, centroids: Int,
                       nprobes: Seq[Int], k: Int,
                       queryPred: Column): DataFrame = {
    require(nprobes.nonEmpty, "ivfPqRecallCurve needs at least one sweep point")
    val queries = vectors.filter(queryPred)
    val truth = bruteForceTopK(vectors, queries, idCol, vecCol, k)
      .select(col("query_id"), col("vec_id"))
      .localCheckpoint(true)
    val nq = queries.count()
    val cand = adcCandidates(vectors, idCol, vecCol, dims, m, ksub,
      (0 until centroids).map(c => centroidVec(c, dims)).toArray,
      (s, c) => pqCentroidVec(s, c, dims / m), residual = false,
      nprobes.max, queryPred)
    recallTable(vectors.sparkSession, nprobes, nq, k,
      sweepHits(cand, truth, nprobes, k))
  }

  /** The (nprobe, n_queries, hits, possible, recall_micro) rows of a
    * recall sweep from its per-point hit counts. */
  private def recallTable(sp: SparkSession, nprobes: Seq[Int], nq: Long,
                          k: Int, hitsByNp: Map[Int, Long]): DataFrame = {
    import sp.implicits._
    nprobes.map { np =>
      val hits = hitsByNp.getOrElse(np, 0L)
      (np, nq, hits, nq * k,
        math.floor(hits.toDouble * 1e6 / (nq * k).toDouble + 0.5).toLong)
    }.toDF("nprobe", "n_queries", "hits", "possible", "recall_micro")
  }

  /** Sub-centroid c of subspace s over `dsub` dimensions: component
    * i = md5("pq{s}_{c}_{i}") — a distinct seed family from the IVF
    * centroids and LSH planes. */
  private[graft] def pqCentroidVec(s: Int, c: Int, dsub: Int): Array[Double] =
    Array.tabulate(dsub)(i => mdComponent(s"pq${s}_${c}_$i"))

  /** Sequential self-dot of a driver-side vector (index-order fold —
    * matches list_dot_product(cv, cv) in the oracle). */
  private def seqSelfDot(v: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    acc
  }

  /** PRODUCT-QUANTIZATION audit (Jégou et al. 2011, public): split each
    * embedding into `m` contiguous subspaces, assign each subvector to
    * its nearest of `ksub` codebook entries, and report the per-subspace
    * code and quantization SSE. This is the compression-error census run
    * before committing a corpus to a PQ-compressed ANN index — the int8
    * audit's (q68) vector-codebook sibling: q68 measures scalar
    * quantization, this measures the m·log2(ksub)-bits-per-vector PQ
    * regime that corpus-scale ANN actually deploys.
    *
    * Codebooks are md5-derived deterministic directions (the IVF
    * quantizer doctrine — nothing N-proportional, and the oracle
    * re-derives identical doubles from the same formula); a production
    * index swaps in per-subspace k-means codebooks exactly as ivfTopKWith
    * swaps in trained centroids — the plan shape is unchanged.
    *
    * Numerics: SSE(sub, c) = (sub·sub − 2·sub·c) + c·c with every dot a
    * sequential-order kernel fold and c·c a driver-precomputed constant
    * with the same fold order — bit-identical to the oracle's
    * list_dot_product composition. Values are micro-snapped BEFORE the
    * argmin so both engines compare identical longs; ties break to the
    * lowest code via min(struct).
    *
    * Scale shape: zero shuffles — per-row codegen arithmetic only
    * (m·ksub slice+dot expressions per vector; dot(sub,sub) is shared
    * across the ksub candidates by codegen CSE), then one explode to the
    * long (vec_id, subspace) output grain. At 100 TB this runs as a
    * map-only pass over the embedding table; the emitted codes ARE the
    * PQ index payload, ready to write partitioned alongside the ids.
    */
  def pqAudit(vectors: DataFrame, idCol: String, vecCol: String,
              dims: Int, m: Int, ksub: Int): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    require(ksub >= 1, "ksub must be >= 1")
    val sp = vectors.sparkSession
    val dsub = dims / m
    // raw-subvector PQ = the residual kernel against a ZEROS base
    // (x − 0.0 is bit-identical to x in IEEE, so the kernel's SSE folds
    // are exactly the old slice form's — the oracles pin it)
    val zeros = typedLit(Seq.fill(dims)(0.0))
    vectors.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .select(col("vec_id"),
        explode(pqEncodeCol(sp, col("v"), zeros, m, ksub, dsub,
          (s, c) => pqCentroidVec(s, c, dsub))).as("p"))
      .select(col("vec_id"), col("p.subspace").as("subspace"),
        col("p.code").as("code"), col("p.sse_micro").as("sse_micro"))
  }

  // ------------------------------------------------------------------
  // RESIDUAL product quantization (VERDICT r14 #1 — make the IVFADC
  // match the paper it cites). Jégou et al. 2011 train the per-subspace
  // codebooks on RESIDUALS x − q1(x) (the vector minus its coarse
  // centroid), not on raw subvectors: residuals are centered near zero
  // with far smaller spread, so the same m·log2(ksub) bits quantize
  // them much more faithfully — the repo's own q213 measurement showed
  // the cost of skipping this (recall FALLING 85→80→75% as nprobe
  // widened: the lossy raw-subvector ranker mis-ranked the extra
  // candidates, so the serving system's main tuning knob worked
  // backwards). Everything below shares the [[assignCells]] coarse
  // assignment and the snapped-SSE/snapped-mean numeric discipline of
  // the exact trainer, so the whole family stays oracle-checkable.
  // ------------------------------------------------------------------

  /** The broadcast (cell, ccv) centroid table the residual paths join
    * to fetch each row's coarse centroid — scales with C without a
    * C·dims literal tree per expression. */
  private def centroidDf(sp: SparkSession,
                         cents: Array[Array[Double]]): DataFrame = {
    import sp.implicits._
    cents.zipWithIndex.map { case (v, c) => (c, v.toSeq) }.toSeq
      .toDF("cell", "ccv")
  }

  /** Materialize an (Int, Int) => Array[Double] codebook view as the
    * m×ksub×dsub array the encode kernel carries (validating entry
    * widths once, here, instead of per expression). */
  private def cbMatrix(m: Int, ksub: Int, dsub: Int,
                       cb: (Int, Int) => Array[Double]): Array[Array[Array[Double]]] =
    Array.tabulate(m, ksub) { (s, c) =>
      val cv = cb(s, c)
      require(cv.length == dsub,
        s"PQ codebook entry ($s,$c) carries ${cv.length} dims, expected $dsub")
      cv
    }

  /** Content key for a PQ codebook (the assignCells registry-name
    * scheme: md5 over the raw double bits — distinct codebooks must
    * never collide in the session function registry). */
  private def cbKey(cb: Array[Array[Array[Double]]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(8)
    cb.foreach(_.foreach(_.foreach { d =>
      bb.clear(); bb.putDouble(d); md.update(bb.array()) }))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** The ONE PQ code-assignment column every consumer shares (r15 —
    * the F4 kernel treatment; see [[graft.plans.ArrayOps.DoublePqEncode]]):
    * per subspace, argmin-SSE code over the RESIDUAL v − base, with
    * snapped SSE and the residual subvector in the struct. `base` is
    * the row's coarse centroid for residual PQ, a zeros literal for
    * raw-subvector PQ (IEEE x − 0.0 ≡ x bitwise). Replaces the m·ksub
    * candidate-expression fan-out that crossed janino's 64 KB method
    * cap at artifact sizes (m=8/ksub=16 → interpreted fallback,
    * SCALE.md §10). */
  private def pqEncodeCol(sp: SparkSession, v: Column, base: Column,
                          m: Int, ksub: Int, dsub: Int,
                          cb: (Int, Int) => Array[Double]): Column = {
    val mat = cbMatrix(m, ksub, dsub, cb)
    ArrayOps.pqEncode(sp, v, base, m, ksub, mat,
      s"${m}x${ksub}x${dsub}_${cbKey(mat)}")
  }

  /** TRAIN per-subspace PQ codebooks on residuals — snapped Lloyd in
    * subspace form (the [[trainCentroidsExactMatrix]] machinery turned
    * on x − q1(x), exactly the training Jégou et al. 2011 specify for
    * IVFADC): each iteration assigns every residual subvector to its
    * argmin-SSE code (micro-snapped, ties to the lowest code) and
    * re-estimates each (subspace, code) entry as the snapped per-
    * dimension mean of its members; an emptied code keeps its previous
    * entry. Round 0 is the deterministic formula codebook
    * ([[pqCentroidVec]] — the seeded-directions convention every
    * trained family here starts from).
    *
    * Exactness: same discipline as the coarse trainer — per-dimension
    * sums run over `floor(r·1e6 + 0.5)` integers (order-independent),
    * the mean is ONE IEEE division of two exact doubles, so the matrix
    * after every round is bit-identical across engines, runs and
    * partitionings, which is what lets the oracle replay the training
    * as unrolled SQL rounds.
    *
    * Scale shape: the residual frame is computed ONCE (cells are fixed
    * while PQ trains — the coarse quantizer is frozen first, per the
    * paper) and checkpointed; each round is one scan + one
    * (subspace, code, dim)-keyed aggregation whose m·ksub·dsub = dims·
    * ksub snapped means collect to the driver — the same bounded-
    * collect lineage barrier as the coarse trainer, nothing
    * N-proportional driver-side.
    */
  def trainPqResidualMatrix(vectors: DataFrame, idCol: String,
                            vecCol: String, dims: Int, m: Int, ksub: Int,
                            cents: Array[Array[Double]],
                            iterations: Int): Array[Array[Array[Double]]] = {
    require(iterations >= 0, s"iterations $iterations < 0")
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val sp = vectors.sparkSession
    val dsub = dims / m
    // cells are FIXED while PQ trains (the coarse quantizer is frozen
    // first, per the paper) — one assignment pass, checkpointed with
    // each row's centroid alongside, reused by every round; the kernel
    // recomputes the residual per round (dsub subtractions — cheaper
    // than persisting m materialized residual arrays was)
    val rf = assignCells(vectors, idCol, vecCol, cents)
      .select(col("v"), col("cell"))
      .join(broadcast(centroidDf(sp, cents)), Seq("cell"))
      .select(col("v"), col("ccv"))
      .localCheckpoint(true)
    var cb = Array.tabulate(m, ksub)((s, c) => pqCentroidVec(s, c, dsub))
    (1 to iterations).foreach { _ =>
      val enc = pqEncodeCol(sp, col("v"), col("ccv"), m, ksub, dsub,
        (s, c) => cb(s)(c))
      val step = rf.select(explode(enc).as("p"))
        .select(col("p.subspace").as("s"), col("p.code").as("code"),
          posexplode(col("p.rsub")).as(Seq("i", "x")))
        .groupBy("s", "code", "i")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("x") * lit(1e6) + lit(0.5))).as("m_micro"))
        .select(col("s"), col("code"), col("i"),
          (col("m_micro").cast("double") /
            (col("n").cast("double") * lit(1e6))).as("m"))
        .collect()
      val next = cb.map(_.map(_.clone()))
      step.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      cb = next
    }
    cb
  }

  /** RESIDUAL IVFADC top-k (Jégou et al. 2011 as published): coarse
    * cell pruning + ADC over RESIDUAL codes against explicit (usually
    * trained) codebooks. The one structural difference from the raw
    * [[ivfPqTopK]] is the base both the codes and the distance table
    * subtract: the cell's centroid instead of zero, so a query's table
    * differs per probed cell (r_q = q − centroid(cell)). Same
    * [[adcCandidates]] plan.
    */
  def ivfPqResidualTopK(vectors: DataFrame, idCol: String, vecCol: String,
                        dims: Int, m: Int, ksub: Int,
                        cents: Array[Array[Double]],
                        pqCb: (Int, Int) => Array[Double],
                        nprobe: Int, k: Int, queryPred: Column): DataFrame =
    adcTopK(adcCandidates(vectors, idCol, vecCol, dims, m, ksub, cents,
      pqCb, residual = true, nprobe, queryPred), k)

  /** Probe an ALREADY-BUILT residual IVF-PQ index with external
    * raw-vector queries — [[ivfPqProbe]]'s residual sibling, through the
    * same [[ivfPqServe]]; results are bit-identical to the distributed
    * [[ivfPqResidualTopK]] when the queries are corpus rows (spec pins
    * it).
    */
  def ivfPqResidualProbe(index: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, dims: Int, m: Int, ksub: Int,
                         centroids: Int, nprobe: Int, k: Int,
                         coarseCodebook: Array[Array[Double]],
                         pqCodebook: (Int, Int) => Array[Double],
                         collectBudgetBytes: Long = ProbeCollectBudgetBytes): DataFrame = {
    require(coarseCodebook.length == centroids,
      s"coarse codebook carries ${coarseCodebook.length} centroids, expected $centroids")
    ivfPqServe(index, queries, idCol, vecCol, dims, m, ksub, nprobe, k,
      coarseCodebook, pqCodebook, residual = true, collectBudgetBytes)
  }

  // ------------------------------------------------------------------
  // THE IVFADC CORE. Raw and residual PQ, one-shot and serve, share one
  // encoder, one distance table and one scorer; they differ only in the
  // base subtracted before quantizing (zero or the cell centroid) and
  // in the front end that yields each query's probed cells.
  // ------------------------------------------------------------------

  /** `df` (carrying `cell`) plus `ccv`, the base the residual encoding
    * subtracts: the cell's coarse centroid (a broadcast (cell, ccv)
    * join), or for raw PQ a zeros literal — IEEE x − 0.0 ≡ x bitwise, so
    * raw codes and distances equal the plain-subvector forms. */
  private def withBase(df: DataFrame, cents: Array[Array[Double]],
                       residual: Boolean): DataFrame =
    if (residual) df.join(broadcast(centroidDf(df.sparkSession, cents)), Seq("cell"))
    else df.withColumn("ccv", typedLit(Seq.fill(cents.head.length)(0.0)))

  /** Encode vectors into IVF-PQ code rows (vec_id, cell, subspace, code)
    * through explicit codebooks — the index build, the artifact tools'
    * `build`/`retrain` and the streaming index-maintenance tick
    * ([[graft.tools.IvfPqBuild]] `ingesttick`, which passes the
    * artifact's encoding and LOADED codebooks). With the formula
    * codebooks and `residual = false` this is exactly [[ivfPqIndex]], so
    * a tick-grown index is bit-identical to a one-shot build over the
    * union (StreamingSpec pins it). Map-only after the one assignment
    * pass. */
  private[graft] def ivfPqEncode(vectors: DataFrame, idCol: String,
                                 vecCol: String, dims: Int, m: Int,
                                 ksub: Int, cents: Array[Array[Double]],
                                 pqCb: (Int, Int) => Array[Double],
                                 residual: Boolean): DataFrame =
    encodeCells(assignCells(vectors, idCol, vecCol, cents), dims, m, ksub,
      cents, pqCb, residual)

  /** [[ivfPqEncode]] over rows already assigned: (vec_id, v, cell). */
  private def encodeCells(cells: DataFrame, dims: Int, m: Int, ksub: Int,
                          cents: Array[Array[Double]],
                          pqCb: (Int, Int) => Array[Double],
                          residual: Boolean): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    withBase(cells.select(col("vec_id"), col("v"), col("cell")), cents,
        residual)
      .select(col("vec_id"), col("cell"),
        explode(pqEncodeCol(cells.sparkSession, col("v"), col("ccv"), m,
          ksub, dims / m, pqCb)).as("p"))
      .select(col("vec_id"), col("cell"), col("p.subspace").as("subspace"),
        col("p.code").as("code"))
  }

  /** The one-shot and sweep front end: ADC candidate scores at probe
    * width `npMax` for the `queryPred` rows of `vectors`. One coarse
    * assignment (checkpointed — the encode and the probe list both read
    * it), its codes, and the DISTRIBUTED probe list: per query, the
    * `npMax` best cells by centroid cosine (a window over `ccos`; the
    * query side never visits the driver).
    *
    * Each candidate carries `prank`, the probe rank of ITS cell for that
    * query (r19, guide §2.4 "remove shuffles outright"): a vector's cell
    * has ONE fixed rank in a query's coarse ordering, so the candidate
    * set at any nprobe ≤ npMax is EXACTLY the prank ≤ nprobe slice of
    * this frame, and the ADC sum does not depend on nprobe at all. The
    * recall sweeps exploit that: ONE codes scan + ONE broadcast-table
    * join at npMax replaces one full probe per sweep point.
    */
  private def adcCandidates(vectors: DataFrame, idCol: String,
                            vecCol: String, dims: Int, m: Int, ksub: Int,
                            cents: Array[Array[Double]],
                            pqCb: (Int, Int) => Array[Double],
                            residual: Boolean, npMax: Int,
                            queryPred: Column): DataFrame = {
    val cells = assignCells(vectors, idCol, vecCol, cents)
      .select(col("vec_id"), col("v"), col("ccos"), col("cell"))
      .localCheckpoint(true)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("cell"))
    val probes = cells.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        posexplode(col("ccos")).as(Seq("cell", "pcos")))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= npMax)
    adcScore(encodeCells(cells, dims, m, ksub, cents, pqCb, residual),
      adcTable(probes, dims, m, ksub, cents, pqCb, residual))
  }

  /** The serve front end: top-k from an ALREADY-BUILT index (vec_id,
    * cell, subspace, code) for EXTERNAL raw-vector queries — per query
    * one C-dot cell ranking and one nprobe·m·ksub distance table, then
    * ADC over the probed cells' codes only. [[ivfPqProbe]],
    * [[ivfPqResidualProbe]] and the artifact tool's probe, serve and
    * ingest-tick modes (which pass the artifact's encoding) all run it.
    *
    * QUERY-SIDE WORK IS DRIVER-BOUNDED (r13 #2): ONE job collects the
    * kernel-assigned query rows, the probe ranking is a driver sort,
    * and the probe rows re-enter the plan as a LocalRelation. The
    * serve-sized contract is ENFORCED, not assumed (VERDICT r14 #4):
    * the collect runs under the [[probeQueryCap]] cap — which counts
    * the distance table the probe rows become, not just the collected
    * rows — and a batch past it fails with a named error instead of a
    * silent driver OOM (the refuse-loudly rule of Calibrate's bounded
    * histogram collect). limit(cap+1) bounds driver memory DURING the
    * collect; below the cap it equals an unlimited collect. So the scan
    * filter, the probe rows and the tables all derive from ONE
    * evaluation of the upstream (ADVICE r13), a warm serve batch runs
    * this collect and the answer with no checkpoint between, and the
    * compiled answer plan is batch-invariant. The ranking mirrors the
    * distributed window's (pcos DESC, cell ASC): java.lang.Double.compare
    * (Ordering.Double.TotalOrdering) IS Spark's physical double
    * ordering (NaN greatest, -0.0 < 0.0), and the stable sort keeps
    * equal cosines in cell order.
    *
    * PROBE-CELL PUSHDOWN (r13): the union of probed cells is bounded by
    * min(nprobe·N_q, centroids) ≤ the 4096 centroid cap, so the index
    * SCAN is filtered by `cell IN (...)` before the join — the predicate
    * reaches the parquet reader as row-group min/max skipping (the code
    * table is sortBy(cell)) and, on a bucketed open, bucket pruning. The
    * join alone can never prune the scan: probes are data. The filter
    * keeps a superset of what the join keeps, so results are unchanged.
    */
  private[graft] def ivfPqServe(index: DataFrame, queries: DataFrame,
                                idCol: String, vecCol: String, dims: Int,
                                m: Int, ksub: Int, nprobe: Int, k: Int,
                                cents: Array[Array[Double]],
                                pqCb: (Int, Int) => Array[Double],
                                residual: Boolean,
                                collectBudgetBytes: Long = ProbeCollectBudgetBytes): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val q = assignCells(queries, idCol, vecCol, cents)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("ccos"))
    val qCap = probeQueryCap(dims, cents.length, collectBudgetBytes, nprobe,
      m * ksub)
    val qData = q.limit(qCap + 1).collect()
    require(qData.length <= qCap,
      s"IVF-PQ serve: query batch exceeds the serve-sized cap of $qCap " +
        s"rows (${collectBudgetBytes >> 20} MiB driver budget at " +
        s"dims=$dims, C=${cents.length}, ${nprobe * m * ksub} distance-" +
        "table rows per query) — split the batch (the serve loop's " +
        "request granularity) or use the TopK face, whose query side " +
        "stays distributed")
    val probeRows = qData.toSeq.filterNot(_.isNullAt(2)).flatMap { r =>
      val ccos = r.getSeq[Double](2)
      ccos.indices.sortBy(ccos)(Ordering.Double.TotalOrdering.reverse)
        .take(nprobe).zipWithIndex
        .map { case (cell, rk) => Row(r.get(0), r.get(1), cell, rk + 1) }
    }
    val probes = index.sparkSession.createDataFrame(
      java.util.Arrays.asList(probeRows: _*),
      StructType(q.schema.take(2) ++ Seq(
        StructField("cell", IntegerType, nullable = false),
        StructField("prank", IntegerType, nullable = false))))
    val probedCells = probeRows.map(_.get(2)).distinct
    adcTopK(adcScore(index.filter(col("cell").isin(probedCells: _*)),
      adcTable(probes, dims, m, ksub, cents, pqCb, residual)), k)
  }

  /** THE distance table: for every probe row (query_id, qv, cell,
    * prank), the m·ksub rows (query_id, cell, prank, subspace, code,
    * t_micro) with t = ‖(q − base)ₛ − cvₛ꜀‖², base per [[withBase]].
    *
    * Built on the executors from a broadcast (subspace, code, cv, |cv|²)
    * codebook frame cross-joined to the probe rows (VERDICT r13 #2): an
    * m·ksub-literal expression tree made the warm serve loop
    * PLANNING-bound (~2.4 s of each batch re-analyzing a fresh plan,
    * SCALE.md §10), while this plan has a fixed shape whatever the
    * batch holds. The arithmetic is the exhaustive [[pqAdcTopK]]'s and
    * the oracle's: residual q − base once per probe row, then the
    * index-order dot folds, the (aa − 2·q·c) + |c|² association and the
    * micro snap — so every `adc_micro` is bit-identical to theirs.
    */
  private def adcTable(probes: DataFrame, dims: Int, m: Int, ksub: Int,
                       cents: Array[Array[Double]],
                       pqCb: (Int, Int) => Array[Double],
                       residual: Boolean): DataFrame = {
    val sp = probes.sparkSession
    import sp.implicits._
    val dsub = dims / m
    val cb = cbMatrix(m, ksub, dsub, pqCb)
    val cbDf = (for (s <- 0 until m; c <- 0 until ksub)
      yield (s, c, cb(s)(c).toSeq, seqSelfDot(cb(s)(c))))
      .toDF("subspace", "code", "cv", "cdot")
    val sub = slice(col("rq"), col("subspace") * lit(dsub) + lit(1),
      lit(dsub))
    val t = (dot(sp, sub, sub) - lit(2.0) * dot(sp, sub, col("cv"))) +
      col("cdot")
    withBase(probes, cents, residual)
      .select(col("query_id"), col("cell"), col("prank"),
        zip_with(col("qv"), col("ccv"), (a, b) => a - b).as("rq"))
      .crossJoin(broadcast(cbDf))
      .select(col("query_id"), col("cell"), col("prank"), col("subspace"),
        col("code"), floor(t * lit(1e6) + lit(0.5)).cast("long").as("t_micro"))
  }

  /** THE ADC sum: codes join the broadcast [[adcTable]] on (cell,
    * subspace, code) — one equi-join restricts candidates to probed
    * cells AND picks each query's table for that cell — each query's
    * own vector is excluded, and the m looked-up terms sum per (query,
    * vec). ONE exchange serves the sum and every downstream rank: rows
    * hash-distributed by query_id alone satisfy the (query_id, vec_id)
    * grouping (a partitioning on a subset of the grouping keys colocates
    * every group) and the query_id windows of [[adcTopK]] and the
    * sweeps. min(prank) is exact, not a choice: a vec_id lives in one
    * cell, so every joined row of a (query, vec) group carries the same
    * prank.
    */
  private def adcScore(codes: DataFrame, table: DataFrame): DataFrame =
    codes.join(broadcast(table), Seq("cell", "subspace", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("t_micro"), col("prank"))
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("t_micro")).as("adc_micro"), min(col("prank")).as("prank"))

  /** Per query, the k lowest ADC distances (ties to the lower vec_id). */
  private def adcTopK(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_micro"), col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("adc_micro"), col("rank"))
  }

  /** The registered TRAINED-RESIDUAL IVFADC face: coarse quantizer =
    * `coarseIters` snapped Lloyd rounds (the q215 trained matrix), PQ
    * codebooks = `pqIters` snapped residual-Lloyd rounds against it,
    * then the residual search. This is the full published IVFADC —
    * both quantizers trained, codes on residuals — the configuration
    * whose recall-vs-nprobe curve is non-decreasing (q219 pins it;
    * contrast the raw-formula q213 curve, which FALLS as nprobe
    * widens). */
  def ivfPqResidualTrainedTopK(vectors: DataFrame, idCol: String,
                               vecCol: String, dims: Int, m: Int, ksub: Int,
                               centroids: Int, coarseIters: Int,
                               pqIters: Int, nprobe: Int, k: Int,
                               queryPred: Column): DataFrame = {
    val cents = trainCentroidsExactMatrix(vectors, idCol, vecCol, dims,
      centroids, coarseIters)
    val pq = trainPqResidualMatrix(vectors, idCol, vecCol, dims, m, ksub,
      cents, pqIters)
    ivfPqResidualTopK(vectors, idCol, vecCol, dims, m, ksub, cents,
      (s, c) => pq(s)(c), nprobe, k, queryPred)
  }

  /** Recall-vs-nprobe curve for the trained-residual IVFADC — the
    * [[ivfPqRecallCurve]] sibling over [[ivfPqResidualTrainedTopK]]'s
    * configuration, sharing ONE truth pass and ONE training run across
    * the sweep points. The evidence row VERDICT r14 #1 asks for: with
    * residual-trained codebooks the curve is NON-DECREASING in nprobe
    * (widening the probe budget adds candidates the ranker orders
    * correctly), i.e. the serving knob works forwards again. */
  def ivfPqResidualRecallCurve(vectors: DataFrame, idCol: String,
                               vecCol: String, dims: Int, m: Int, ksub: Int,
                               centroids: Int, coarseIters: Int, pqIters: Int,
                               nprobes: Seq[Int], k: Int,
                               queryPred: Column): DataFrame = {
    require(nprobes.nonEmpty,
      "ivfPqResidualRecallCurve needs at least one sweep point")
    val queries = vectors.filter(queryPred)
    val truth = bruteForceTopK(vectors, queries, idCol, vecCol, k)
      .select(col("query_id"), col("vec_id"))
      .localCheckpoint(true)
    val cents = trainCentroidsExactMatrix(vectors, idCol, vecCol, dims,
      centroids, coarseIters)
    val pq = trainPqResidualMatrix(vectors, idCol, vecCol, dims, m, ksub,
      cents, pqIters)
    val nq = queries.count()
    // r19 sweep-share: ONE candidate pass at max(nprobes) with prank
    // attached; each sweep point is a prank-slice of it (bit-identical
    // to a per-point probe — adcCandidates scaladoc), and all |nprobes|
    // hit counts collect in ONE job.
    val cand = adcCandidates(vectors, idCol, vecCol, dims, m, ksub, cents,
      (s, c) => pq(s)(c), residual = true, nprobes.max, queryPred)
    recallTable(vectors.sparkSession, nprobes, nq, k,
      sweepHits(cand, truth, nprobes, k))
  }

  /** Top-k rows of EVERY sweep point in ONE window pass, tagged with
    * np. Per-point row_number-within-the-slice is derived as a
    * conditional RUNNING COUNT over the one global (score, vec_id)
    * order: a row's rank inside the prank ≤ np slice equals the number
    * of prank ≤ np rows at or before it — the ordering is total
    * (vec_id is unique per query), so the ROWS frame is exact. One
    * WindowExec carries all |nprobes| running sums, replacing
    * |nprobes| sort exchanges over the candidate frame with one.
    * `scoreAsc` orders ascending (ADC distances) or descending
    * (cosines). Emits (np, query_id, vec_id) — per np, bit-identical
    * to filter(prank ≤ np) + row_number ≤ k.
    */
  private def sweepTopK(cand: DataFrame, scoreCol: String, scoreAsc: Boolean,
                        nprobes: Seq[Int], k: Int): DataFrame = {
    val order = if (scoreAsc) col(scoreCol).asc else col(scoreCol).desc
    val w = Window.partitionBy(col("query_id"))
      .orderBy(order, col("vec_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRk = nprobes.zipWithIndex.foldLeft(cand) { case (df, (np, i)) =>
      df.withColumn(s"__rk$i",
        sum(when(col("prank") <= np, lit(1L)).otherwise(lit(0L))).over(w))
    }
    val entries = array(nprobes.zipWithIndex.map { case (np, i) =>
      struct(lit(np).as("np"), col(s"__rk$i").as("rk"),
        (col("prank") <= np).as("m"))
    }: _*)
    withRk
      .select(col("query_id"), col("vec_id"),
        explode(filter(entries,
          e => e.getField("m") && e.getField("rk") <= k)).as("e"))
      .select(col("e.np").as("np"), col("query_id"), col("vec_id"))
  }

  /** Per-sweep-point recall hits in ONE job: [[sweepTopK]] over the
    * shared candidate frame, semi-join truth, count grouped by np.
    * Candidates must carry (query_id, vec_id, adc_micro, prank). */
  private def sweepHits(cand: DataFrame, truth: DataFrame,
                        nprobes: Seq[Int], k: Int): Map[Int, Long] = {
    sweepTopK(cand, "adc_micro", scoreAsc = true, nprobes, k)
      .join(truth, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("np")).agg(count(lit(1)).as("hits"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  /** EXACT-COSINE RE-RANK of a bounded (query_id, vec_id) shortlist —
    * the second stage of two-stage retrieval (VERDICT r16 #1; the
    * standard IVFADC serving fix: ADC ranks candidates with m·log2
    * (ksub) bits of signal, so its top-k ordering is lossy even when
    * the true neighbor IS in the candidate pool — re-scoring the
    * shortlist against the RAW vectors recovers it at |queries|×R
    * extra dots). Cosine is [[bruteForceTopK]]'s exact convention
    * (sequential-fold dot, round 6, ties to vec_id) so a full-corpus
    * shortlist degenerates to brute-force truth by construction.
    *
    * Scale shape: the shortlist is |queries|×R-bounded → BROADCAST it
    * into the raws join (one map-side pass over the vector store, no
    * shuffle); the query vectors broadcast like every probe path; the
    * rank window partitions on query_id over ≤ R rows each. The
    * broadcast sizing contract is the probe paths' serve-sized cap:
    * every caller's query batch already passes ivfPq*Probe's qCap
    * guard (or is a bounded registered sample), so |queries|×R stays
    * a few MB of (id, id) pairs — a caller bypassing that contract
    * with corpus-scale "queries" should use the distributed TopK
    * faces instead, same as for the probe itself.
    */
  def rerankExactWith(raws: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, shortlist: DataFrame,
                      k: Int): DataFrame = {
    val sp = raws.sparkSession
    val v = raws.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("vn", norm(sp, col("v")))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(sp, col("qv")))
    val scored = v
      .join(broadcast(shortlist.select(col("query_id"), col("vec_id"))),
        Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine",
        round(dot(sp, col("qv"), col("v")) / (col("qn") * col("vn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
  }

  /** TWO-STAGE TRAINED-RESIDUAL IVFADC (VERDICT r16 #1): the q218
    * serving path with the standard exact re-rank second stage — ADC
    * top-`shortlist` per query (R ≈ 5–10× k), then exact cosine on the
    * raw vectors of the shortlist, top-k. Recall is bounded above by
    * the coarse-pruning ceiling (what nprobe cells contain — widening
    * nprobe is the other knob, q219's curve), but the ADC-misranking
    * loss INSIDE the candidate pool — the r16 codebook-bits sweep's
    * measured gap — is recovered at |queries|×R re-scoring cost that
    * rides the existing probe plan. q225 registers it; SimilaritySpec
    * pins the recall lift at matched candidate budget; the shortlist
    * and ranking replay the q218 oracle CTEs exactly.
    */
  def ivfPqResidualRerankTopK(vectors: DataFrame, idCol: String,
                              vecCol: String, dims: Int, m: Int, ksub: Int,
                              centroids: Int, coarseIters: Int, pqIters: Int,
                              nprobe: Int, shortlist: Int, k: Int,
                              queryPred: Column): DataFrame = {
    require(shortlist >= k,
      s"shortlist $shortlist must be >= k=$k (it is the re-rank candidate pool)")
    val cents = trainCentroidsExactMatrix(vectors, idCol, vecCol, dims,
      centroids, coarseIters)
    val pq = trainPqResidualMatrix(vectors, idCol, vecCol, dims, m, ksub,
      cents, pqIters)
    val short = ivfPqResidualTopK(vectors, idCol, vecCol, dims, m, ksub,
        cents, (s, c) => pq(s)(c), nprobe, shortlist, queryPred)
      .select(col("query_id"), col("vec_id"))
    rerankExactWith(vectors, vectors.filter(queryPred), idCol, vecCol,
      short, k)
  }

  /** Recall-vs-nprobe curve of the TWO-STAGE path (q228 — the
    * [[ivfPqResidualRecallCurve]] sibling with the exact re-rank
    * second stage): per sweep point, ADC top-`shortlist` through the
    * shared trained index, exact-cosine re-rank to top-k, recall vs
    * the one shared brute-force truth. The evidence the ×100 spot
    * measured (nprobe=2 24.4% / nprobe=4 30.6% vs one-stage
    * 12.0/12.8%) as a registered oracle-checked table: re-ranking
    * makes every candidate a wider probe admits ORDERABLE, so the two
    * knobs compose — this curve is non-decreasing AND dominates q219's
    * pointwise. Cost discipline is the sibling's: ONE truth pass, ONE
    * training, ONE [[adcCandidates]] pass shared across points; each
    * point adds a |queries|×R-bounded re-rank.
    */
  def ivfPqResidualRerankRecallCurve(vectors: DataFrame, idCol: String,
                                     vecCol: String, dims: Int, m: Int,
                                     ksub: Int, centroids: Int,
                                     coarseIters: Int, pqIters: Int,
                                     nprobes: Seq[Int], shortlist: Int,
                                     k: Int, queryPred: Column): DataFrame = {
    require(nprobes.nonEmpty,
      "ivfPqResidualRerankRecallCurve needs at least one sweep point")
    require(shortlist >= k,
      s"shortlist $shortlist must be >= k=$k (the re-rank candidate pool)")
    val queries = vectors.filter(queryPred)
    val truth = bruteForceTopK(vectors, queries, idCol, vecCol, k)
      .select(col("query_id"), col("vec_id"))
      .localCheckpoint(true)
    val cents = trainCentroidsExactMatrix(vectors, idCol, vecCol, dims,
      centroids, coarseIters)
    val pq = trainPqResidualMatrix(vectors, idCol, vecCol, dims, m, ksub,
      cents, pqIters)
    val nq = queries.count()
    // r19 sweep-share (the q219 discipline): ONE ADC candidate pass at
    // max(nprobes) with prank attached; each point's shortlist is the
    // exact per-point ADC top-R derived by slicing prank ≤ np, and the
    // |nprobes| exact re-ranks collapse into ONE pass over the raw
    // vectors (the shortlists union with an np tag and the re-rank
    // window partitions on (np, query) — previously the raw-vector
    // table was scanned once per sweep point, the 100 TB term).
    val cand = adcCandidates(vectors, idCol, vecCol, dims, m, ksub, cents,
      (s, c) => pq(s)(c), residual = true, nprobes.max, queryPred)
    val shortAll = sweepTopK(cand, "adc_micro", scoreAsc = true,
      nprobes, shortlist)
    val got = rerankExactTagged(vectors, queries, idCol, vecCol,
      shortAll, k)
    val hitsByNp = got.join(truth, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("np")).agg(count(lit(1)).as("hits"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    recallTable(vectors.sparkSession, nprobes, nq, k, hitsByNp)
  }

  /** [[rerankExactWith]] over an np-TAGGED shortlist — the sweep's
    * batched second stage: one map-side pass over the raw vectors
    * serves every sweep point at once (the shortlist broadcast carries
    * (np, query_id, vec_id); ranking partitions on (np, query_id) with
    * the exact same (cosine DESC, vec_id) order, so each np's rows are
    * bit-identical to a per-point [[rerankExactWith]] call).
    */
  private def rerankExactTagged(raws: DataFrame, queries: DataFrame,
                                idCol: String, vecCol: String,
                                shortlist: DataFrame, k: Int): DataFrame = {
    val sp = raws.sparkSession
    val v = raws.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("vn", norm(sp, col("v")))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(sp, col("qv")))
    val scored = v
      .join(broadcast(shortlist.select(col("np"), col("query_id"),
        col("vec_id"))), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine",
        round(dot(sp, col("qv"), col("v")) / (col("qn") * col("vn")), 6))
    val w = Window.partitionBy(col("np"), col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("np"), col("query_id"), col("vec_id"))
  }

  /** JL plane p over `dims` dimensions: component i = md5("jl{p}_{i}")
    * — a seed family distinct from the LSH planes and both centroid
    * families. */
  private[graft] def jlPlaneVec(p: Int, dims: Int): Array[Double] =
    Array.tabulate(dims)(i => mdComponent(s"jl${p}_$i"))

  /** JOHNSON-LINDENSTRAUSS random projection: embed `dims`-dim vectors
    * into `k` dims via deterministic md5-seeded planes (components
    * uniform on [−1, 1], so E[proj²] = ‖x‖²·k/3 — [[jlDistortion]]
    * measures how tight that is on real pairs). The cheap-preprocessing
    * half of the ANN stack: downstream banding/clustering on k ≪ dims
    * coordinates pays k/dims of every distance computation.
    *
    * Scale shape: zero shuffles — k kernel dots per row in one codegen
    * span, then one explode to the (vec_id, dim) grain (the q134
    * map-only-pass shape; the output IS the reduced table, ready to
    * write partitioned).
    */
  def jlProject(vectors: DataFrame, idCol: String, vecCol: String,
                dims: Int, k: Int): DataFrame = {
    require(k >= 1 && k <= dims, s"target dims $k outside [1, $dims]")
    val sp = vectors.sparkSession
    val v = vectors.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    val comps = (0 until k).map { p =>
      val pv = jlPlaneVec(p, dims)
      struct(lit(p).as("dim"),
        floor(dot(sp, col("v"), typedLit(pv.toSeq)) * lit(1e6) + lit(0.5))
          .cast("long").as("y_micro"))
    }
    v.select(col("vec_id"), explode(array(comps: _*)).as("c"))
      .select(col("vec_id"), col("c.dim").as("dim"),
        col("c.y_micro").as("y_micro"))
  }

  /** JL DISTORTION AUDIT: on deterministic hash-bucket-adjacent pairs,
    * the ratio of projected to original squared distance, scaled by the
    * 3/k variance factor of uniform[−1,1] planes — E[ratio] = 1, spread
    * = how much geometry k dims actually preserve (the measurement that
    * turns [[jlProject]]'s k into an evidence-based choice).
    *
    * Numerics: per-plane squared diffs micro-snap BEFORE the k-term sum
    * (an fp sum of 16 doubles would be engine-order-dependent in SQL),
    * the original distance snaps once, and the ratio is one double tail
    * over the two exact longs. Projection of the DIFFERENCE is computed
    * as dot(a, p) − dot(b, p) — linearity keeps the pair row free of
    * array arithmetic.
    */
  def jlDistortion(vectors: DataFrame, idCol: String, vecCol: String,
                   dims: Int, k: Int, nBuckets: Int = 64,
                   seed: String = "jlpair|"): DataFrame = {
    val sp = vectors.sparkSession
    val v = vectors.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket", pmod(
        graft.text.TextOps.hashPrefix(seed, col("id")), lit(nBuckets.toLong)))
    val w = Window.partitionBy(col("bucket")).orderBy(col("id"))
    val pairs = v
      .withColumn("nid", lead(col("id"), 1).over(w))
      .withColumn("nv", lead(col("v"), 1).over(w))
      .filter(col("nid").isNotNull)
    val aa = dot(sp, col("v"), col("v"))
    val bb = dot(sp, col("nv"), col("nv"))
    val ab = dot(sp, col("v"), col("nv"))
    val dorigMicro = floor(((aa - lit(2.0) * ab) + bb) * lit(1e6) + lit(0.5))
      .cast("long")
    val sprojMicro = (0 until k).map { p =>
      val pv = typedLit(jlPlaneVec(p, dims).toSeq)
      val t = dot(sp, col("v"), pv) - dot(sp, col("nv"), pv)
      floor(t * t * lit(1e6) + lit(0.5)).cast("long")
    }.reduce(_ + _)
    pairs.select(col("id").as("id_a"), col("nid").as("id_b"),
        dorigMicro.as("dorig_micro"), sprojMicro.as("sproj_micro"))
      .withColumn("ratio_micro",
        when(col("dorig_micro") > 0,
          floor(col("sproj_micro").cast("double") * lit(3.0)
            / (lit(k.toDouble) * col("dorig_micro").cast("double"))
            * lit(1e6) + lit(0.5)).cast("long")))
  }

  /** PQ ASYMMETRIC-DISTANCE top-k search (the ADC of Jégou et al. 2011):
    * corpus vectors are represented ONLY by their [[pqAudit]] codes
    * (m·log₂(ksub) bits each); each query precomputes its distance table
    * to every (subspace, sub-centroid) pair — a |Q|·m·ksub-bounded frame
    * that BROADCASTS — and the approximate squared distance is the sum
    * of m table lookups, realized as one equi-join on (subspace, code).
    *
    * This is the lookup-table complement of [[ivfTopK]]: IVF prunes
    * WHICH vectors are scored, ADC makes each scoring O(m) table adds
    * instead of O(dims) float ops. A production index composes both
    * (probe cells, then ADC within them); here ADC scans the full code
    * table so the oracle can mirror it exactly.
    *
    * Numerics: table entries micro-snap at construction (same SSE
    * composition as pqAudit, bit-identical to the oracle); the per-pair
    * distance is then an exact integer sum of m longs, and the top-k
    * rank is totally ordered by (adc_micro, vec_id).
    *
    * Scale shape: the code table joins a BROADCAST distance table —
    * no shuffle of the corpus side; the only exchange is the
    * (query_id, vec_id) aggregation, pre-pruned map-side by partial
    * aggregation, and the rank runs under WindowGroupLimit (≤ k rows
    * per query per partition cross the exchange).
    */
  def pqAdcTopK(vectors: DataFrame, idCol: String, vecCol: String,
                dims: Int, m: Int, ksub: Int,
                queryPred: Column, k: Int): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val sp = vectors.sparkSession
    val dsub = dims / m
    val codes = pqAudit(vectors, idCol, vecCol, dims, m, ksub)
      .select(col("vec_id"), col("subspace"), col("code"))
    val q = vectors.filter(queryPred)
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
    val entries = (0 until m).flatMap { s =>
      val sub = slice(col("qv"), s * dsub + 1, dsub)
      val aa = dot(sp, sub, sub) // shared across the ksub entries via codegen CSE
      (0 until ksub).map { c =>
        val cv = pqCentroidVec(s, c, dsub)
        val t = (aa - lit(2.0) * dot(sp, sub, typedLit(cv.toSeq))) +
          lit(seqSelfDot(cv))
        struct(lit(s).as("subspace"), lit(c).as("code"),
          floor(t * lit(1e6) + lit(0.5)).cast("long").as("t_micro"))
      }
    }
    val table = q.select(col("query_id"), explode(array(entries: _*)).as("e"))
      .select(col("query_id"), col("e.subspace").as("subspace"),
        col("e.code").as("code"), col("e.t_micro").as("t_micro"))
    val adc = codes.join(broadcast(table), Seq("subspace", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("t_micro")).as("adc_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_micro"), col("vec_id"))
    adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("adc_micro"), col("rank"))
  }
}
