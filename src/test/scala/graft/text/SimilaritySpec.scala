package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.{Sizing, Tables}
import graft.sim.Similarity

/** ANN quality: the scale paths trade recall for bounded work — this spec
  * MEASURES the trade on the sf0.01 fixture instead of leaving "recall < 1
  * by design" unquantified. Ground truth = brute-force top-k.
  */
class SimilaritySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private def pred = col("vec_id") % 10 === 0

  private def topkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    import spark.implicits._
    df.select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
  }

  lazy private val truth: Map[Long, Set[Long]] = {
    val emb = Tables.embeddings(spark, dir)
    topkSet(Similarity.bruteForceTopK(emb, emb.filter(pred), "vec_id", "embedding", 3))
      .groupMap(_._1)(_._2)
  }

  private def recallOf(ann: org.apache.spark.sql.DataFrame): Double = {
    val got = topkSet(ann).groupMap(_._1)(_._2)
    val hits = truth.toSeq.map { case (q, t) =>
      (t intersect got.getOrElse(q, Set.empty)).size.toDouble / t.size
    }
    hits.sum / hits.size
  }

  test("hardNegatives: same-label neighbors are excluded, ranking is by cosine") {
    import spark.implicits._
    // id 1 is the query's nearest vector overall but SHARES its label —
    // mining must skip it; ranks then follow cosine among other labels
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.01f), 0),
      (2L, Array(0.9f, 0.1f), 1),
      (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(0.5f, 0.5f), 2)).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(vecs, "vec_id", "embedding", "label",
        queryPred = col("vec_id") === 0, k = 2)
      .as[(Long, Long, Int, Double, Int)].collect().sortBy(_._5)
    assert(out.map(r => (r._1, r._2, r._3, r._5)).toSeq ===
      Seq((0L, 2L, 1, 1), (0L, 4L, 2, 2)))
    assert(out.forall(_._3 != 0), "a same-label vector leaked into the negatives")
  }

  test("banded LSH ANN recall vs brute force is measured and non-trivial") {
    val emb = Tables.embeddings(spark, dir)
    val r = recallOf(Similarity.lshTopK(emb, "vec_id", "embedding",
      dims = 64, bands = 4, rowsPerBand = 5, k = 3, queryPred = pred))
    info(f"q39-shaped banded LSH recall@3 on sf0.01: $r%.3f")
    // random 64-dim embeddings are near-orthogonal — the hardest case for
    // hyperplane LSH. 4 bands × 5 bits scans ~1/8 of the corpus (the same
    // candidate budget as q43's nprobe=2/16 IVF); chance recall at that
    // budget is ~12.5%, so the floor asserts the sign buckets carry real
    // signal beyond their size
    assert(r > 0.2, f"LSH recall $r%.3f is no better than chance at its budget")
  }

  test("fixed-centroid IVF recall vs brute force is measured and non-trivial") {
    val emb = Tables.embeddings(spark, dir)
    val r = recallOf(Similarity.ivfTopK(emb, "vec_id", "embedding",
      dims = 64, centroids = 16, nprobe = 2, k = 3, queryPred = pred))
    info(f"q43-shaped IVF recall@3 (nprobe=2/16 cells) on sf0.01: $r%.3f")
    // nprobe/C = 1/8 of the corpus scanned; chance recall would be ~12.5%
    assert(r > 0.2, f"IVF recall $r%.3f is no better than probing random cells")
  }

  test("trained centroids: snapped Lloyd passes are reproducible, improve balance, " +
      "search stays well-formed") {
    val emb = Tables.embeddings(spark, dir)
    val seed = (0 until 16).map(c => Similarity.centroidVec(c, 64)).toArray
    val trained = Similarity.trainCentroidsExactMatrix(emb, "vec_id",
      "embedding", dims = 64, centroids = 16, iterations = 2)
    // the r12 verdict's point: the snapped trainer is ENGINE-EXACT —
    // a re-run over a differently-partitioned copy of the corpus
    // reproduces the matrix bit-for-bit (the fp-mean trainer could not)
    val again = Similarity.trainCentroidsExactMatrix(emb.repartition(7),
      "vec_id", "embedding", dims = 64, centroids = 16, iterations = 2)
    assert(trained.flatten.toSeq === again.flatten.toSeq,
      "snapped training must be partitioning-invariant, bit-for-bit")
    // zero iterations is the seed matrix itself
    assert(Similarity.trainCentroidsExactMatrix(emb, "vec_id", "embedding",
      dims = 64, centroids = 16, iterations = 0).flatten.toSeq ===
      seed.flatten.toSeq)
    val hSeed = Similarity.cellHistogram(emb, "vec_id", "embedding", seed)
    val hTrained = Similarity.cellHistogram(emb, "vec_id", "embedding", trained)
    val n = hSeed.values.sum
    assert(hTrained.values.sum === n, "training must not lose vectors")
    info(s"cell population max/nonempty: seed=${hSeed.values.max}/${hSeed.size} " +
      s"trained=${hTrained.values.max}/${hTrained.size} (N=$n)")
    // the scale claim: probe cost is bounded by the largest probed cell.
    // Lloyd does not strictly guarantee monotone max-cell shrinkage, so
    // assert with slack: training must not make the worst cell MATERIALLY
    // worse (observed on this fixture: 44 -> 38)
    assert(hTrained.values.max <= (hSeed.values.max * 1.25).toLong,
      s"training materially worsened the largest cell: " +
        s"${hTrained.values.max} vs seed ${hSeed.values.max}")
    val r = recallOf(Similarity.ivfTopKWith(emb, "vec_id", "embedding",
      trained, nprobe = 2, k = 3, queryPred = pred))
    info(f"trained-IVF recall@3 (nprobe=2/16): $r%.3f")
    assert(r > 0.2, f"trained IVF recall $r%.3f below the chance floor")
    // the registered face agrees with the matrix: the (cell, i, ...,  m)
    // grid IS the trained matrix in row form, empty cells carried
    val rows = Similarity.trainCentroidsExact(emb, "vec_id", "embedding",
      dims = 64, centroids = 16, iterations = 2).collect()
    assert(rows.length === 16 * 64)
    rows.foreach { r =>
      assert(r.getDouble(3) === trained(r.getLong(0).toInt)(r.getLong(1).toInt))
    }
  }

  test("multi-probe LSH lifts recall over single-probe at equal candidate budget") {
    val emb = Tables.embeddings(spark, dir)
    // equal-budget comparison: single-probe 4×5-bit bands scan ~4·N/32
    // candidates; query-directed multi-probe with 7 one-bit flips on
    // 4×8-bit bands scans ~4·8·N/256 — the same fraction — but spends it
    // on buckets CHOSEN by boundary distance
    def candidates(rpb: Int, flips: Int): Long = {
      val df = Similarity.lshTopK(emb, "vec_id", "embedding",
        dims = 64, bands = 4, rowsPerBand = rpb, k = Int.MaxValue,
        queryPred = pred, probeFlips = flips)
      df.count()
    }
    val single = recallOf(Similarity.lshTopK(emb, "vec_id", "embedding",
      dims = 64, bands = 4, rowsPerBand = 5, k = 3, queryPred = pred))
    val multi = recallOf(Similarity.lshTopK(emb, "vec_id", "embedding",
      dims = 64, bands = 4, rowsPerBand = 8, k = 3, queryPred = pred,
      probeFlips = 7))
    val (cS, cM) = (candidates(5, 0), candidates(8, 7))
    info(f"single-probe 4x5b: recall@3=$single%.3f candidates=$cS")
    info(f"multi-probe  4x8b+7flips: recall@3=$multi%.3f candidates=$cM")
    // budgets comparable (within 2× either way), and recall strictly up —
    // everything is md5-deterministic, so these are stable measurements
    assert(cM <= cS * 2 && cS <= cM * 2,
      s"candidate budgets not comparable: $cS vs $cM")
    assert(multi > single,
      f"multi-probe recall $multi%.3f did not beat single-probe $single%.3f")
  }

  test("persisted cell-bucketed IVF index: bucket-pruned probes, no exchange on cell") {
    val emb = Tables.embeddings(spark, dir)
    val cents = (0 until 16).map(c => Similarity.centroidVec(c, 64)).toArray
    val tbl = "ivf_index_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    Similarity.ivfIndex(emb, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("v"), col("vn"), col("cell"))
      .write.bucketBy(8, "cell").sortBy("cell").format("parquet").saveAsTable(tbl)
    val t = spark.table(tbl)
    // autoBucketedScan (on by default) falls back to a plain scan for
    // queries with no join/agg, hiding the pruning we're demonstrating —
    // a real probe pipeline keeps it on and still benefits on the rank agg
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
    // (a) a probe's cell filter prunes BUCKETS at scan time — only the
    // matching files are read, which is the "probe reads only its cells"
    // claim made in the ivfTopK scaladoc
    val pruned = t.filter(col("cell").isin(1, 5))
    val scanPlan = pruned.queryExecution.executedPlan.toString
    info("probe scan: " + scanPlan.linesIterator
      .find(_.contains("SelectedBucketsCount")).getOrElse("<missing>").trim)
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
    val m = sel.findFirstMatchIn(scanPlan)
    assert(m.isDefined, s"no bucket pruning in plan:\n$scanPlan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      "cell IN (...) did not prune any buckets")
    // (b) work keyed on `cell` consumes the table's hash distribution —
    // zero Exchange in the whole aggregation plan
    val aggPlan = t.groupBy(col("cell")).count().queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"),
      s"groupBy(cell) over the bucketed index still shuffles:\n$aggPlan")
    } finally {
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("IVF lifecycle: centroids round-trip bit-exact, reopened index answers probes identically") {
    import graft.tools.Catalog
    val emb = Tables.embeddings(spark, dir)
    val out = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val table = Catalog.pathTable("graft_ivf", out)
    // BUILD: train 1 Lloyd pass, persist centroids + cell-bucketed index
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    val trained = Similarity.trainCentroidsExactMatrix(emb, "vec_id",
      "embedding", dims, 16, 1)
    Similarity.saveCentroids(spark, trained, s"$out/centroids.parquet")
    Catalog.save(Similarity.ivfIndex(emb, "vec_id", "embedding", trained),
      table, s"$out/index", 8, "cell")
    // (a) the persisted matrix reloads BIT-exact — one flipped ulp in a
    // centroid can flip an argmax assignment and silently degrade recall
    val reloaded = Similarity.loadCentroids(spark, s"$out/centroids.parquet")
    assert(reloaded.length === trained.length)
    assert(reloaded.zip(trained).forall { case (a, b) =>
      a.length == b.length &&
        a.zip(b).forall { case (x, y) =>
          java.lang.Double.doubleToRawLongBits(x) ==
            java.lang.Double.doubleToRawLongBits(y) } },
      "reloaded centroid matrix differs from the trained one")
    // (b) a FRESH session's view: drop the catalog entry, re-register the
    // files via the bucketed DDL, and probe — answers must be identical to
    // building the index from scratch with the same quantizer
    val reopened = Catalog.open(spark, table, s"$out/index", 8, "cell")
    val fresh = Similarity.ivfTopKWith(emb, "vec_id", "embedding", reloaded,
      nprobe = 2, k = 3, queryPred = pred)
    val served = Similarity.ivfProbe(reopened, nprobe = 2, k = 3, queryPred = pred)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val (f, s) = (key(fresh), key(served))
    assert(f === s, s"reopened-index probe diverged: ${(f diff s) ++ (s diff f)}")
    assert(f.nonEmpty, "probe returned no rows — vacuous comparison")
    // (c) the reopened table still bucket-prunes a probe's cell filter
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val plan = reopened.filter(col("cell").isin(1, 5))
        .queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
        s"reopened index lost bucket pruning:\n$plan")
    } finally {
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("IVF-PQ lifecycle: persisted artifact serves probes identical to the one-shot; " +
      "reopened table bucket-prunes; codebooks round-trip bit-exact") {
    import graft.tools.IvfPqBuild
    val emb = Tables.embeddings(spark, dir)
    val out = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    val pred = col("vec_id") % 25 === 0
    try {
      // BUILD: encode + persist codes (bucketed by cell), codebooks, params
      val n = IvfPqBuild.build(spark, dir, out, m = 8, ksub = 16,
        centroids = 16, buckets = 8)
      assert(n === emb.count() * 8, "code rows = vectors x m subspaces")
      // codebooks round-trip bit-exact against the formula quantizers
      val cents = Similarity.loadCentroids(spark, s"$out/centroids.parquet")
      (0 until 16).foreach { c =>
        assert(cents(c).toSeq === Similarity.centroidVec(c, 64).toSeq,
          s"coarse centroid $c drifted through persistence")
      }
      val pq = IvfPqBuild.loadPqCodebook(spark, out)
      assert(pq.size === 8 * 16)
      assert(pq((3, 7)).toSeq === Similarity.pqCentroidVec(3, 7, 8).toSeq,
        "PQ codebook entry drifted through persistence")
      // PROBE from the persisted artifact (loaded codebooks, reopened
      // bucketed codes) == the one-shot ivfPqTopK: same micro-snapped
      // ADC sums, same tie-breaks
      val fresh = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        dims = 64, m = 8, ksub = 16, centroids = 16, nprobe = 2, k = 3,
        queryPred = pred)
      val served = IvfPqBuild.probe(spark, out, emb.filter(pred),
        "vec_id", "embedding", nprobe = 2, k = 3)
      def key(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "vec_id", "adc_micro", "rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getInt(3))).toSet
      val (f, s) = (key(fresh), key(served))
      assert(f === s, s"reopened IVF-PQ probe diverged: ${(f diff s) ++ (s diff f)}")
      assert(f.nonEmpty, "probe returned no rows — vacuous comparison")
      // reopened table: bucket pruning + exchange-free cell aggregation
      val reopened = IvfPqBuild.openIndex(spark, out)
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      try {
        val plan = reopened.filter(col("cell").isin(1, 5))
          .queryExecution.executedPlan.toString
        val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
        assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
          s"reopened IVF-PQ index lost bucket pruning:\n$plan")
        val aggPlan = reopened.groupBy(col("cell")).count()
          .queryExecution.executedPlan.toString
        assert(!aggPlan.contains("Exchange"),
          s"groupBy(cell) over the bucketed codes still shuffles:\n$aggPlan")
      } finally {
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${IvfPqBuild.tableName(out)}")
    }
  }

  test("IVF-PQ warm serve loop: batches answered from one artifact open equal " +
      "the direct probe; killed-server resume skips answered batches") {
    import graft.tools.IvfPqBuild
    val emb = Tables.embeddings(spark, dir)
    val out = java.nio.file.Files.createTempDirectory("graft-ivfpq-srv").toString
    val req = java.nio.file.Files.createTempDirectory("graft-ivfpq-req").toString
    val pred = col("vec_id") % 25 === 0
    try {
      IvfPqBuild.build(spark, dir, out, m = 8, ksub = 16,
        centroids = 16, buckets = 8)
      // two request batches dropped as finished parquet dirs
      val q1 = emb.filter(pred && col("vec_id") % 2 === 0)
      val q2 = emb.filter(pred && col("vec_id") % 2 === 1)
      q1.write.parquet(s"$req/in/b1")
      q2.write.parquet(s"$req/in/b2")
      java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$req/stop"))
      val served = IvfPqBuild.serve(spark, out, req, "vec_id", "embedding",
        nprobe = 2, k = 3)
      assert(served === 2, s"expected 2 batches served, got $served")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "vec_id", "adc_micro", "rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getInt(3))).toSet
      val loop = key(spark.read.parquet(s"$req/out/b1"))
        .union(key(spark.read.parquet(s"$req/out/b2")))
      val direct = key(IvfPqBuild.probe(spark, out, emb.filter(pred),
        "vec_id", "embedding", nprobe = 2, k = 3))
      assert(loop === direct && loop.nonEmpty,
        s"warm-loop results diverged from the direct probe: " +
          s"${(loop diff direct) ++ (direct diff loop)}")
      // resume semantics: a restarted server re-answers ONLY unanswered
      // requests — b1/b2 already carry _SUCCESS outputs, b3 is new
      emb.filter(pred && col("vec_id") % 3 === 0).write.parquet(s"$req/in/b3")
      val resumed = IvfPqBuild.serve(spark, out, req, "vec_id", "embedding",
        nprobe = 2, k = 3)
      assert(resumed === 1, s"resume must serve only the new batch: $resumed")
      // TWO-STAGE LEG (VERDICT r16 #1): a rerank-configured warm server
      // answers exactly the direct two-stage probe — same shortlist,
      // same exact-cosine re-rank against the staged raws
      val rawsPath = s"$dir/embeddings.parquet"
      val q4 = emb.filter(pred && col("vec_id") % 5 === 0)
      q4.write.parquet(s"$req/in/b4")
      val served2 = IvfPqBuild.serve(spark, out, req, "vec_id", "embedding",
        nprobe = 2, k = 3, rerank = 10, rawsDir = rawsPath)
      assert(served2 === 1, s"two-stage resume must serve only b4: $served2")
      def ckey(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "vec_id", "cosine", "rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
            r.getInt(3))).toSet
      val loop2 = ckey(spark.read.parquet(s"$req/out/b4"))
      val direct2 = ckey(IvfPqBuild.probe(spark, out, q4,
        "vec_id", "embedding", nprobe = 2, k = 3,
        rerank = 10, rawsDir = rawsPath))
      assert(loop2 === direct2 && loop2.nonEmpty,
        "two-stage warm-loop results diverged from the direct two-stage probe")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${IvfPqBuild.tableName(out)}")
    }
  }

  test("trained Auto dispatches: bit-identical to the fixed C=16 forms under the hold") {
    // the F11 discipline on the r13 trained family: under the 4096-row
    // hold the Auto wrappers must return EXACTLY the fixed registration
    // (the oracle shape) — the sizing engages only above it
    val emb = Tables.embeddings(spark, dir)
    val trained = Similarity.trainCentroidsExactMatrix(emb, "vec_id",
      "embedding", dims = 64, centroids = 16, iterations = 2)
    val fixedSearch = Similarity.ivfTopKWith(emb, "vec_id", "embedding",
      trained, nprobe = 2, k = 3, queryPred = pred)
    val autoSearch = Similarity.trainedIvfTopKAuto(emb, "vec_id", "embedding",
      dims = 64, floorCentroids = 16, iterations = 2, nprobe = 2, k = 3,
      queryPred = pred)
    assert(autoSearch.exceptAll(fixedSearch).isEmpty &&
      fixedSearch.exceptAll(autoSearch).isEmpty)
    val fixedDedup = Similarity.semanticDedupWith(emb, "vec_id", "embedding",
      trained, minCosine = 0.2)
    val autoDedup = Similarity.trainedSemanticDedupAuto(emb, "vec_id",
      "embedding", dims = 64, floorCentroids = 16, iterations = 2,
      minCosine = 0.2)
    assert(autoDedup.exceptAll(fixedDedup).isEmpty &&
      fixedDedup.exceptAll(autoDedup).isEmpty)
  }

  test("exact Lloyd step: complete per-cell dims, conserved mass, partitioning-invariant") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val nVecs = emb.count()
    val rows = Similarity.refineCentroidsExact(emb, "vec_id", "embedding",
        dims = 64, centroids = 16)
      .select($"cell", $"i", $"n_members", $"m_micro", $"m")
      .as[(Long, Long, Long, Long, Double)].collect()
    // every populated cell carries all 64 dims with one consistent count,
    // and the counts partition the corpus (each vector in exactly one cell)
    val byCell = rows.groupBy(_._1)
    byCell.foreach { case (c, rs) =>
      assert(rs.map(_._2).toSet === (0L until 64L).toSet, s"cell $c missing dims")
      assert(rs.map(_._3).toSet.size === 1, s"cell $c has inconsistent counts")
    }
    assert(byCell.values.map(_.head._3).sum === nVecs)
    // the snapped mean is the claimed pure function of (m_micro, n)
    rows.foreach { case (_, _, n, mm, m) =>
      assert(m === mm.toDouble / (n.toDouble * 1e6))
    }
    // order-independence: the integer micro-sums must survive any layout
    val re = Similarity.refineCentroidsExact(emb.repartition(13), "vec_id",
        "embedding", dims = 64, centroids = 16)
      .select($"cell", $"i", $"n_members", $"m_micro", $"m")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.sortBy(r => (r._1, r._2)).toSeq === re.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("lshTopKBanded: the equi-join plan returns EXACTLY lshTopK's rows, incl. multi-probe") {
    val emb = Tables.embeddings(spark, dir)
    for (flips <- Seq(0, 2)) {
      val bnl = Similarity.lshTopK(emb, "vec_id", "embedding",
        dims = 64, bands = 4, rowsPerBand = 5, k = 3, queryPred = pred,
        probeFlips = flips)
      val eq = Similarity.lshTopKBanded(emb, "vec_id", "embedding",
        dims = 64, bands = 4, rowsPerBand = 5, k = 3, queryPred = pred,
        probeFlips = flips)
      assert(eq.exceptAll(bnl).isEmpty && bnl.exceptAll(eq).isEmpty,
        s"banded equi-join diverged from the broadcast plan at probeFlips=$flips")
    }
  }

  test("lshTopKAuto: lshTopK's shape through AnnHoldRows, banded join past it") {
    val emb = Tables.embeddings(spark, dir)
    val fixed = Similarity.lshTopK(emb, "vec_id", "embedding",
      dims = 64, bands = 4, rowsPerBand = 5, k = 3, queryPred = pred)
    val auto = Similarity.lshTopKAuto(emb, "vec_id", "embedding",
      dims = 64, bands = 4, floorRowsPerBand = 5, k = 3, queryPred = pred)
    assert(auto.exceptAll(fixed).isEmpty && fixed.exceptAll(auto).isEmpty)
    // the shared engage point, pinned from the lshTopKAuto side: a corpus
    // of exactly AnnHoldRows rows keeps the nested-loop plan, one more
    // row drops it, and adaptiveCentroids leaves its floor at that same n
    def synth(n: Long) = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => sin(col("id") * 7 + i).cast("float")).as("embedding"))
    def plan(n: Long): String = Similarity.lshTopKAuto(synth(n), "vec_id",
        "embedding", dims = 64, bands = 4, floorRowsPerBand = 5, k = 3,
        queryPred = pred)
      .queryExecution.executedPlan.toString
    val hold = Sizing.AnnHoldRows
    assert(plan(hold).contains("BroadcastNestedLoopJoin"))
    assert(!plan(hold + 1).contains("BroadcastNestedLoopJoin"))
    assert(Similarity.adaptiveCentroids(hold, 16) == 16)
    assert(Similarity.adaptiveCentroids(hold + 1, 16) > 16)
  }

  test("adaptiveCentroids: floor through the 4096-row hold, ~sqrt(n) power of two above, capped") {
    assert(Similarity.adaptiveCentroids(500, 16) == 16)    // sf0.001/sf0.01 oracle scales
    assert(Similarity.adaptiveCentroids(2000, 16) == 16)   // sf0.1 — still the oracle shape
    assert(Similarity.adaptiveCentroids(4096, 16) == 16)   // the shared engage point
    assert(Similarity.adaptiveCentroids(4097, 16) == 64)   // first n past the hold: 2*64^2 >= n
    assert(Similarity.adaptiveCentroids(20000, 16) == 128) // x10 study point
    assert(Similarity.adaptiveCentroids(200000, 16) == 512)// x100 study point
    assert(Similarity.adaptiveCentroids(Long.MaxValue / 2, 16) == 4096) // cap
  }

  test("ivfPqTopK: cell-pruned ADC scores agree with the exhaustive q158 scan") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val qp = col("vec_id") % 25 === 0
    val full = Similarity.pqAdcTopK(emb, "vec_id", "embedding",
        dims = 64, m = 4, ksub = 8, queryPred = qp, k = Int.MaxValue)
      .select($"query_id", $"vec_id", $"adc_micro")
    val pruned = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      dims = 64, m = 4, ksub = 8, centroids = 16, nprobe = 2, k = 10,
      queryPred = qp)
    // every pruned (query, vec) pair carries the SAME micro-snapped ADC sum
    // the exhaustive scan assigns it — pruning changes the candidate set,
    // never a score
    val joined = pruned.as("p").join(full.as("f"),
      Seq("query_id", "vec_id"), "left")
    assert(joined.filter($"f.adc_micro".isNull ||
      $"p.adc_micro" =!= $"f.adc_micro").isEmpty,
      "an IVF-PQ candidate scored differently from the exhaustive ADC scan")
    // and pruning actually prunes: nprobe=2 of 16 cells keeps the top-10
    // list non-empty for every query while scanning a fraction of codes
    val nq = emb.filter(qp).count()
    assert(pruned.select("query_id").distinct().count() == nq)
    // the auto-sized registration is the fixed call at every oracle scale
    val auto = Similarity.ivfPqTopKAuto(emb, "vec_id", "embedding",
      dims = 64, m = 4, ksub = 8, floorCentroids = 16, nprobe = 2, k = 10,
      queryPred = qp)
    assert(auto.exceptAll(pruned).isEmpty && pruned.exceptAll(auto).isEmpty)
    // build-once/probe-many lifecycle answers identically: an external
    // probe of the persisted-index shape == the one-shot composition
    val idx = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
      dims = 64, m = 4, ksub = 8, centroids = 16)
    val served = Similarity.ivfPqProbe(idx, emb.filter(qp), "vec_id",
      "embedding", dims = 64, m = 4, ksub = 8, centroids = 16, nprobe = 2,
      k = 10)
    assert(served.exceptAll(pruned).isEmpty && pruned.exceptAll(served).isEmpty)
  }

  test("trained-residual IVFADC: recall curve is non-decreasing in nprobe and beats the raw-formula curve (VERDICT r14 #1)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val qp = col("vec_id") % 25 === 0
    // round-0 contract: zero iterations IS the formula codebook — the
    // trained family starts from the same seeded directions everywhere
    val cb0 = Similarity.trainPqResidualMatrix(emb, "vec_id", "embedding",
      dims = 64, m = 4, ksub = 8,
      (0 until 16).map(c => Similarity.centroidVec(c, 64)).toArray,
      iterations = 0)
    for (s <- 0 until 4; c <- 0 until 8)
      assert(cb0(s)(c).sameElements(Similarity.pqCentroidVec(s, c, 16)))
    // the q219 done-criterion: with BOTH quantizers trained and codes
    // on residuals, widening the probe budget never LOSES recall (the
    // raw-formula q213 curve falls — its lossy ranker mis-orders the
    // extra candidates), and the trained curve dominates pointwise
    val trained = Similarity.ivfPqResidualRecallCurve(emb, "vec_id",
        "embedding", dims = 64, m = 4, ksub = 8, centroids = 16,
        coarseIters = 2, pqIters = 2, nprobes = Seq(1, 2, 4), k = 10,
        queryPred = qp)
      .orderBy("nprobe").select("recall_micro").as[Long].collect()
    assert(trained.sliding(2).forall(p => p(0) <= p(1)),
      s"trained-residual recall must be non-decreasing in nprobe: ${trained.toSeq}")
    val raw = Similarity.ivfPqRecallCurve(emb, "vec_id", "embedding",
        dims = 64, m = 4, ksub = 8, centroids = 16,
        nprobes = Seq(1, 2, 4), k = 10, queryPred = qp)
      .orderBy("nprobe").select("recall_micro").as[Long].collect()
    assert(trained.zip(raw).forall { case (t, r) => t > r },
      s"trained-residual curve must dominate the raw-formula curve: ${trained.toSeq} vs ${raw.toSeq}")
    // cell pruning changes the candidate set, never a score: every
    // nprobe=2 pair carries the SAME adc_micro the all-cells probe
    // assigns it (the ivfPqTopK consistency pin, residual flavor)
    val cents = Similarity.trainCentroidsExactMatrix(emb, "vec_id",
      "embedding", dims = 64, centroids = 16, iterations = 2)
    val pq = Similarity.trainPqResidualMatrix(emb, "vec_id", "embedding",
      dims = 64, m = 4, ksub = 8, cents, iterations = 2)
    val pruned2 = Similarity.ivfPqResidualTopK(emb, "vec_id", "embedding",
      dims = 64, m = 4, ksub = 8, cents, (s, c) => pq(s)(c),
      nprobe = 2, k = 10, queryPred = qp)
    val full = Similarity.ivfPqResidualTopK(emb, "vec_id", "embedding",
        dims = 64, m = 4, ksub = 8, cents, (s, c) => pq(s)(c),
        nprobe = 16, k = Int.MaxValue, queryPred = qp)
      .select($"query_id", $"vec_id", $"adc_micro")
    val joined = pruned2.as("p").join(full.as("f"),
      Seq("query_id", "vec_id"), "left")
    assert(joined.filter($"f.adc_micro".isNull ||
      $"p.adc_micro" =!= $"f.adc_micro").isEmpty,
      "a residual-IVFADC candidate scored differently under pruning")
  }

  test("two-stage re-rank: exact second stage lifts recall at matched candidate budget (VERDICT r16 #1)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val qp = col("vec_id") % 25 === 0
    val truthFull = Similarity.bruteForceTopK(emb, emb.filter(qp),
      "vec_id", "embedding", k = 10).localCheckpoint(true)
    val truth = truthFull.select($"query_id", $"vec_id")
    def recall(got: org.apache.spark.sql.DataFrame): Long =
      got.select($"query_id", $"vec_id")
        .join(truth, Seq("query_id", "vec_id"), "left_semi").count()
    // MATCHED candidate budget: both paths read exactly the nprobe=2
    // probed cells; the only difference is the ranking signal (32-bit
    // ADC vs exact cosine on the R=50 shortlist)
    val plain = Similarity.ivfPqResidualTrainedTopK(emb, "vec_id",
      "embedding", dims = 64, m = 4, ksub = 8, centroids = 16,
      coarseIters = 2, pqIters = 2, nprobe = 2, k = 10, queryPred = qp)
    val rr = Similarity.ivfPqResidualRerankTopK(emb, "vec_id", "embedding",
      dims = 64, m = 4, ksub = 8, centroids = 16, coarseIters = 2,
      pqIters = 2, nprobe = 2, shortlist = 50, k = 10, queryPred = qp)
    val (rp, rre) = (recall(plain), recall(rr))
    assert(rre > rp,
      s"exact re-rank must lift recall at the same probe budget: $rre vs $rp of ${truth.count()}")
    // ceiling pin: every cell probed + a corpus-wide shortlist makes
    // the two-stage path brute force EXACTLY (same cosine convention,
    // same tie-breaks — rows identical, not just recall-equal)
    val full = Similarity.ivfPqResidualRerankTopK(emb, "vec_id", "embedding",
      dims = 64, m = 4, ksub = 8, centroids = 16, coarseIters = 2,
      pqIters = 2, nprobe = 16, shortlist = 500, k = 10, queryPred = qp)
    assert(full.collect().map(_.toSeq).toSet ===
      truthFull.collect().map(_.toSeq).toSet,
      "all-cells + full shortlist must degenerate to brute-force truth")
  }

  test("ivfPqProbe: a past-cap query batch fails with the named error, never a driver OOM (VERDICT r14 #4)") {
    val emb = Tables.embeddings(spark, dir)
    val idx = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
      dims = 64, m = 4, ksub = 8, centroids = 16)
    // 2000 synthetic queries against a 1-byte budget: the cap floors at
    // 1024 rows, so the batch is past-cap — the guard must refuse with
    // the named message, and limit(cap+1) means the driver never held
    // more than cap+1 rows while deciding
    val big = spark.range(2000).select(col("id").as("vec_id"),
      array((0 until 64).map(i =>
        ((col("id") % 7) + lit(i)).cast("double")): _*).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqProbe(idx, big, "vec_id", "embedding",
        dims = 64, m = 4, ksub = 8, centroids = 16, nprobe = 2, k = 3,
        collectBudgetBytes = 1L).count()
    }
    assert(e.getMessage.contains("serve-sized cap"),
      s"expected the named serve-sized-cap error, got: ${e.getMessage}")
    // the cap counts the distance table too: at 2 MiB the collected rows
    // alone admit 3276 queries, but 2000 queries × nprobe 2 × m·ksub 32
    // table rows are past the budget — both encodings must refuse
    val cents = (0 until 16).map(c => Similarity.centroidVec(c, 64)).toArray
    val pqCb = (s: Int, c: Int) => Similarity.pqCentroidVec(s, c, 16)
    assert(Similarity.probeQueryCap(64, 16, 2L << 20) > 2000)
    Seq(
      () => Similarity.ivfPqProbe(idx, big, "vec_id", "embedding",
        dims = 64, m = 4, ksub = 8, centroids = 16, nprobe = 2, k = 3,
        collectBudgetBytes = 2L << 20),
      () => Similarity.ivfPqResidualProbe(idx, big, "vec_id", "embedding",
        dims = 64, m = 4, ksub = 8, centroids = 16, nprobe = 2, k = 3,
        coarseCodebook = cents, pqCodebook = pqCb,
        collectBudgetBytes = 2L << 20)
    ).foreach { probe =>
      val t = intercept[IllegalArgumentException](probe().count())
      assert(t.getMessage.contains("serve-sized cap"),
        s"a past-budget distance table must fail with the named error, got: ${t.getMessage}")
    }
    // the cap scales with the collected ROW WIDTH (dims + centroids
    // doubles): a √N-sized quantizer at a 2M corpus shrinks it ~18×
    // vs the floor-held shape — a fixed row cap would blow the budget
    assert(Similarity.probeQueryCap(64, 16, 256L << 20) >
      Similarity.probeQueryCap(64, 1414, 256L << 20))
    assert(Similarity.probeQueryCap(64, 16, 1L) == 1024) // row floor
  }

  test("adaptive band width: floor below target occupancy, widens ~log2(n) above, capped") {
    // registered small-scale shapes stay put: sf0.1's 2k vectors at
    // floor 5 are already under 128/bucket
    assert(Similarity.adaptiveRowsPerBand(2000, 5) == 5)
    assert(Similarity.adaptiveRowsPerBand(4096, 5) == 5)     // 4096/32 = 128, at target
    assert(Similarity.adaptiveRowsPerBand(4128, 5) == 6)     // first n whose occupancy exceeds 128
    assert(Similarity.adaptiveRowsPerBand(20000, 5) == 8)    // x10 study point
    assert(Similarity.adaptiveRowsPerBand(200000, 5) == 11)  // x100 study point
    assert(Similarity.adaptiveRowsPerBand(Long.MaxValue / 4, 5) == 24) // cap
    assert(Similarity.adaptiveRowsPerBand(10, 5) == 5)       // never below floor
  }

  test("oracle-SF embeddings stay under the adaptive floor threshold (ADVICE r12)") {
    // q49/q54/q77/q209 register the occupancy-adaptive Auto wrappers
    // against FIXED 5-bit-width SQL oracles; equivalence silently
    // depends on every oracle-scale embeddings table staying at or
    // under 4096 rows (targetOccupancy << floorRowsPerBand = 128·32),
    // where adaptiveRowsPerBand still picks the floor. Enforce the
    // bound here so a future larger test corpus fails THIS spec with
    // the reason spelled out, not the driver gate with a hash mismatch.
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val p = s"/root/testdata/$sf/embeddings.parquet"
      if (new java.io.File(p).exists()) {
        val n = spark.read.parquet(p).count()
        assert(n <= 4096L,
          s"$sf embeddings has $n rows > 4096: the Auto LSH wrappers would " +
            "widen past the fixed 5-bit oracle width — re-render the " +
            "q49/q54/q77/q209 oracles at adaptiveRowsPerBand(n, 5) bits")
        assert(Similarity.adaptiveRowsPerBand(n, 5) == 5)
      }
    }
  }

  test("broadcast join-back returns exactly the shuffle join-back's pairs") {
    // the F9 scale path (engaged by Auto past 64k rows) is a plan-only
    // change — pin result parity on the flag itself
    val emb = Tables.embeddings(spark, dir)
    val shuffled = Similarity.lshNeighborPairs(emb, "vec_id", "embedding",
      dims = 64, bands = 4, rowsPerBand = 5, minCosine = 0.2,
      broadcastVectors = false)
    val bcast = Similarity.lshNeighborPairs(emb, "vec_id", "embedding",
      dims = 64, bands = 4, rowsPerBand = 5, minCosine = 0.2,
      broadcastVectors = true)
    assert(bcast.exceptAll(shuffled).isEmpty && shuffled.exceptAll(bcast).isEmpty)
    // the memory contract behind the Auto gate (ADVICE r11): the two
    // join-backs (A/B aliases of the SAME (id, v, vn) projection) must
    // share ONE broadcast exchange via ReusedExchange, or peak executor
    // broadcast memory is 2× what the gate sized. Execute THIS df's own
    // QueryExecution (collect, not a .write — that plans a separate
    // QueryExecution whose AQE stages never finalize) and read the final
    // adaptive plan: the section before "Initial Plan" must carry a
    // ReusedExchange for the join-back mode.
    bcast.collect()
    val plan = bcast.queryExecution.executedPlan.toString
    val finalSection = plan.split("Initial Plan")(0)
    val reused = finalSection.linesIterator.count(_.contains("ReusedExchange"))
    assert(reused >= 1,
      s"expected the second join-back to be a ReusedExchange in the final AQE plan:\n$finalSection")
  }

  test("lshNeighborPairsAuto is bit-identical to the fixed call under the threshold") {
    val emb = Tables.embeddings(spark, dir)
    val fixed = Similarity.lshNeighborPairs(emb, "vec_id", "embedding",
      dims = 64, bands = 4, rowsPerBand = 5, minCosine = 0.2)
    val auto = Similarity.lshNeighborPairsAuto(emb, "vec_id", "embedding",
      dims = 64, bands = 4, floorRowsPerBand = 5, minCosine = 0.2)
    assert(auto.exceptAll(fixed).isEmpty && fixed.exceptAll(auto).isEmpty)
  }

  test("semantic dedup: identical cell-mates collapse to the lowest id") {
    import spark.implicits._
    val e1 = Array(1.0f) ++ Array.fill(7)(0.0f)
    val e2 = Array(0.0f, 1.0f) ++ Array.fill(6)(0.0f)
    val vecs = Seq((1L, e1), (2L, e1), (3L, e1), (9L, e2))
      .toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        dims = 8, centroids = 4, minCosine = 0.2)
      .select($"vec_id").as[Long].collect().toSet
    // the three identical vectors share a cell (same argmax) and cos=1:
    // only id 1 survives; the orthogonal vector is nobody's near-dup
    assert(kept === Set(1L, 9L))
  }

  test("raising nprobe monotonically recovers brute-force recall") {
    val emb = Tables.embeddings(spark, dir)
    val rs = Seq(1, 4, 16).map { np =>
      recallOf(Similarity.ivfTopK(emb, "vec_id", "embedding",
        dims = 64, centroids = 16, nprobe = np, k = 3, queryPred = pred))
    }
    info(s"IVF recall@3 by nprobe(1,4,16): ${rs.map(r => f"$r%.3f").mkString(", ")}")
    assert(rs(0) <= rs(1) + 1e-9 && rs(1) <= rs(2) + 1e-9,
      s"recall not monotone in nprobe: $rs")
    assert(math.abs(rs(2) - 1.0) < 1e-9,
      s"probing every cell must reproduce brute force exactly, got ${rs(2)}")
  }
}
