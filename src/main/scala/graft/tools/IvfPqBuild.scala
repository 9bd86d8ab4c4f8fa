package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.sim.Similarity
import graft.storage.{Fs, ParquetCompact}
import graft.streaming.StreamingIngest

/** Offline IVF-PQ index lifecycle for the IVFADC serving path
  * (VERDICT r11 #2). The r11 scale study measured WHY this tool
  * exists: the one-shot `ivfPqTopK` is build-dominated
  * (the N·K assignment + PQ encode is 32.0 s of the 35.8 s ×100 run),
  * while serving 80 queries on a PREBUILT index is 0.62/0.70/1.05 s
  * across ×1/×10/×100 — near-flat over 100× corpus growth (SCALE.md
  * §4). What a deployment therefore persists is exactly this split:
  *
  *  - `build`: materialize [[Similarity.ivfPqIndex]] — (vec_id, cell,
  *    subspace, code), m·log2(ksub) bits + a cell id per vector — as a
  *    CELL-BUCKETED parquet table (probes bucket-prune to their nprobe
  *    cells; cell-keyed work consumes the hash distribution with no
  *    index-side exchange), plus BOTH codebooks (coarse centroids and
  *    the m×ksub PQ sub-codebooks) and a params row, so the artifact is
  *    self-describing.
  *  - `probe`: a NEW session re-registers the bucketed DDL (the bucket
  *    spec lives in the catalog, not the files — [[Catalog.open]]),
  *    loads BOTH codebooks from the artifact, and serves external
  *    raw-vector queries through [[Similarity.ivfPqServe]] (passing the
  *    artifact's encoding) with zero corpus-side assignment or encode
  *    work at query time.
  *
  * SimilaritySpec pins: reopened-probe parity against the one-shot
  * `ivfPqTopK` (same micro-snapped ADC sums, same tie-breaks), bucket
  * pruning on the reopened table (`SelectedBucketsCount`), exchange-free
  * cell aggregation, and codebook round-trip bit-exactness.
  *
  * Usage:
  *   runMain graft.tools.IvfPqBuild build <sfDir> <outDir> [m=8] [ksub=16] [C=16] [buckets=8]
  *   runMain graft.tools.IvfPqBuild retrain <rawsDir> <outDir> [iters=2]
  *   runMain graft.tools.IvfPqBuild probe <sfDir> <outDir> [nprobe=2] [k=3] [reps=1]
  *   runMain graft.tools.IvfPqBuild serve <reqDir> <outDir> [nprobe=2] [k=3] [rerank=0] [rawsDir]
  *   runMain graft.tools.IvfPqBuild ingesttick <stagingDir> <outDir> [nprobe=2] [k=3]
  *   runMain graft.tools.IvfPqBuild compact - <outDir> [maxFilesPerBucket=4]
  *
  * Measured at ×100 (200k vectors, C=512, m=8 — SCALE.md §10): build
  * 27.8 s one-off; fresh-session first serve 10.3 s (SparkSession +
  * kernel codegen + artifact open — the F4 compile term, paid once per
  * serving process); steady-state 2.2–2.6 s per 80-query batch, each
  * rep re-opening the artifact end to end — 12× under even the
  * fixed-workload exhaustive ADC scan (29.3 s, §4), 160× under the
  * registered q158 shape.
  */
object IvfPqBuild {

  def tableName(outDir: String): String =
    Catalog.pathTable("graft_ivfpq", outDir)

  def loadPqCodebook(spark: SparkSession, outDir: String): Map[(Int, Int), Array[Double]] =
    spark.read.parquet(s"$outDir/pq_codebook.parquet")
      .select(col("subspace"), col("code"), col("cv"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
      .toMap

  /** `encoding` is the quantization family the codes were written
    * under: "raw" (formula codebooks over raw subvectors — `build`) or
    * "residual" (trained codebooks over x − q1(x) — `retrain`, the
    * published IVFADC). Encode and probe both pass it to Similarity
    * ([[Similarity.ivfPqEncode]], [[Similarity.ivfPqServe]]), so a tick
    * can never append raw-encoded codes into a residual-encoded table;
    * artifacts from before the column read as "raw". */
  case class Params(dims: Int, m: Int, ksub: Int, centroids: Int,
                    buckets: Int, encoding: String)

  def loadParams(spark: SparkSession, outDir: String): Params = {
    val df = spark.read.parquet(s"$outDir/params.parquet")
    val r = df.head()
    val enc = if (df.columns.contains("encoding"))
      r.getAs[String]("encoding") else "raw"
    require(enc == "raw" || enc == "residual", s"unknown index encoding '$enc'")
    Params(r.getAs[Int]("dims"), r.getAs[Int]("m"), r.getAs[Int]("ksub"),
      r.getAs[Int]("centroids"), r.getAs[Int]("buckets"), enc)
  }

  /** Encode + persist: bucketed code table, coarse centroids, PQ
    * codebooks, params — plus (VERDICT r13 #6) a FROZEN held-out eval
    * set: a deterministic query sample (`vec_id % heldoutMod`) with its
    * exact build-corpus top-10 truth, so every later [[ingestTick]] can
    * measure what the grown index still retrieves of it (the standard
    * frozen-eval-set recall practice; a codes-only artifact cannot
    * recompute exact truth later — the raw corpus isn't carried).
    * Returns the row count written.
    */
  def build(spark: SparkSession, sfDir: String, outDir: String,
            m: Int = 8, ksub: Int = 16, centroids: Int = 16,
            buckets: Int = 8, heldoutMod: Int = 97): Long = {
    val emb = Tables.embeddings(spark, sfDir)
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    val cents = (0 until centroids)
      .map(c => Similarity.centroidVec(c, dims)).toArray
    persistArtifact(spark, emb, outDir, cents,
      (s, c) => Similarity.pqCentroidVec(s, c, dims / m),
      dims, m, ksub, buckets, encoding = "raw", heldoutMod = heldoutMod)
  }

  /** EXECUTABLE RETRAIN for a stale artifact (VERDICT r14 #2 — the
    * ingestTick staleness signals used to end in a dead-end "retrain
    * via 'build'" message). When the √N dial or the held-out recall
    * floor fires, run `retrain <rawsDir> <outDir>`:
    *
    *  - `rawsDir` is the CURRENT raw corpus — the deployment's
    *    source-of-truth (vec_id, embedding) table (original corpus +
    *    everything the ticks staged). Re-encoding N codes requires N
    *    raw vectors no matter how codebooks are derived; the index was
    *    never the only copy of the raws (the staged-raws contract,
    *    stated instead of assumed).
    *  - what the ARTIFACT contributes is the bounded deterministic
    *    TRAINING SAMPLE persisted at build time (`train_sample`, the
    *    q71 md5-rank idiom) — unioned with an equally-bounded fresh
    *    sample of the raws, the trainers see the built-time AND the
    *    drifted distribution without a corpus-sized training input.
    *
    * Steps: C = adaptiveCentroids(N, built C) — the dial the √N signal
    * asked for; coarse codebook = `iters` snapped Lloyd rounds on the
    * sample; PQ codebooks = `iters` snapped residual-Lloyd rounds on
    * the sample (the published IVFADC — trained codebooks over
    * x − q1(x), the q218 configuration); ONE corpus pass re-encodes
    * all raws residually into a fresh bucketed table; both codebooks,
    * params (encoding=residual), a NEW training sample, the re-frozen
    * held-out eval set + truth + recall0 baseline, and a reset census
    * all persist — after which ticks and probes run on the
    * residual encoding and the staleness guards measure against the
    * retrained baseline. Returns code rows written.
    */
  def retrain(spark: SparkSession, rawsDir: String, outDir: String,
              iters: Int = 2, sampleCap: Int = 4096,
              heldoutMod: Int = 97): Long = {
    val p = loadParams(spark, outDir)
    val raws = spark.read.parquet(rawsDir)
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .dropDuplicates("vec_id")
    val n = raws.count()
    val c = Similarity.adaptiveCentroids(n, p.centroids)
    System.err.println(s"[ivfpq] retrain: $n raw vectors -> C=$c " +
      s"(built ${p.centroids}), encoding residual")
    // training input: build-time sample ∪ fresh md5-rank sample (both
    // bounded; dedup by id so overlap is harmless)
    val builtSample =
      if (Fs.exists(spark, s"$outDir/train_sample"))
        // normalize on read too: samples persisted before the r16
        // projection fix carry the source table's full column set
        spark.read.parquet(s"$outDir/train_sample")
          .select(col("vec_id").cast("long").as("vec_id"),
            col("embedding").cast("array<double>").as("embedding"))
      else raws.limit(0)
    val freshSample = raws
      .orderBy(graft.text.TextOps.hashPrefix("ivfpqsample|", col("vec_id")),
        col("vec_id"))
      .limit(sampleCap)
    val sample = builtSample.unionByName(freshSample)
      .dropDuplicates("vec_id").localCheckpoint(true)
    val cents = Similarity.trainCentroidsExactMatrix(sample, "vec_id",
      "embedding", p.dims, c, iters)
    val pq = Similarity.trainPqResidualMatrix(sample, "vec_id", "embedding",
      p.dims, p.m, p.ksub, cents, iters)
    persistArtifact(spark, raws, outDir, cents, (s, cc) => pq(s)(cc),
      p.dims, p.m, p.ksub, p.buckets, encoding = "residual",
      heldoutMod = heldoutMod, sampleCap = sampleCap)
  }

  /** The shared persist tail of `build` and `retrain`: bucketed code
    * table (encoded through [[Similarity.ivfPqEncode]]), both codebooks, params
    * (with the encoding), the bounded md5-rank training sample, the
    * frozen held-out eval set + truth + recall0 baseline, and the
    * census. */
  private def persistArtifact(spark: SparkSession, emb: DataFrame,
                              outDir: String, cents: Array[Array[Double]],
                              pqCb: (Int, Int) => Array[Double],
                              dims: Int, m: Int, ksub: Int, buckets: Int,
                              encoding: String, heldoutMod: Int,
                              sampleCap: Int = 4096): Long = {
    import spark.implicits._
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    val centroids = cents.length
    val table = tableName(outDir)
    // pre-partition on the BUCKET spec's own hash (repartition and
    // bucketBy share Murmur3 HashPartitioning) so each task owns whole
    // buckets and the table lands as ~one file per bucket — without
    // this, every upstream task writes a sliver of every bucket and a
    // 512-partition encode shuffle fans out to task×bucket ≈ 11k tiny
    // files, taxing every later listing, scan, and append commit
    Catalog.save(Similarity.ivfPqEncode(emb, "vec_id", "embedding", dims, m,
        ksub, cents, pqCb, residual = encoding == "residual")
      .repartition(buckets, col("cell")), table, s"$outDir/index", buckets, "cell")
    Similarity.saveCentroids(spark, cents, s"$outDir/centroids.parquet")
    (for (s <- 0 until m; cc <- 0 until ksub)
      yield (s, cc, pqCb(s, cc).toSeq)).toDF("subspace", "code", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/pq_codebook.parquet")
    Seq((dims, m, ksub, centroids, buckets, encoding))
      .toDF("dims", "m", "ksub", "centroids", "buckets", "encoding")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/params.parquet")
    // the bounded deterministic training sample that makes a LATER
    // retrain executable (VERDICT r14 #2): md5-rank over vec_id — the
    // q71 idiom, reproducible and distribution-blind. Projected to the
    // retrain CONTRACT (vec_id long, embedding array<double>) before
    // persisting (r16, found by the codebook sweep): the source table
    // carries extra columns and a float embedding, and an unprojected
    // sample made retrain's unionByName with the fresh raws sample fail
    // — invisible until an artifact built WITH a train_sample was
    // actually retrained (the r15 measurement retrained a pre-sample
    // artifact through the empty-sample fallback).
    emb.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .orderBy(graft.text.TextOps.hashPrefix("ivfpqsample|", col("vec_id")),
        col("vec_id"))
      .limit(sampleCap)
      .write.mode("overwrite").parquet(s"$outDir/train_sample")
    if (heldoutMod > 0) {
      // the eval set is BOUNDED (64 queries) regardless of corpus size:
      // the truth pass is |heldout|·N exact dots — a fixed-size sample
      // keeps the build's eval surcharge a constant fraction, and 64
      // queries × k=10 truth rows is plenty of recall resolution
      val hq = emb.filter(col("vec_id") % heldoutMod === 0)
        .orderBy(col("vec_id")).limit(64)
        .localCheckpoint(true)
      hq.write.mode("overwrite").parquet(s"$outDir/heldout/queries")
      Similarity.bruteForceTopK(emb, hq, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("vec_id"), col("rank"))
        .write.mode("overwrite").parquet(s"$outDir/heldout/truth")
      // BUILD-TIME recall at the default serving knobs: the tick's
      // relative staleness floor calibrates against THIS number — the
      // untrained formula quantizer legitimately serves low frozen-set
      // recall at tight nprobe/K, so an absolute floor would read
      // "stale" at zero drift; what staleness means is recall FALLING
      // from where this build started
      val r0 = heldoutRecall(spark, outDir, spark.table(table),
        cents, pqCb, nprobe = 2, k = 3)
      Seq((2, 3, r0)).toDF("nprobe", "k", "recall_micro")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/heldout/recall0")
    }
    val rows = spark.table(table).count()
    // vector census for the maintenance tick's √N dial: maintained
    // incrementally from here (the shared IndexMeta contract) so a
    // tick never pays a corpus-sized distinct just to re-learn a
    // number the artifact already knows
    graft.sim.IndexMeta.write(spark, s"$outDir/_meta",
      Seq("n_vectors" -> rows / m, "n_ticks" -> 0L))
    rows
  }

  /** Recall@k of the frozen held-out truth through the probe path on
    * `index` — the one measurement both `build` (baseline) and
    * [[ingestTick]] (drift check) share. */
  private def heldoutRecall(spark: SparkSession, outDir: String,
                            index: DataFrame,
                            cents: Array[Array[Double]],
                            pqCb: (Int, Int) => Array[Double],
                            nprobe: Int, k: Int): Long = {
    val queries = spark.read.parquet(s"$outDir/heldout/queries")
    val truth = spark.read.parquet(s"$outDir/heldout/truth")
      .filter(col("rank") <= k)
    val p = loadParams(spark, outDir)
    val got = Similarity.ivfPqServe(index, queries, "vec_id", "embedding",
      p.dims, p.m, p.ksub, nprobe, k, cents, pqCb,
      residual = p.encoding == "residual")
    val nq = queries.count()
    val hits = got.select(col("query_id"), col("vec_id"))
      .join(truth.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_semi").count()
    math.floor(hits.toDouble * 1e6 / (nq * k).toDouble + 0.5).toLong
  }

  /** STREAMING INDEX-MAINTENANCE TICK (VERDICT r13 #6 — the q209/q214
    * tick pattern applied to the serving index): one
    * `Trigger.AvailableNow` tick drains newly staged (vec_id,
    * embedding) rows, encodes them through the artifact's LOADED
    * codebooks ([[Similarity.ivfPqEncode]] — the serve-side quantizers
    * applied to corpus rows; with the formula codebooks a tick-grown
    * index is bit-identical to a one-shot build over the union,
    * StreamingSpec pins it), and APPENDS the code rows into the
    * bucketed table (same bucket spec — Spark refuses a mismatch, so
    * the bucketed-scan contract survives growth). Crash-replay safe:
    * membership is probed against the subspace-0 code rows (the
    * one-row-per-vector face, an m×-cheaper scan; batch broadcasts),
    * so a replayed batch never duplicates code rows.
    *
    * CODEBOOK STALENESS — two measured signals per tick, because a
    * codes-only artifact can flag but not self-retrain (re-deriving
    * centroids needs the raw corpus, which the artifact deliberately
    * does not carry — `build` is the retrain path):
    *  1. the √N dial: `adaptiveCentroids(n_after)` vs the built C —
    *     outgrowing it means per-cell population is drifting back to
    *     N/C (the F3 quadratic the sizing rule exists to kill);
    *  2. the HELD-OUT RECALL FLOOR: probe the grown index with the
    *     frozen build-time eval set and measure recall of the frozen
    *     truth at (nprobe, k); legitimate new neighbors displace a few
    *     truth rows, stale codebooks displace MANY — below
    *     `recallFloorMicro` the tick flags loudly.
    * Both land in `outDir/_heldout_recall` (n_vectors, recall_micro,
    * floor_micro, stale, needed_centroids) — the tick's measured meta
    * row, the [[graft.sim.IndexMeta]] discipline for a dial the tick
    * cannot itself turn.
    */
  def ingestTick(spark: SparkSession, outDir: String, stagingDir: String,
                 checkpointDir: String, nprobe: Int = 2, k: Int = 3,
                 recallFloorMicro: Long = 0L,
                 recallDropFactorMicro: Long = 800000L,
                 reconcileEvery: Int = 16): Unit = {
    val p = loadParams(spark, outDir)
    val cents = Similarity.loadCentroids(spark, s"$outDir/centroids.parquet")
    val pqCb = loadPqCodebook(spark, outDir)
    val table = tableName(outDir)
    openIndex(spark, outDir)
    val vecs = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<DOUBLE>")
      .parquet(stagingDir)
    StreamingIngest.drain(vecs, checkpointDir) { batch =>
      import spark.implicits._
      val sp = batch.sparkSession
      val b = batch.dropDuplicates("vec_id").persist()
      try {
        val indexed = StreamingIngest.storedIds(
          sp.table(table).filter(col("subspace") === 0), b, "vec_id")
        val fresh = b.join(broadcast(indexed), Seq("vec_id"), "left_anti")
          .localCheckpoint(true)
        val appended = fresh.count()
        Catalog.save(Similarity.ivfPqEncode(fresh, "vec_id", "embedding",
            p.dims, p.m, p.ksub, cents, (s, c) => pqCb((s, c)),
            residual = p.encoding == "residual")
            .repartition(p.buckets, col("cell")),
          table, s"$outDir/index", p.buckets, "cell", mode = "append")
        // staleness signal 1: the √N dial, against a MAINTAINED
        // vector census (`_meta`, the shared IndexMeta contract) —
        // never a per-tick corpus-sized distinct to re-learn a number
        // the artifact already knows. A legacy artifact (no `_meta`)
        // pays the exact count ONCE and records it. A crash between
        // the code append and the meta write loses that batch from
        // the census FOR GOOD (ADVICE r14 — the replayed batch
        // appends zero rows, so the maintained count never recovers
        // it, and repeated crash windows ACCUMULATE undercount, which
        // under-fires the √N dial). The periodic reconcile bounds
        // that drift: every `reconcileEvery` ticks the census
        // re-anchors to the exact subspace-0 distinct count (one
        // index scan, amortized to 1/reconcileEvery of tick cost), so
        // drift survives at most a window — immaterial against the
        // power-of-2-stepped dial.
        val metaDir = s"$outDir/_meta"
        val meta = graft.sim.IndexMeta.read(sp, metaDir, Seq("n_vectors"))
        // n_ticks reads tolerantly: artifacts from before the
        // reconcile counter carry only n_vectors
        val nTicks = (if (meta.isEmpty) 0L else {
          val df = sp.read.parquet(metaDir)
          if (df.columns.contains("n_ticks"))
            df.select(col("n_ticks").cast("long")).head().getLong(0)
          else 0L
        }) + 1L
        def exactCount(): Long = sp.table(table)
          .filter(col("subspace") === 0)
          .select(col("vec_id")).distinct().count()
        val nAfter = meta match {
          case None => exactCount()
          case Some(m)
              if reconcileEvery > 0 && nTicks % reconcileEvery == 0 =>
            val maintained = m("n_vectors") + appended
            val exact = exactCount()
            if (exact != maintained)
              System.err.println(s"[ivfpq] census reconcile: maintained " +
                s"$maintained vs exact $exact vectors (drift " +
                s"${maintained - exact} — crash-window loss healed)")
            exact
          case Some(m) => m("n_vectors") + appended
        }
        graft.sim.IndexMeta.write(sp, metaDir,
          Seq("n_vectors" -> nAfter, "n_ticks" -> nTicks))
        val neededC = Similarity.adaptiveCentroids(nAfter, p.centroids)
        if (neededC > p.centroids)
          System.err.println(s"[ivfpq] STALE coarse quantizer: corpus " +
            s"$nAfter vectors needs C=$neededC, artifact built at " +
            s"C=${p.centroids} — run 'retrain <rawsDir> <outDir>' " +
            "(trains both codebooks from the persisted sample + a " +
            "fresh raws sample, re-encodes, re-freezes the baseline)")
        // staleness signal 2: held-out recall against the CALIBRATED
        // floor — the untrained/formula quantizer legitimately serves
        // low frozen-set recall at tight nprobe/K, so "stale" is
        // recall FALLING from the build-time baseline
        // (recall0 × dropFactor), not an absolute bar; the absolute
        // `recallFloorMicro` stays available for callers with an SLO
        if (Fs.exists(sp, s"$outDir/heldout/queries")) {
          val recall = heldoutRecall(sp, outDir, sp.table(table),
            cents, (s, c) => pqCb((s, c)), nprobe, k)
          val r0Dir = s"$outDir/heldout/recall0"
          val relFloor =
            ParquetCompact.readIfExists(sp, r0Dir).map { r0All =>
              val r0 = r0All
                .filter(col("nprobe") === nprobe && col("k") === k)
                .select(col("recall_micro")).collect()
              r0.headOption.map(r =>
                r.getLong(0) * recallDropFactorMicro / 1000000L)
                .getOrElse {
                  // ADVICE r14: the build froze recall0 only at its
                  // own knobs — a tick at OTHER (nprobe, k) used to
                  // silently disarm the calibrated check. Warn
                  // loudly, and freeze the CURRENT recall as the
                  // first-use baseline at these knobs so every LATER
                  // tick has a calibrated floor (this tick itself
                  // stays on the absolute `recallFloorMicro` only).
                  System.err.println(s"[ivfpq] no recall0 baseline at " +
                    s"nprobe=$nprobe k=$k — calibrated drift check " +
                    s"disarmed THIS tick; freezing current recall " +
                    s"$recall µ as the first-use baseline")
                  ParquetCompact.replace(sp, r0Dir)(r0All
                    .select(col("nprobe").cast("int"), col("k").cast("int"),
                      col("recall_micro").cast("long"))
                    .unionByName(Seq((nprobe, k, recall))
                      .toDF("nprobe", "k", "recall_micro"))
                    .coalesce(1).write.parquet(_))
                  0L
                }
            }.getOrElse(0L)
          val floor = math.max(recallFloorMicro, relFloor)
          val stale = recall < floor
          if (stale)
            System.err.println(s"[ivfpq] STALE codebooks: held-out " +
              s"recall $recall µ < floor $floor µ at " +
              s"nprobe=$nprobe k=$k on $nAfter vectors — run " +
              "'retrain <rawsDir> <outDir>'")
          ParquetCompact.replace(sp, s"$outDir/_heldout_recall")(
            Seq((nAfter, recall, floor, stale, neededC))
              .toDF("n_vectors", "recall_micro", "floor_micro", "stale",
                "needed_centroids")
              .coalesce(1).write.parquet(_))
        }
      } finally b.unpersist()
    }
  }

  /** BUCKETED-INDEX COMPACTION (VERDICT r14 #3): each [[ingestTick]]
    * append lands ~`buckets` files (the bucket-hash-aligned repartition
    * keeps it at one per bucket per tick — but that still ACCRUES: a
    * hundred ticks is 100·buckets files under every serve scan and
    * every append commit's listing). Once files/bucket crosses
    * `maxFilesPerBucket`, rewrite the table: one read of the codes,
    * one bucket-hash repartition, one bucketed write — back to ~one
    * file per bucket, bit-identical probe results (spec-pinned; the
    * rewrite changes FILE LAYOUT, never rows, and the bucket spec is
    * preserved so pruning and the no-exchange cell distribution
    * survive).
    *
    * The swap is [[ParquetCompact.compactWith]]'s crash-atomic
    * rename-aside swap (its scaladoc walks the windows); every
    * [[openIndex]] runs its reader-side [[ParquetCompact.recover]], so a
    * crashed compaction heals on the next open. The swap bumps `_meta`
    * so a warm [[serve]] loop re-opens. Returns (filesBefore,
    * filesAfter) — equal when the threshold did not bind.
    */
  def compact(spark: SparkSession, outDir: String,
              maxFilesPerBucket: Int = 4): (Int, Int) = {
    require(maxFilesPerBucket >= 1, s"maxFilesPerBucket $maxFilesPerBucket < 1")
    val p = loadParams(spark, outDir)
    val table = tableName(outDir)
    val maxFiles = p.buckets * maxFilesPerBucket
    val files = ParquetCompact.compactWith(spark, s"$outDir/index",
        maxFiles) { (codes, tmp) =>
      // the rewrite reads the FILES, not the registered table: a
      // bucketed scan reports HashPartitioning(cell, buckets) as already
      // satisfied, so Catalyst elides the repartition below and the
      // write fans out one file per INPUT task again — the exact
      // fragmentation this rewrite exists to undo (caught by the
      // bit-parity spec: 16 -> 14 files instead of 4)
      val tmpTable = tableName(tmp)
      Catalog.save(codes.repartition(p.buckets, col("cell")), tmpTable, tmp,
        p.buckets, "cell")
      // both tables are EXTERNAL (explicit path): dropping the catalog
      // entries leaves the files for the swap; openIndex re-registers
      spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
    if (files._1 > maxFiles) {
      // the swap ran: bump _meta so a warm serve loop's staleness check
      // sees the new layout (same census values — only the mtime moves)
      touchMeta(spark, outDir)
      openIndex(spark, outDir)
    }
    files
  }

  /** Rewrite `_meta` with its current values — the mtime bump is the
    * change signal a warm [[serve]] loop polls; ticks and retrains
    * rewrite `_meta` anyway, compaction calls this explicitly. */
  private def touchMeta(spark: SparkSession, outDir: String): Unit = {
    val metaDir = s"$outDir/_meta"
    ParquetCompact.readIfExists(spark, metaDir).foreach { df =>
      val fields = df.columns.toSeq.map { c =>
        c -> df.select(col(c).cast("long")).head().getLong(0)
      }
      graft.sim.IndexMeta.write(spark, metaDir, fields)
    }
  }

  /** Re-register the persisted code files as an external bucketed table
    * ([[Catalog.open]], fresh-session safe). Runs
    * [[ParquetCompact.recover]] first, so a crashed compaction heals on
    * the next open — probe, serve, tick, and compact all pass through
    * here.
    */
  def openIndex(spark: SparkSession, outDir: String): DataFrame = {
    ParquetCompact.recover(spark, s"$outDir/index")
    Catalog.open(spark, tableName(outDir), s"$outDir/index",
      loadParams(spark, outDir).buckets, "cell")
  }

  /** Serve top-k for `queries` from the persisted artifact: reopened
    * bucketed codes + loaded codebooks, through [[Similarity.ivfPqServe]]
    * with the artifact's encoding.
    *
    * TWO-STAGE SERVING (VERDICT r16 #1): `rerank > 0` turns on the
    * standard exact second stage — ADC top-`rerank` shortlist through
    * the same probe plan, then exact cosine on the RAW vectors of the
    * shortlist (top-`k`, the q38 convention — output carries `cosine`
    * instead of `adc_micro`). The artifact carries codes, not raws, so
    * the re-rank reads the deployment's source-of-truth vector table at
    * `rawsDir` (the SAME staged-raws contract retrain states: the index
    * was never the only copy) — a |queries|×R-bounded broadcast join
    * into one map-side pass over that store, riding the existing plan.
    */
  def probe(spark: SparkSession, outDir: String, queries: DataFrame,
            idCol: String, vecCol: String, nprobe: Int, k: Int,
            rerank: Int = 0, rawsDir: String = null): DataFrame = {
    val p = loadParams(spark, outDir)
    val index = openIndex(spark, outDir)
    val cents = Similarity.loadCentroids(spark, s"$outDir/centroids.parquet")
    val pqCb = loadPqCodebook(spark, outDir)
    val first = Similarity.ivfPqServe(index, queries, idCol, vecCol, p.dims,
      p.m, p.ksub, nprobe, if (rerank > 0) rerank else k, cents,
      (s, c) => pqCb((s, c)), residual = p.encoding == "residual")
    if (rerank <= 0) first
    else {
      require(rerank >= k, s"rerank shortlist $rerank must be >= k=$k")
      require(rawsDir != null, "two-stage probe needs the raw vector " +
        "store (rawsDir) — the artifact carries codes, not raws (the " +
        "retrain staged-raws contract)")
      Similarity.rerankExactWith(spark.read.parquet(rawsDir), queries,
        idCol, vecCol, first.select(col("query_id"), col("vec_id")), k)
    }
  }

  /** WARM PROBE SERVER (VERDICT r12 #4 — §10's own lesson applied: the
    * cold/steady split showed a probe server must be a warm process,
    * so here is the warm process). Opens the artifact ONCE — bucketed
    * DDL, both codebooks, params — then answers query batches in a
    * loop: a request is a parquet directory of (idCol, vecCol) rows
    * dropped under `reqDir/in/<name>`, its answer lands at
    * `reqDir/out/<name>` (top-k rows, the [[probe]] schema). A request
    * is only picked up once its `_SUCCESS` marker exists (writers drop
    * atomically-finished parquet dirs, the file-source staging rule),
    * and is considered answered when the output's `_SUCCESS` exists —
    * so a killed server resumes by re-answering only the unanswered.
    * The loop exits once `reqDir/stop` exists AND nothing is pending.
    * Returns the number of batches served.
    *
    * Per batch the work is query-side only (cell ranking + nprobe·m·ksub
    * distance-table rows) plus the bucket-pruned ADC join — the artifact
    * is NOT re-opened per batch, which is exactly the §10 delta: the
    * 2.1–3.0 s steady-state there included a full re-open each rep.
    *
    * STALENESS (r16, VERDICT r15 #4): the loop polls the `_meta`
    * fingerprint (file names + mtimes + lengths) once per iteration —
    * every writer that changes the artifact rewrites `_meta` (ticks
    * per batch, retrain via persistArtifact, compaction via touchMeta)
    * — and RE-OPENS on change: params, DDL, codebooks, and the sized
    * pin all reload, so a server that outlives ticks/compactions/
    * retrains serves the current index instead of a stale or dangling
    * file listing. The check is one directory listing per loop, paid
    * only at poll cadence.
    */
  def serve(spark: SparkSession, outDir: String, reqDir: String,
            idCol: String, vecCol: String, nprobe: Int, k: Int,
            pollMs: Long = 200L, pinBytes: Long = 2L << 30,
            rerank: Int = 0, rawsDir: String = null): Int = {
    if (rerank > 0) {
      require(rerank >= k, s"rerank shortlist $rerank must be >= k=$k")
      require(rawsDir != null, "two-stage serve needs the raw vector " +
        "store (rawsDir) — the artifact carries codes, not raws")
    }
    val idxFs = Fs.get(spark, s"$outDir/index")
    def metaFingerprint(): String = {
      val metaPath = new org.apache.hadoop.fs.Path(s"$outDir/_meta")
      if (!Fs.exists(spark, s"$outDir/_meta")) ""
      else idxFs.listStatus(metaPath).filter(_.isFile)
        .map(f => s"${f.getPath.getName}:${f.getModificationTime}:${f.getLen}")
        .sorted.mkString("|")
    }
    var p: Params = null
    var index: DataFrame = null
    var pinned = false
    var cents: Array[Array[Double]] = null
    var pqCb: Map[(Int, Int), Array[Double]] = null
    var raws: DataFrame = null
    var metaFp = ""
    // the warm server PINS the code table in executor memory (m·log2
    // (ksub) bits + a cell id per vector — ~30 MB at ×100; a cluster
    // serving tier holds it partitioned the same way) and materializes
    // it BEFORE the loop, so steady batches scan memory, not parquet.
    // The cache preserves the sortBy(cell) clustering, so the probed-
    // cell filter still prunes at cached-batch granularity. The pin is
    // SIZED (the measured-size-dispatch discipline): past `pinBytes`
    // of on-disk index the server serves from the bucketed files —
    // pinning an index larger than the memory budget would evict-thrash
    // against the ADC working set instead of helping it.
    def reopen(): Unit = {
      if (pinned && index != null) index.unpersist()
      p = loadParams(spark, outDir)
      val opened = openIndex(spark, outDir)
      val idxPath = new org.apache.hadoop.fs.Path(s"$outDir/index")
      val idxBytes = idxFs.getContentSummary(idxPath).getLength
      if (idxBytes <= pinBytes) {
        index = opened.persist(); index.count(); pinned = true
      } else {
        System.err.println(f"[ivfpq] index is ${idxBytes / 1048576}%d MiB " +
          f"(> pin budget ${pinBytes / 1048576}%d MiB) — serving from the " +
          "bucketed files")
        index = opened; pinned = false
      }
      cents = Similarity.loadCentroids(spark, s"$outDir/centroids.parquet")
      pqCb = loadPqCodebook(spark, outDir)
      // two-stage serving re-reads the raws LISTING on every reopen: a
      // DataFrame pins its file index at creation, and the _meta bump a
      // tick writes is exactly the signal that the raw store grew
      if (rerank > 0) raws = spark.read.parquet(rawsDir)
      metaFp = metaFingerprint()
    }
    reopen()
    val inDir = s"$reqDir/in"
    def done(name: String) = Fs.exists(spark, s"$reqDir/out/$name/_SUCCESS")
    def ready(d: org.apache.hadoop.fs.Path) = Fs.exists(spark, s"$d/_SUCCESS")
    var served = 0
    var stop = false
    while (!stop) {
      val fp = metaFingerprint()
      if (fp != metaFp) {
        System.err.println("[ivfpq] artifact changed underneath the " +
          "warm server (_meta fingerprint moved) — re-opening")
        reopen()
      }
      val pending =
        if (!Fs.exists(spark, inDir)) Array.empty[org.apache.hadoop.fs.Path]
        else Fs.get(spark, inDir).listStatus(new org.apache.hadoop.fs.Path(inDir))
          .filter(_.isDirectory).map(_.getPath)
          .filter(d => ready(d) && !done(d.getName)).sortBy(_.getName)
      pending.foreach { d =>
        val t0 = System.nanoTime()
        val queries = spark.read.parquet(d.toString)
        val first = Similarity.ivfPqServe(index, queries, idCol, vecCol,
          p.dims, p.m, p.ksub, nprobe, if (rerank > 0) rerank else k, cents,
          (s, c) => pqCb((s, c)), residual = p.encoding == "residual")
        val answer =
          if (rerank <= 0) first
          else Similarity.rerankExactWith(raws, queries, idCol, vecCol,
            first.select(col("query_id"), col("vec_id")), k)
        answer.write.mode("overwrite").parquet(s"$reqDir/out/${d.getName}")
        served += 1
        println(f"[ivfpq] served batch '${d.getName}' in " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s (warm, no re-open" +
          (if (rerank > 0) s", two-stage R=$rerank)" else ")"))
      }
      if (Fs.exists(spark, s"$reqDir/stop") && pending.isEmpty) stop = true
      else if (pending.isEmpty) Thread.sleep(pollMs)
    }
    served
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: IvfPqBuild build|probe <sfDir> <outDir> ... | serve <reqDir> <outDir> [nprobe] [k]")
    val (mode, sfDir, outDir) = (args(0), args(1), args(2))
    def arg(i: Int, dflt: Int) = if (args.length > i) args(i).toInt else dflt
    val spark = ToolSession.local()
    mode match {
      case "build" =>
        val t0 = System.nanoTime()
        val n = build(spark, sfDir, outDir, m = arg(3, 8), ksub = arg(4, 16),
          centroids = arg(5, 16), buckets = arg(6, 8))
        println(f"[ivfpq] built $n code rows + codebooks at $outDir " +
          f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "retrain" =>
        // args: retrain <rawsDir> <outDir> [iters=2] — sfDir slot
        // carries the raws dir (the serve convention)
        val t0 = System.nanoTime()
        val n = retrain(spark, rawsDir = sfDir, outDir, iters = arg(3, 2))
        println(f"[ivfpq] retrained (residual encoding): $n code rows at " +
          f"$outDir in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "compact" =>
        // args: compact - <outDir> [maxFilesPerBucket=4] — sfDir slot
        // unused (the artifact is self-describing)
        val t0 = System.nanoTime()
        val (b, a) = compact(spark, outDir, maxFilesPerBucket = arg(3, 4))
        println(f"[ivfpq] compact: $b -> $a data files in " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s" +
          (if (b == a) " (threshold not crossed)" else ""))
      case "probe" =>
        // reps > 1 separates the one-off session costs (DDL, codebook
        // load, kernel codegen — the F4 compile term, paid once per
        // serving process) from steady-state serve latency: a deployed
        // probe server is a warm JVM, not a fresh one per query batch
        val reps = arg(5, 1)
        val queries = Tables.embeddings(spark, sfDir)
          .filter(col("vec_id") % 25 === 0 &&
            col("vec_id") < graft.tools.ScaleGen.IdStride)
        for (r <- 1 to reps) {
          val t0 = System.nanoTime()
          val hits = probe(spark, outDir, queries, "vec_id", "embedding",
            nprobe = arg(3, 2), k = arg(4, 3))
          val n = hits.count()
          println(f"[ivfpq] serve $r/$reps: $n top-k rows from the reopened " +
            f"index in ${(System.nanoTime() - t0) / 1e9}%.1f s " +
            "(zero assignment/encode work)")
        }
      case "serve" =>
        // args: serve <reqDir> <outDir> [nprobe=2] [k=3] [rerank=0]
        // [rawsDir] — sfDir slot carries the request dir (the artifact
        // is self-describing, no source table is read); rerank > 0
        // turns on the two-stage exact re-rank against rawsDir
        val n = serve(spark, outDir, reqDir = sfDir, idCol = "vec_id",
          vecCol = "embedding", nprobe = arg(3, 2), k = arg(4, 3),
          rerank = arg(5, 0),
          rawsDir = if (args.length > 6) args(6) else null)
        println(s"[ivfpq] serve loop drained: $n batches answered")
      case "ingesttick" =>
        // args: ingesttick <stagingDir> <outDir> [nprobe=2] [k=3] —
        // sfDir slot carries the staging dir (the serve convention)
        val t0 = System.nanoTime()
        ingestTick(spark, outDir, stagingDir = sfDir,
          checkpointDir = s"$outDir/tick_ckpt",
          nprobe = arg(3, 2), k = arg(4, 3))
        println(f"[ivfpq] ingest tick drained in " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      case other => sys.error(
        s"unknown mode $other " +
          "(build|retrain|probe|serve|ingesttick|compact)")
    }
    spark.stop()
  }
}
