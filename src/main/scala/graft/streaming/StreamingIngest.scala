package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.Sizing
import graft.storage.{Fs, ObsStore, ParquetCompact}

/** Streaming face of the engine (SURVEY §2.10).
  *
  * The reference is a cron-driven micro-batch incremental pipeline — each
  * hourly run re-ingests a 2-day lookback window and merge-upserts into
  * monthly partitions (T1/T2). The Spark-native analog:
  *
  *  - a file-source `readStream` over the staging directory (new files =
  *    new micro-batch; the source's own tracking replaces the reference's
  *    persisted `f_read` flag, T3);
  *  - `Trigger.AvailableNow` = "drain what exists, then stop" — exactly
  *    one cron tick (T4);
  *  - `foreachBatch` + ObsStore.mergeUpsert = the T2 combine_first upsert
  *    with dynamic partition overwrite. Late/revised data needs no state
  *    store: affected partitions are re-read and re-merged, which is the
  *    reference's own strategy;
  *  - a 48 h watermark (= the 2-day lookback, T1) bounds the
  *    cross-batch dedup state of `dedupStream`.
  */
object StreamingIngest {

  /** One cron tick over `stream`: drain every available micro-batch into
    * `onBatch` under `checkpointDir`, then stop (`Trigger.AvailableNow`).
    * Blocks until the drain completes. `outputMode` is `update` for a
    * stateful aggregate; the checkpoint commits a batch only after
    * `onBatch` returns, so a crash inside it replays the batch. */
  def drain(stream: DataFrame, checkpointDir: String,
            outputMode: String = "append")(onBatch: DataFrame => Unit): Unit =
    stream.writeStream
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) => onBatch(batch) }
      .start()
      .awaitTermination()

  /** The replay probe every append tick shares: the ids of `batch`
    * already in `store`. A tick's appends are not atomic with its
    * checkpoint commit, so a crash replays the batch, and a non-empty
    * answer is the replay's signature. Reads only the store's id column,
    * broadcasts the batch side, and checkpoints eagerly (the callers
    * consume it after the append that would change its answer). */
  def storedIds(store: DataFrame, batch: DataFrame, idCol: String): DataFrame =
    store.select(col(idCol))
      .join(broadcast(batch.select(col(idCol).as("bid"))),
        col(idCol) === col("bid"))
      .select(idCol).distinct().localCheckpoint(true)

  /** Stream normalized long obs (station, ts, param, value) from CSV files
    * appearing in `stagingDir` (schema of the normalized long form —
    * upstream normalizers write this shape to staging).
    */
  def readObsStream(spark: SparkSession, stagingDir: String): DataFrame =
    spark.readStream
      .schema("station STRING, ts TIMESTAMP, param STRING, value DOUBLE")
      .option("header", "true")
      .csv(stagingDir)

  /** One cron tick: drain all available files into the store via the T2
    * merge-upsert, then stop. Blocks until the drain completes.
    */
  def ingestTick(spark: SparkSession, stagingDir: String, store: ObsStore,
                 checkpointDir: String): Unit =
    drain(readObsStream(spark, stagingDir), checkpointDir)(store.mergeUpsert)

  /** One CORPUS-ingest tick — the training-data-pipeline analog of
    * `ingestTick`: drain newly landed document files, exact-dedup WITHIN
    * the batch (keep the smallest id per content hash), flag the
    * survivors against the existing corpus with
    * `NearDup.incrementalDedup`, and append only the 'new' ones.
    *
    * Idempotence layers mirror T3: the file source's own tracking
    * prevents re-draining a file; re-delivered identical docs inside one
    * drain collapse in the within-batch exact dedup; near-duplicates
    * WITHIN the batch collapse to their cluster keeper (min id) before
    * the corpus check — otherwise two near-dup new docs arriving in the
    * same tick would both enter the corpus permanently, making the
    * near-dedup guarantee order-dependent; docs already in the corpus
    * (exactly or near at `minJaccard`) are dropped by the incremental
    * flags. At scale `corpusDir` is the partitioned corpus table and the
    * band/set signature frames are a persisted index refreshed per tick
    * (see incrementalDedup's scaladoc).
    *
    * Crash replay: the corpus append and the `_manifest` replace are
    * not atomic. A replayed batch matches its own stored copies as
    * exact dups and appends nothing, so a fold would never count it;
    * when the [[storedIds]] probe finds batch docs already in the
    * corpus, the manifest is instead REBUILT from the corpus (one
    * corpus scan, the crawl and BPE ticks' rebuild), healing the
    * window.
    */
  def corpusIngestTick(spark: SparkSession, stagingDir: String,
                       corpusDir: String, checkpointDir: String,
                       minJaccard: Double = 0.5): Unit = {
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("header", "true")
      .csv(stagingDir)
    drain(docs, checkpointDir) { batch =>
      import graft.text.{NearDup, TextOps}
      val sp = batch.sparkSession
      val keepers = NearDup.exactDedup(batch, "doc_id", "text")
        .select(col("keeper_id").as("doc_id"))
      // cache: the survivors' lineage (staging scan + dedup aggregate +
      // shingle/signature pipeline) is consumed by FOUR actions in one
      // tick — the in-batch pair clustering, the replay probe, the
      // incremental flags, and the final append — and would otherwise
      // recompute per action
      val exactUniq = batch.join(keepers, Seq("doc_id"), "left_semi").persist()
      try {
        // near-dedup within the batch: cluster the batch's own near-dup
        // pairs and keep only cluster keepers (min id per component)
        val nearPairs = NearDup.minhashLshPairsFromRows(
            TextOps.wordShingleRows(exactUniq, "doc_id", "text", 3))
          .filter(col("jaccard") >= minJaccard)
        val dropped = NearDup.dedupClusters(nearPairs, "id_a", "id_b")
          .filter(col("doc_id") =!= col("keeper_id")).select("doc_id")
        val uniq = exactUniq.join(dropped, Seq("doc_id"), "left_anti")
        val (survivors, replay) =
          if (Fs.exists(sp, corpusDir)) {
            val corpus = sp.read.parquet(corpusDir)
            val flags = NearDup.incrementalDedup(corpus, uniq, "doc_id",
              "text", minJaccard = minJaccard)
            (uniq.join(flags.filter(col("verdict") === "new").select("doc_id"),
              Seq("doc_id"), "left_semi"),
              storedIds(corpus, uniq, "doc_id").count() > 0)
          } else (uniq, false)
        // eager: the survivors feed TWO writes (corpus append + manifest
        // fold) — without the checkpoint the second one would re-run the
        // whole incremental-dedup lineage
        val fresh = survivors.localCheckpoint(true)
        fresh.write.mode("append").parquet(corpusDir)
        // manifest maintenance (TextOps.manifestMerge scaladoc): the
        // release cells stay current at per-batch cost. `_manifest`
        // is underscore-hidden, so corpus parquet scans skip it. The
        // staged stream carries no (source, lang) → one global cell.
        val manifestDir = s"$corpusDir/_manifest"
        val merged =
          if (replay) {
            System.err.println("[corpus-tick] replay detected (batch docs " +
              "already in the corpus) — rebuilding the manifest from the " +
              "corpus, healing any crash window")
            TextOps.corpusManifest(sp.read.parquet(corpusDir), groupCols = Seq.empty)
          } else ParquetCompact.readIfExists(sp, manifestDir) match {
            case Some(standing) =>
              TextOps.manifestMerge(standing, fresh, groupCols = Seq.empty)
            case None => TextOps.corpusManifest(fresh, groupCols = Seq.empty)
          }
        ParquetCompact.replace(sp, manifestDir)(merged.write.parquet(_))
      } finally exactUniq.unpersist()
    }
  }

  /** STREAMING EMBEDDING-DEDUP TICK (VERDICT r11 #6): one
    * `Trigger.AvailableNow` tick drains newly staged vectors, dedups
    * them within the batch (LSH pairs → cluster keepers, the
    * corpusIngestTick discipline), flags survivors against the
    * PERSISTED corpus through its persisted LSH band index
    * (`Similarity.embeddingCorpusFlags` — batch side broadcasts, the
    * corpus streams map-side through two BroadcastHashJoins, no
    * corpus×corpus term and no corpus repartition; the only shuffle is
    * the partial-aggregated per-new-vector max-cosine fold), and
    * appends only the genuinely new vectors — plus their band rows, so
    * the index stays current without ever recomputing corpus
    * signatures. Band/plane formulas are `lshBandRows`'s, shared with
    * the batch pair join, so index and query banding cannot drift.
    *
    * Layout under `corpusDir`: vector parquet at the root, the band
    * index at `_bands`, its width/count meta at `_bands_meta`
    * (underscore-hidden from corpus scans, the `_manifest` trick).
    * WIDTH STALENESS (VERDICT r12 #3): every tick starts with
    * `Similarity.ensureBandIndexFresh` — the persisted index froze its
    * width at build time, and once the corpus outgrows the next
    * occupancy threshold the tick would silently serve at saturating
    * occupancy; the guard rebuilds the index (one corpus scan, loudly
    * logged) and the tick serves and appends at the rebuilt width.
    * `rowsPerBand` is therefore the FLOOR width, not a fixed one.
    * Idempotence: the file source's checkpoint
    * prevents re-draining; within a tick, in-batch keepers are chosen
    * before the corpus check so two near-dup arrivals in one tick
    * cannot both enter (order-independence, the corpusIngestTick
    * lesson). CRASH REPLAY is also safe (ADVICE r12): the two appends
    * inside foreachBatch are not atomic, so a replayed batch probes
    * corpus membership directly by vec_id (pruned-column scan, batch
    * side broadcast) — it never re-appends vectors and it heals band
    * rows missing from the crash window; see the inline guard.
    * StreamingSpec pins two-tick contents, no-reprocess, replay
    * convergence, and the plan shape.
    */
  def embeddingIngestTick(spark: SparkSession, stagingDir: String,
                          corpusDir: String, checkpointDir: String,
                          dims: Int = 64, bands: Int = 4,
                          rowsPerBand: Int = 5,
                          minCosine: Double = 0.9,
                          targetOccupancy: Long = Sizing.TargetOccupancy): Unit = {
    import graft.sim.Similarity
    val vecs = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<DOUBLE>")
      .parquet(stagingDir)
    drain(vecs, checkpointDir) { batch =>
      import graft.text.NearDup
      val sp = batch.sparkSession
      val b = batch.dropDuplicates("vec_id").persist()
      try {
        // in-batch near-dedup: keepers only (min id per component)
        val pairs = Similarity.lshNeighborPairs(b, "vec_id", "embedding",
          dims, bands, rowsPerBand, minCosine)
        val dropped = NearDup.dedupClusters(pairs, "id_a", "id_b")
          .filter(col("doc_id") =!= col("keeper_id"))
          .select(col("doc_id").as("vec_id"))
        val uniq = b.join(dropped, Seq("vec_id"), "left_anti")
        if (Fs.exists(sp, corpusDir)) {
          val corpus = sp.read.parquet(corpusDir)
          // STALENESS GUARD (VERDICT r12 #3): the persisted index
          // froze its width at build time; if the corpus has grown
          // past the next occupancy threshold, rebuild it (and use
          // the rebuilt width below for flags AND the band append —
          // an appended row at the old width would poison the index)
          val rEff = Similarity.ensureBandIndexFresh(corpus, "vec_id",
            "embedding", dims, s"$corpusDir/_bands",
            s"$corpusDir/_bands_meta", bands, rowsPerBand, targetOccupancy)
          val flags = Similarity.embeddingCorpusFlags(
            corpus,
            ParquetCompact.read(sp, s"$corpusDir/_bands"),
            uniq, "vec_id", "embedding", dims, bands, rEff)
          // multiple consumers below (vector append + band append)
          val keep = uniq.join(flags.filter(col("best_cosine") >= minCosine)
              .select("vec_id"),
            Seq("vec_id"), "left_anti")
            .localCheckpoint(true)
          // CRASH-REPLAY GUARD (ADVICE r12): the two dependent appends
          // below are not atomic — a crash between them leaves vectors
          // in the corpus with no band rows, and a replayed batch (the
          // checkpoint commits only after foreachBatch returns) would
          // re-append them because the flag check consults only the
          // index. Probe corpus membership DIRECTLY by vec_id
          // ([[storedIds]]), so a replay (a) never re-appends a vector
          // already in the corpus and (b) still appends the MISSING
          // band rows for the crash-window vectors, healing the index.
          // An already-fully-ingested replay self-flags through the
          // index (cosine 1.0) and no-ops both appends, so band rows
          // are never duplicated either; repeated replays converge.
          val inCorpus = storedIds(corpus, keep, "vec_id")
          keep.join(broadcast(inCorpus), Seq("vec_id"), "left_anti")
            .write.mode("append").parquet(corpusDir)
          Similarity.lshBandRows(keep, "vec_id", "embedding",
              dims, bands, rEff)
            .write.mode("append").parquet(s"$corpusDir/_bands")
        } else {
          // two writes read the survivors (vectors + band rows)
          val fresh = uniq.localCheckpoint(true)
          fresh.write.mode("append").parquet(corpusDir)
          Similarity.lshBandRows(fresh, "vec_id", "embedding",
              dims, bands, rowsPerBand)
            .write.mode("append").parquet(s"$corpusDir/_bands")
          Similarity.writeBandIndexMeta(sp, s"$corpusDir/_bands_meta",
            bands, rowsPerBand, fresh.count())
        }
      } finally b.unpersist()
    }
  }

  /** STREAMING FINGERPRINT-DEDUP TICK (VERDICT r12 #6 — the hamming
    * modalities join the ingest ticks): the [[embeddingIngestTick]]
    * pattern over 64-bit perceptual fingerprints (image dHash, audio
    * energy hash, text SimHash — anything `NearDup.hammingBandRows`
    * bands). One `Trigger.AvailableNow` tick drains newly staged
    * (doc_id, fp) rows, dedups them within the batch
    * (`hammingPairs` → cluster keepers), flags survivors against the
    * PERSISTED corpus through its `_fpbands` index
    * (`NearDup.hammingCorpusFlags` — batch broadcasts, the index
    * streams map-side; the hash rides the band rows, so unlike the
    * embedding tick there is no corpus-payload join-back at all), and
    * appends only genuinely new fingerprints plus their band rows.
    *
    * BAND-COUNT STALENESS (VERDICT r13 #1): r12 shipped this tick with
    * "no width meta by design" on the argument that `maxHamming <
    * bands` pins the band count — but SCALE.md §8 addendum 6 MEASURED
    * the consequence: at 20 M hashes the bands=8 shape runs ~2.8× the
    * bands=4 pass, a constant the corpus pays every tick (band-
    * collision candidates ∝ bands·N/2^(bits/bands)). The band count is
    * a genuine cost dial inside the pigeonhole-valid range — any
    * `bands > maxHamming` preserves the dup verdict; only above-radius
    * best_hamming values (which no dup consumer reads) change — so
    * every tick now starts with `NearDup.ensureFpBandIndexFresh`: the
    * `_fpbands_meta` row (hash bits + maxHamming contract as
    * invariants, band count as the dial, corpus size) is compared
    * against what `hammingAutoBands` says the CURRENT corpus needs,
    * and the index re-bands (one corpus scan, loudly logged) when the
    * corpus crosses a band-count step. `bands` is therefore the FLOOR
    * (registered) count, held at every oracle scale.
    * Crash-replay safety mirrors the embedding tick: corpus membership
    * probed directly by doc_id, band rows healed for the crash window.
    */
  def fingerprintIngestTick(spark: SparkSession, stagingDir: String,
                            corpusDir: String, checkpointDir: String,
                            bits: Int = 64, bands: Int = 8,
                            maxHamming: Int = 2,
                            targetOccupancy: Long = Sizing.TargetOccupancy): Unit = {
    import graft.text.NearDup
    val fps = spark.readStream
      .schema("doc_id LONG, fp LONG")
      .parquet(stagingDir)
    drain(fps, checkpointDir) { batch =>
      val sp = batch.sparkSession
      val b = batch.dropDuplicates("doc_id").persist()
      try {
        val pairs = NearDup.hammingPairs(b, "doc_id", "fp",
          bits, bands, maxHamming)
        val dropped = NearDup.dedupClusters(pairs, "id_a", "id_b")
          .filter(col("doc_id") =!= col("keeper_id"))
          .select(col("doc_id"))
        val uniq = b.join(dropped, Seq("doc_id"), "left_anti")
        if (Fs.exists(sp, corpusDir)) {
          val corpus = sp.read.parquet(corpusDir)
          // STALENESS GUARD (VERDICT r13 #1): re-band the persisted
          // index when the corpus has crossed a band-count step —
          // serve AND append below at the rebuilt count (an appended
          // row at the old count would poison the index)
          val bEff = NearDup.ensureFpBandIndexFresh(corpus, "doc_id",
            "fp", bits, s"$corpusDir/_fpbands",
            s"$corpusDir/_fpbands_meta", bands, maxHamming,
            targetOccupancy)
          val flags = NearDup.hammingCorpusFlags(
            ParquetCompact.read(sp, s"$corpusDir/_fpbands"),
            uniq, "doc_id", "fp", bits, bEff)
          val keep = uniq.join(
              flags.filter(col("best_hamming") <= maxHamming)
                .select("doc_id"),
              Seq("doc_id"), "left_anti")
            .localCheckpoint(true)
          // crash-replay guard (the embedding tick's): never re-append
          // a doc_id already in the corpus; still append its missing
          // band rows so a crash between the two appends self-heals
          val inCorpus = storedIds(corpus, keep, "doc_id")
          keep.join(broadcast(inCorpus), Seq("doc_id"), "left_anti")
            .write.mode("append").parquet(corpusDir)
          NearDup.hammingBandRows(keep, "doc_id", "fp", bits, bEff)
            .write.mode("append").parquet(s"$corpusDir/_fpbands")
        } else {
          val fresh = uniq.localCheckpoint(true)
          val n0 = fresh.count()
          val b0 = NearDup.hammingAutoBands(n0, bits, bands, maxHamming,
            targetOccupancy)
          fresh.write.mode("append").parquet(corpusDir)
          NearDup.hammingBandRows(fresh, "doc_id", "fp", bits, b0)
            .write.mode("append").parquet(s"$corpusDir/_fpbands")
          graft.sim.IndexMeta.write(sp, s"$corpusDir/_fpbands_meta",
            Seq("bits" -> bits.toLong, "max_hamming" -> maxHamming.toLong,
              "bands" -> b0.toLong, "built_n" -> n0))
        }
      } finally b.unpersist()
    }
  }

  /** Streaming dedup across micro-batches: drops re-delivered
    * (station, ts, param) observations while bounding state with the 48 h
    * lookback watermark — the streaming form of D1/D2 (the batch path
    * dedups per tick; this dedups ACROSS ticks without re-reading
    * partitions).
    */
  def dedupStream(obs: DataFrame): DataFrame =
    obs.withWatermark("ts", "48 hours")
      .dropDuplicatesWithinWatermark("station", "ts", "param")

  /** STREAMING CRAWL-INGEST TICK (VERDICT r16 #6): the HTML →
    * boilerplate stage as an incremental pipeline. q224's line-
    * frequency df is a corpus-wide aggregate; recomputing it per run
    * re-reads (and re-parses) everything. The per-line document-
    * frequency grid is CELL-WISE MERGEABLE exactly like the q176 PSI
    * grid — each document lands in exactly one batch, so per-batch
    * `countDistinct(doc_id)` per line hash SUMS to the global df — so
    * one tick drains newly staged raw-HTML docs, extracts main content
    * ONCE ([[graft.text.Html.mainContent]], the typed-map codec pass),
    * persists the line grain at `outDir/_lines`, and folds the batch's
    * per-line df into the `outDir/_linedf` index. The filtered corpus
    * is a READ FACE ([[graft.text.TextOps.lineFilteredCorpus]]): line
    * store ⋈ df index, re-aggregated — no HTML re-parse ever, and
    * `maxDocFreq` stays a read-time policy knob (late-discovered
    * boilerplate retroactively drops from EARLIER documents' kept
    * text, which is the point of frequency-truth maintenance).
    *
    * Crash-replay safety (the embedding-tick discipline): the two
    * writes (line append, df replace) are not atomic. Batch docs are
    * anti-joined against the line store's doc_ids first, so a replayed
    * batch never double-appends lines; if the anti-join detects
    * already-ingested docs (the replay signature), the df grid is
    * REBUILT from the line store (one store scan, loudly logged — the
    * `ensureFresh` rebuild price) instead of incrementally folded,
    * healing the crash window where lines landed but their counts
    * never folded. Repeated replays converge. `_meta` keeps the
    * IndexMeta census (n_docs, n_lines, n_ticks) current per batch.
    */
  def crawlIngestTick(spark: SparkSession, stagingDir: String,
                      outDir: String, checkpointDir: String,
                      minChars: Int = 20): Unit = {
    val docs = spark.readStream
      .schema("doc_id LONG, html STRING")
      .parquet(stagingDir)
    drain(docs, checkpointDir)(crawlFoldBatch(_, outDir, minChars))
  }

  /** Line-grain append half of the crawl ticks: extract main content
    * ONCE (the typed-map codec pass), persist the (doc_id, line_no,
    * line, lh) grain at `outDir/_lines` (replay-probed: a re-delivered
    * batch never double-appends), and keep the `_meta` census current.
    * Shared by [[crawlIngestTick]]'s parquet fold and
    * [[curatedCrawlTick]]'s state-grid path so the two line stores
    * cannot drift. Returns the appended fresh lines and whether a
    * replay was healed.
    */
  private def linesAppendBatch(batch: DataFrame, outDir: String,
                               minChars: Int): (DataFrame, Boolean) = {
    import graft.text.TextOps
    val sp = batch.sparkSession
    val linesDir = s"$outDir/_lines"
    // extract + line grain, consumed by the replay probe, the line
    // append, and the caller's fold — one codec pass, checkpointed
    val lines = TextOps.lineRows(
        graft.text.Html.mainContent(batch.dropDuplicates("doc_id"),
          "doc_id", "html", minChars)
          .select(col("doc_id"), col("main_text")),
        "doc_id", "main_text")
      .localCheckpoint(true)
    val (fresh, replayDetected) =
      if (Fs.exists(sp, linesDir)) {
        val ingested = storedIds(sp.read.parquet(linesDir),
          lines.select(col("doc_id")).distinct(), "doc_id")
        val f = lines.join(broadcast(ingested), Seq("doc_id"),
          "left_anti").localCheckpoint(true)
        (f, ingested.count() > 0)
      } else (lines, false)
    fresh.write.mode("append").parquet(linesDir)
    val prev = graft.sim.IndexMeta.read(sp, s"$outDir/_meta",
      Seq("n_docs", "n_lines", "n_ticks"))
      .getOrElse(Map("n_docs" -> 0L, "n_lines" -> 0L, "n_ticks" -> 0L))
    graft.sim.IndexMeta.write(sp, s"$outDir/_meta", Seq(
      "n_docs" -> (prev("n_docs") +
        fresh.select(col("doc_id")).distinct().count()),
      "n_lines" -> (prev("n_lines") + fresh.count()),
      "n_ticks" -> (prev("n_ticks") + 1L)))
    (fresh, replayDetected)
  }

  /** One crawl line/df fold — the [[crawlIngestTick]] foreachBatch
    * body: [[linesAppendBatch]] plus the `_linedf` parquet fold. The
    * fold is Θ(distinct lines) per tick (SCALE.md §13 measured the
    * decade bound) — [[curatedCrawlTick]] and [[dfStateTick]] maintain
    * the same grid as O(batch) streaming state instead; this face
    * stays for consumers of the PARQUET grid artifact
    * ([[graft.text.TextOps.lineFilteredCorpus]]).
    */
  private def crawlFoldBatch(batch: DataFrame, outDir: String,
                             minChars: Int): Unit = {
    val sp = batch.sparkSession
    val linesDir = s"$outDir/_lines"
    val dfDir = s"$outDir/_linedf"
    val (fresh, replayDetected) = linesAppendBatch(batch, outDir, minChars)
    val merged = if (replayDetected) {
      System.err.println("[crawl-tick] replay detected (batch docs " +
        "already in the line store) — rebuilding the df grid from " +
        "the store instead of folding, healing any crash window")
      sp.read.parquet(linesDir)
        .groupBy(col("lh"))
        .agg(countDistinct(col("doc_id")).as("line_df"))
    } else {
      val freshDf = fresh.groupBy(col("lh"))
        .agg(countDistinct(col("doc_id")).as("line_df"))
      ParquetCompact.readIfExists(sp, dfDir) match {
        case Some(st) => st.unionByName(freshDf)
          .groupBy(col("lh")).agg(sum(col("line_df")).as("line_df"))
        case None => freshDf
      }
    }
    ParquetCompact.replace(sp, dfDir)(merged.write.parquet(_))
  }

  /** LINE-DF GRID AS STREAMING STATE (r18, the structural answer to
    * the measured §13 ×1000 bound): the parquet-fold design re-shuffles
    * and rewrites the WHOLE grid every tick — Θ(distinct lines), which
    * the decade measured at 77 s/tick on 20M lines, more than the
    * one-shot recompute. This tick maintains the same grid as a
    * STATEFUL STREAMING AGGREGATE instead: per-doc distinct line
    * hashes are computed map-side (array_distinct over the split —
    * zero exchange, and batch-local per-doc distinct ⇒ globally exact
    * because every doc lands in exactly one batch), and
    * `groupBy(lh).count()` updates ONLY the touched state keys —
    * O(batch) state I/O per tick (the state store writes per-batch
    * DELTA files; snapshots compact in the background). The grid is
    * read back through Spark's statestore data source
    * ([[lineDfFromState]]) — no parquet fold ever runs, and because
    * the state commits atomically with the source's file-tracking
    * progress in ONE checkpoint, the fold design's crash window
    * (lines landed, counts never folded) cannot exist here: a wiped
    * checkpoint replays EVERYTHING into fresh state and converges by
    * construction. Line TEXT still lives in the `_lines` store
    * (crawlIngestTick / curatedCrawlTick) — this replaces only the
    * grid-maintenance term, the one the decade showed dominating.
    * At cluster scale the state store provider is RocksDB
    * (spark.sql.streaming.stateStore.providerClass), keeping the
    * 100 TB-tier key space off-heap.
    */
  def dfStateTick(spark: SparkSession, stagingDir: String,
                  gridCkpt: String, minChars: Int = 20): Unit = {
    val docs = spark.readStream
      .schema("doc_id LONG, html STRING")
      .parquet(stagingDir)
    gridStateDrain(spark, docs, gridCkpt, minChars,
      // the state IS the artifact; the changed-cell stream just needs
      // a full-partition pass (noop write) — a foreachBatch that skips
      // the frame entirely never commits the state stores
      // (STATE_STORE_COMMIT_VALIDATION_FAILED)
      b => b.write.format("noop").mode("overwrite").save())
    warnRestaged(spark, gridCkpt)
  }

  /** RocksDB is the PINNED state store provider for the grid ticks
    * (VERDICT r18 #6): the HDFS-backed default holds every partition's
    * FULL key map on-heap — measured OOM at 14M keys on the ×1000
    * decade (SCALE.md §13) — while RocksDB keeps the corpus-scale key
    * space off-heap/on-disk, which is the contract a 100 TB grid needs
    * anyway. Set session-wide by the tick/read entry points themselves
    * (not left to the caller); idempotent. */
  private def pinRocksDb(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")

  /** The grid drain shared by [[dfStateTick]] and [[curatedCrawlTick]]:
    * per-doc distinct line hashes computed map-side (array_distinct
    * over the split — zero exchange, and batch-local per-doc distinct
    * ⇒ globally exact because every doc lands in exactly one batch)
    * UNIONED with one `d:<doc_id>` MARKER row per document, then
    * `groupBy(lh).count()` updating only the touched state keys —
    * O(batch) state I/O per tick. The markers serve two callers
    * (ADVICE r18): (a) a marker cell whose count exceeds 1 is EXACT,
    * LOUD evidence that the staging contract (each doc staged exactly
    * once) was violated and the grid cells for that doc's lines are
    * inflated — [[restagedDocs]]/[[warnRestaged]] read them back; (b)
    * the changed-cell stream's marker rows identify THIS batch's docs,
    * which [[curatedCrawlTick]] persists as its dirty-batch set before
    * the checkpoint commits. Marker keys add n_docs state entries next
    * to n_lines line cells (~1 per 10–15 on this corpus shape) and are
    * filtered out of every grid read ([[lineDfFromState]]); "d:" can
    * never collide with an md5 hex line hash.
    *
    * NOTE: no dropDuplicates on the stream — that is a second stateful
    * operator (unbounded dedup state). The exactness contract stays
    * the staging one; markers make violations detectable instead of
    * silent.
    */
  private def gridStateDrain(spark: SparkSession, docs: DataFrame,
                             gridCkpt: String, minChars: Int,
                             sink: DataFrame => Unit): Unit = {
    pinRocksDb(spark)
    val lineCells = graft.text.Html.mainContent(docs, "doc_id", "html",
        minChars)
      .select(explode(array_distinct(transform(
        filter(split(col("main_text"), "\n"), l => length(l) > 0),
        l => md5(l)))).as("lh"))
    val markers = docs.select(
      concat(lit("d:"), col("doc_id").cast("string")).as("lh"))
    drain(lineCells.unionByName(markers).groupBy(col("lh")).count(),
      gridCkpt, outputMode = "update")(sink)
  }

  /** Staging-contract violations recorded in the state grid: doc ids
    * whose marker cell counted more than one staging (each doc must be
    * staged exactly once — the file source dedups FILES, not doc ids).
    * A non-empty result means the grid cells for these docs' lines are
    * inflated; heal by wiping the grid checkpoint and re-draining a
    * deduplicated staging. */
  def restagedDocs(spark: SparkSession, gridCkpt: String): DataFrame = {
    pinRocksDb(spark)
    spark.read.format("statestore").load(gridCkpt)
      .select(col("key.lh").as("lh"),
        col("value.count").cast("long").as("n_staged"))
      .filter(col("lh").startsWith("d:") && col("n_staged") > 1L)
      .select(substring(col("lh"), 3, 20).cast("long").as("doc_id"),
        col("n_staged"))
  }

  /** Loud per-tick check over [[restagedDocs]] (ADVICE r18: a caller
    * contract violation must be loud, not silently corrupt frequency
    * truth). Stderr only — the grid stays serviceable for the
    * unaffected keys and the heal path is the caller's call. */
  private def warnRestaged(spark: SparkSession, gridCkpt: String): Unit = {
    val bad = restagedDocs(spark, gridCkpt).limit(20).collect()
    if (bad.nonEmpty)
      System.err.println("[grid-tick] RE-STAGED DOC IDS DETECTED — " +
        "the staging contract is one staging per doc; the state grid " +
        "counted these more than once (their lines' df cells are " +
        "inflated): " +
        bad.map(r => s"${r.getLong(0)}×${r.getLong(1)}").mkString(", ") +
        " — wipe the grid checkpoint and re-drain a deduped staging " +
        "to heal")
  }

  /** The standing line-df grid straight out of [[dfStateTick]]'s state
    * store — (lh, line_df), the same shape as the `_linedf` parquet
    * fold, read via the statestore data source (one scan of the last
    * snapshot + deltas, no aggregation). Doc-marker cells are filtered
    * out; the provider is pinned to match what the ticks wrote. */
  def lineDfFromState(spark: SparkSession, gridCkpt: String): DataFrame = {
    pinRocksDb(spark)
    spark.read.format("statestore").load(gridCkpt)
      .select(col("key.lh").as("lh"),
        col("value.count").cast("long").as("line_df"))
      .filter(!col("lh").startsWith("d:"))
  }

  /** Boilerplate-filtered corpus with the grid coming from STATE
    * instead of the parquet fold — [[graft.text.TextOps.lineFilteredCorpus]]'s
    * exact read-face contract over `linesDir` ⋈ [[lineDfFromState]]. */
  def lineFilteredCorpusFromState(spark: SparkSession, linesDir: String,
                                  gridCkpt: String,
                                  maxDocFreq: Long): DataFrame =
    graft.text.TextOps.lineFilterFromRows(
      spark.read.parquet(linesDir),
      lineDfFromState(spark, gridCkpt), maxDocFreq)

  /** CURATED-CRAWL TICK (VERDICT r17 #2; re-homed on the STATE GRID
    * r19, VERDICT r18 #1): the full q226 capstone made incremental
    * end-to-end. One tick runs three phases:
    *
    *  1. LINE DRAIN (`checkpointDir`): [[linesAppendBatch]] — HTML
    *     parsed ONCE per document, the (doc, line) grain appended to
    *     `outDir/_lines` under the replay probe. With `urlCol` set the
    *     batch first passes the FUZZY-URL FRONTIER (VERDICT r18 #2):
    *     within-batch keepers via [[graft.text.TextOps.urlDedup]],
    *     then the persisted `_urls` index (canon_key → keeper) —
    *     first-arrival-wins across ticks, the corpusIngestTick
    *     streaming contract; only keeper docs are ingested, exactly
    *     where a production crawl dedups (before fetch/curate, the
    *     q230 composition). New keys append to `_urls` BEFORE the
    *     line append so a crash between them replays into "key known,
    *     lines missing", which the next drain heals (the keeper
    *     semi-join re-admits the doc, the line probe re-appends).
    *  2. GRID DRAIN (`outDir/_gridckpt`): [[gridStateDrain]] — the
    *     line-df grid maintained as a STATEFUL STREAMING AGGREGATE,
    *     O(batch) state I/O per tick (the §13 answer to the measured
    *     Θ(grid) fold bound: ×1000 fold ticks grew 13.9→57.4 s while
    *     state ticks held 10.7–12.9 s flat). The changed-cell stream's
    *     doc-marker rows are persisted to `_pending` INSIDE
    *     foreachBatch — durable before the checkpoint commits, so the
    *     dirty-batch set can never be lost to a crash. Under the
    *     frontier the grid plan applies the same keeper semi-join
    *     (stream-static against `_urls`), so dropped duplicates never
    *     pollute frequency truth.
    *  3. RE-CURATE ([[recurateDirty]], plain idempotent batch code):
    *     recompute per-doc curated attrs for the DIRTY SET = `_pending`
    *     docs ∪ docs holding a line that CROSSED `maxDocFreq`.
    *     Crossings are derived from durable state only: grid cells
    *     over threshold MINUS the persisted `_over` handled-set —
    *     exact because df is monotone under appends (a crossing never
    *     reverses, and a handled line stays in `_over` forever), and
    *     crash-safe because every input survives a restart (state
    *     grid, `_over`, `_pending`). Attrs land in the VERSION-APPEND
    *     `_docs` store (max-tick-per-doc read face, tombstones for
    *     docs whose kept text emptied); `_over` is appended AFTER the
    *     attrs append and `_pending` cleared last, so a crash at any
    *     point re-runs a superset of the work and converges.
    *
    * The curated corpus itself stays a READ FACE
    * ([[graft.pipeline.CrawlCurate.fromStores]]): latest attrs per doc
    * → quality gate → exact dedup → banded LSH near-dup → pack, all
    * over stored narrow columns — re-curation never re-parses HTML,
    * never re-counts lines, never re-shingles. `maxDocFreq` is pinned
    * per curated index (the `_over` set bakes it), the
    * corpusIngestTick minJaccard precedent.
    */
  def curatedCrawlTick(spark: SparkSession, stagingDir: String,
                       outDir: String, checkpointDir: String,
                       maxDocFreq: Long = 9L, minChars: Int = 20,
                       urlCol: Option[String] = None): Unit = {
    pinRocksDb(spark)
    val gridCkpt = s"$outDir/_gridckpt"
    val urlsDir = s"$outDir/_urls"
    val schema = urlCol match {
      case Some(u) => s"doc_id LONG, $u STRING, html STRING"
      case None    => "doc_id LONG, html STRING"
    }
    // ---- phase 1: frontier keepers + line-grain append
    val docs1 = spark.readStream.schema(schema).parquet(stagingDir)
    drain(docs1, checkpointDir) { batch =>
      val sp = batch.sparkSession
      val b = batch.dropDuplicates("doc_id")
      val kept = urlCol match {
        case Some(u) =>
          // IndexMeta invariant (the q55 incremental-index shape): a
          // persisted frontier keyed under a DIFFERENT fuzzy-key
          // formula would silently split/merge URL groups — refuse
          // to serve it. fuzzy_v is the formula version, built_n the
          // key census.
          graft.sim.IndexMeta.read(sp, s"$urlsDir-meta",
              Seq("fuzzy_v", "built_n")).foreach { m =>
            require(m("fuzzy_v") == 1L,
              s"_urls index at $urlsDir was keyed under fuzzy-key " +
                s"formula v${m("fuzzy_v")}, this engine writes v1 — " +
                "rebuild the frontier index")
          }
          // within-batch fuzzy-key keepers; a key already in the
          // index keeps its FIRST keeper (anti-join is idempotent,
          // so a replayed batch never re-appends its keys)
          val batchKeep = graft.text.TextOps.urlDedup(b, "doc_id", u)
            .select(col("canon_key"), col("keeper_id"), col("canon_url"))
          val newKeys =
            (if (Fs.exists(sp, urlsDir))
              batchKeep.join(
                sp.read.parquet(urlsDir).select(col("canon_key")),
                Seq("canon_key"), "left_anti")
            else batchKeep).localCheckpoint(true)
          newKeys.write.mode("append").parquet(urlsDir)
          val prevN = graft.sim.IndexMeta.read(sp, s"$urlsDir-meta",
            Seq("fuzzy_v", "built_n"))
            .map(_("built_n")).getOrElse(0L)
          graft.sim.IndexMeta.write(sp, s"$urlsDir-meta", Seq(
            "fuzzy_v" -> 1L, "built_n" -> (prevN + newKeys.count())))
          // keepers-ever, re-read POST-append (this batch's keepers
          // included; replayed keepers self-identify)
          b.join(sp.read.parquet(urlsDir)
              .select(col("keeper_id").as("doc_id")).distinct(),
              Seq("doc_id"), "left_semi")
            .drop(u)
        case None => b
      }
      linesAppendBatch(kept, outDir, minChars); ()
    }
    // ---- phase 2: state-grid drain, dirty-batch capture to _pending
    val docs2raw = spark.readStream.schema(schema).parquet(stagingDir)
    val docs2 = urlCol match {
      case Some(u) =>
        val keepers =
          if (Fs.exists(spark, urlsDir))
            spark.read.parquet(urlsDir)
              .select(col("keeper_id")).distinct()
          else spark.range(0).select(col("id").as("keeper_id"))
        // stream-static semi join: phase 1 appended this tick's
        // keepers before this plan was built, so the static side is
        // current for every file this drain can see
        docs2raw.join(keepers,
            docs2raw("doc_id") === keepers("keeper_id"), "left_semi")
          .drop(u)
      case None => docs2raw
    }
    gridStateDrain(spark, docs2, gridCkpt, minChars, b => {
      b.persist()
      // marker cells = THIS batch's docs — durable before the
      // checkpoint commits (a crash replays the batch and re-appends
      // the same ids; `_pending` is a candidate set, so duplicates
      // are harmless and recompute is idempotent)
      b.filter(col("lh").startsWith("d:"))
        .select(substring(col("lh"), 3, 20).cast("long").as("doc_id"))
        .write.mode("append").parquet(s"$outDir/_pending")
      b.write.format("noop").mode("overwrite").save()
      b.unpersist(); ()
    })
    warnRestaged(spark, gridCkpt)
    // ---- phase 3: idempotent dirty re-curate from durable truth
    recurateDirty(spark, outDir, gridCkpt, maxDocFreq)
  }

  /** Phase 3 of [[curatedCrawlTick]] — recompute curated attrs for the
    * dirty set and maintain the `_over`/`_pending` bookkeeping. Every
    * input is durable (state grid, `_lines`, `_over`, `_pending`), so
    * re-running after a crash anywhere inside converges: `_docs` is
    * version-append, `_over` is appended only after the attrs landed,
    * `_pending` cleared last. Scale shape: the grid is consumed twice,
    * both as STATE SCANS with no grid-sized shuffle — the
    * over-threshold filter (small output by the boilerplate-threshold
    * definition) and the dirty-lines cell lookup (semi-join pruned to
    * the dirty docs' line hashes via the measured-size gate before the
    * df join, so join inputs stay O(dirty)). */
  private def recurateDirty(spark: SparkSession, outDir: String,
                            gridCkpt: String, maxDocFreq: Long): Unit = {
    import graft.pipeline.CrawlCurate
    import graft.text.TextOps
    val pendDir = s"$outDir/_pending"
    val overDir = s"$outDir/_over"
    val linesDir = s"$outDir/_lines"
    def exists(d: String) = Fs.exists(spark, d)
    val pending = ParquetCompact.readIfExists(spark, pendDir)
    if (pending.isEmpty || !exists(linesDir)) return // nothing staged yet
    val grid = lineDfFromState(spark, gridCkpt)
    // crossings from durable state: over-threshold cells not yet
    // handled (df is monotone ⇒ once over, always over; `_over` is the
    // handled-set). Checkpointed: feeds crossedDocs AND its own append.
    val over = grid.filter(col("line_df") > maxDocFreq).select(col("lh"))
    val newOver = (if (exists(overDir))
        over.join(spark.read.parquet(overDir), Seq("lh"), "left_anti")
      else over).localCheckpoint(true)
    val linesStore = spark.read.parquet(linesDir)
    val crossedDocs = TextOps.sizedSemiJoin(linesStore, newOver, "lh")
      .select(col("doc_id")).distinct()
    val dirty = pending.get.unionByName(crossedDocs).distinct()
      .localCheckpoint(true)
    if (dirty.count() > 0) {
      // dirty docs' line rows (checkpointed: consumed by the cell
      // lookup and the filter join), then ONLY their grid cells
      val dirtyLines = TextOps.sizedSemiJoin(linesStore, dirty, "doc_id")
        .localCheckpoint(true)
      val cells = TextOps.sizedSemiJoin(grid,
        dirtyLines.select(col("lh")).distinct(), "lh")
      val kept = TextOps.lineFilterFromRows(dirtyLines, cells, maxDocFreq)
      val attrs = CrawlCurate.baseAttrs(CrawlCurate.cleanedFromKept(kept))
        // token count at BATCH grain, one plan (baseAttrs leaves the
        // kernel out on purpose — its scaladoc's compile-term note)
        .withColumn("n_tokens",
          TextOps.tokenCountFast(spark, col("text")).cast("long"))
        .localCheckpoint(true) // feeds signatures + the two appends
      val sig = CrawlCurate.signatures(attrs)
      // version = max stored tick + 1 (self-contained: a replay after
      // a partial append lands at a HIGHER version, so max-tick reads
      // never see duplicates)
      val tick = (if (exists(s"$outDir/_docs"))
          spark.read.parquet(s"$outDir/_docs")
            .agg(max(col("tick"))).head().getLong(0)
        else 0L) + 1L
      val aliveRows = attrs
        .join(sig, attrs("doc_id") === sig("id"), "left_outer")
        .select(col("doc_id"), col("text"), col("pred_lang"),
          col("quality"), col("n_tokens"), col("content_hash"),
          col("bands"), col("sh"),
          lit(true).as("alive"), lit(tick).as("tick"))
      // docs whose kept text emptied (or never had lines): tombstone
      val dead = dirty
        .join(attrs.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(null).cast("string").as("text"),
          lit(null).cast("string").as("pred_lang"),
          lit(null).cast("double").as("quality"),
          lit(null).cast("long").as("n_tokens"),
          lit(null).cast("string").as("content_hash"),
          lit(null).cast("array<string>").as("bands"),
          lit(null).cast("array<long>").as("sh"),
          lit(false).as("alive"), lit(tick).as("tick"))
      aliveRows.unionByName(dead).write.mode("append")
        .parquet(s"$outDir/_docs")
    }
    // append only when there are new crossings (a 0-row parquet file
    // per cron tick would accumulate into a small-file scan tax)
    if (newOver.count() > 0 || !exists(overDir))
      newOver.write.mode("append").parquet(overDir)
    // clear LAST: a crash before this line re-runs the docs above as a
    // harmless superset next tick
    ParquetCompact.replace(spark, pendDir)(
      spark.range(0).select(col("id").as("doc_id")).write.parquet(_))
  }

  /** STREAMING DRIFT MONITOR: one `Trigger.AvailableNow` tick drains
    * newly staged docs, folds their log₂ length buckets into the
    * persisted (group, bucket) count grid (`Calibrate.psiGrid` — the
    * grid is MERGEABLE by cell-wise add, the manifest-maintenance
    * algebra), and rewrites the current per-source PSI table from the
    * merged cells. Cost per tick = one pass over the NEW docs plus
    * cell-grid arithmetic — the corpus is never re-read, yet the PSI
    * out of the maintained grid is BIT-IDENTICAL to the batch
    * `psiByGroup` over everything ingested so far (StreamingSpec pins
    * this across multi-tick arrivals). The grid and the PSI table are
    * each replaced whole ([[ParquetCompact.replace]]), so a crashed
    * tick keeps the last good grid.
    */
  def driftMonitorTick(spark: SparkSession, stagingDir: String,
                       monitorDir: String, checkpointDir: String): Unit = {
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING, source STRING, n_chars LONG")
      .option("header", "true")
      .csv(stagingDir)
    drain(docs, checkpointDir) { batch =>
      import graft.text.Calibrate
      val sp = batch.sparkSession
      val gridDir = s"$monitorDir/_grid"
      val psiDir = s"$monitorDir/psi"
      val fresh = Calibrate.psiGrid(batch, "source", col("n_chars"))
      val merged = ParquetCompact.readIfExists(sp, gridDir) match {
        case Some(standing) => standing.unionByName(fresh)
          .groupBy(col("grp"), col("bucket")).agg(sum(col("c")).as("c"))
        case None => fresh
      }
      ParquetCompact.replace(sp, gridDir)(merged.write.parquet(_))
      ParquetCompact.replace(sp, psiDir)(
        Calibrate.psiFromGrid(sp.read.parquet(gridDir)).write.parquet(_))
    }
  }
}
