package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.{NearDup, Terms, TextOps}

/** The crawl-curation capstone (q226) factored into reusable stages so
  * the ONE-SHOT batch pipeline and the incremental curated-crawl tick
  * ([[graft.streaming.StreamingIngest.curatedCrawlTick]]) execute the
  * SAME stage code — bit-exact parity between them reduces to the
  * line-store equivalence the r17 crawl tick already pins.
  *
  * Stage map (order audited in PLANS.md r17 — boilerplate removal
  * before langid/quality/near-dup is load-bearing):
  *   HTML extract → line-df boilerplate filter → [[cleanedFromKept]] →
  *   [[baseAttrs]] (langid, quality, token count, content hash) →
  *   [[curate]] (quality gate → exact dedup → LSH near-dup → pack).
  */
object CrawlCurate {

  /** Boilerplate-filtered rows → the cleaned text frame the token
    * stages consume: newline→space re-join (the shared split-on-space
    * grammar needs word boundaries) and the empty-document exit. */
  def cleanedFromKept(kept: DataFrame): DataFrame =
    kept.select(col("doc_id"),
        translate(col("kept_text"), "\n", " ").as("text"))
      .filter(length(col("text")) > 0)

  /** Per-document curated attributes over cleaned text — langid shard
    * key, quality score, content hash. All per-row pure functions (one
    * map-only pass): the columns the curated tick persists per doc and
    * the read face re-curates from without ever touching text again.
    * Deliberately NO token-count kernel here: a custom-codegen kernel
    * in this chain lands in BOTH branches of the exact-dedup join plan
    * and pays the F4 compile term twice per run (measured +2 s on
    * q226 at the r18 close, by a stage-split run); [[curate]] computes
    * n_tokens in the PACK plan instead (once, post-checkpoint, the
    * original q226 placement), and the tick adds it as a separate
    * batch-grain column. */
  def baseAttrs(cleaned: DataFrame): DataFrame =
    TextOps.withLangId(cleaned, "text", "pred_lang")
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .withColumn("content_hash", md5(col("text")))

  /** Signature rows (id, bands, sh) for a doc frame — the per-doc pure
    * LSH state ([[NearDup.signatureIndex]] over 3-word shingles, the
    * q226/q35 family). */
  def signatures(docs: DataFrame): DataFrame =
    NearDup.signatureIndex(
      TextOps.wordShingleRows(docs, "doc_id", "text", 3))

  /** Stages 4–6 of the capstone over prebuilt attrs: quality gate →
    * exact dedup (min-id keeper per content hash) → LSH near-dup drop
    * (J ≥ minJaccard, cluster keeper = min id) → per-predicted-lang
    * sequence packing. `signer` supplies (id, bands, sh) signature rows
    * for (at least) the exact-dedup survivors it is handed: the
    * one-shot path computes them live (shingle pass over survivors
    * only — the registered q226 cost shape), the tick read face
    * semi-joins its PERSISTED per-doc signatures, so re-curation never
    * re-shingles the corpus. */
  def curate(attrs: DataFrame, signer: DataFrame => DataFrame,
             minQuality: Double = 0.55, minJaccard: Double = 0.5,
             blockTokens: Int = 256): DataFrame = {
    val gated = attrs.filter(col("quality") >= minQuality)
    val keepers = gated.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"))
      .select(col("keeper_id"))
    // quality/content_hash are SPENT after the gate + keeper agg — drop
    // them before the probe branch so column pruning removes their
    // expressions from it (on the one-shot path `quality` is ~10
    // tokenize passes per row; carrying it as a projected column
    // through the checkpoint measured +2 s on q226 at the r18 close,
    // by a stage-split run — the filter evaluates it, the projection must
    // not re-evaluate it)
    // (r19 note: a row_number()-window form of this dedup — one pass,
    // one exchange — was tried and REJECTED by the ×10 A/B: it ships
    // full text rows through the content_hash exchange where this
    // shape ships 16-byte hashes to the keeper agg and broadcasts the
    // keeper ids back — guide §2.3's shuffle-metadata-not-payloads.
    // ×10: window 18.5 s vs this 13.5 s on q226.)
    val exact = gated.drop("quality", "content_hash")
      .join(keepers, col("doc_id") === col("keeper_id"), "left_semi")
      // EAGER (q61 doctrine): consumed by pair materialization + final
      .localCheckpoint(true)
    val pairs = NearDup.lshPairsFromIndex(signer(exact))
      .filter(col("jaccard") >= minJaccard)
    val dropNear = NearDup.dedupClusters(pairs, "id_a", "id_b")
      .filter(col("doc_id") =!= col("keeper_id")).select(col("doc_id"))
    val deduped = exact.join(dropNear, Seq("doc_id"), "left_anti")
    // n_tokens: stored column on the tick path; computed HERE (the
    // pack plan — one kernel compile, post-checkpoint) on the one-shot
    // path. Same value either way (the kernel is a pure row function).
    val nTokens =
      if (attrs.columns.contains("n_tokens")) col("n_tokens")
      else TextOps.tokenCountFast(attrs.sparkSession, col("text"))
        .cast("long")
    Terms.packPrepared(
      deduped.select(col("doc_id"), col("pred_lang").as("shard"),
        nTokens.as("n_tokens")),
      blockTokens = blockTokens, orderCols = Seq("doc_id"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("start_tok"), col("chunk"))
  }

  /** The one-shot capstone over raw-HTML documents (doc_id, html) —
    * the q226 registration body. */
  def oneShot(docs: DataFrame, maxDocFreq: Long = 9L,
              minQuality: Double = 0.55, minJaccard: Double = 0.5,
              blockTokens: Int = 256): DataFrame = {
    // (r19 adjudication: checkpointing the doc-grain mainContent output
    // so the line-frequency filter's two consumers share ONE codec pass
    // was tried and measured a WASH at both sf0.1 and ×10 — the saved
    // codec pass is bought back by the corpus-size block write+read —
    // so the simpler two-pass shape stays.)
    val cleaned = cleanedFromKept(
      TextOps.lineFrequencyFilter(
        graft.text.Html.mainContent(docs, "doc_id", "html")
          .select(col("doc_id"), col("main_text")),
        "doc_id", "main_text", maxDocFreq = maxDocFreq))
      // EAGER (q61 doctrine): the codec map + two line-frequency
      // exchanges feed the langid/quality/dedup chain's multiple
      // executions downstream
      .localCheckpoint(true)
    curate(baseAttrs(cleaned), signatures, minQuality, minJaccard,
      blockTokens)
  }

  /** READ FACE of the curated-crawl artifact: re-curate from the
    * PERSISTED per-doc attrs + signatures maintained by
    * [[graft.streaming.StreamingIngest.curatedCrawlTick]]. Latest
    * version per doc (ticks append, never rewrite), tombstones drop,
    * then [[curate]] over the stored narrow columns — no HTML parse,
    * no line re-count, no shingle pass: the corpus-global stages (two
    * keyed aggregates, the banded candidate join over stored band
    * hashes, one pack window over (id, shard, n_tokens)) are the only
    * work, which is the floor for frequency-true global dedup. */
  def fromStores(spark: SparkSession, outDir: String,
                 minQuality: Double = 0.55, minJaccard: Double = 0.5,
                 blockTokens: Int = 256): DataFrame = {
    val docs = latestDocAttrs(spark, outDir)
    curate(
      docs.drop("bands", "sh"),
      survivors => docs.select(col("doc_id").as("id"), col("bands"),
        col("sh"))
        .join(survivors.select(col("doc_id").as("id")), Seq("id"),
          "left_semi")
        .filter(col("bands").isNotNull),
      minQuality, minJaccard, blockTokens)
  }

  /** Current per-doc curated attrs from the `_docs` store: max-tick row
    * per doc_id (a version-append store — replays append higher
    * versions and converge), dead docs (kept text emptied by late
    * boilerplate) dropped. */
  def latestDocAttrs(spark: SparkSession, outDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$outDir/_docs")
    val latest = raw.groupBy(col("doc_id").as("__d"))
      .agg(max(col("tick")).as("__t"))
    raw.join(latest,
        col("doc_id") === col("__d") && col("tick") === col("__t"))
      .filter(col("alive"))
      .drop("__d", "__t", "alive", "tick")
  }
}
