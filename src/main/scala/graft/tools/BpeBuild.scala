package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sim.IndexMeta
import graft.storage.{Fs, ParquetCompact}
import graft.streaming.StreamingIngest
import graft.text.Bpe

/** TOKENIZER ARTIFACT LIFECYCLE (VERDICT r17 #3 — the IvfPqBuild analog
  * for BPE). Production tokenizes MANY corpora/ticks against ONE frozen
  * tokenizer; this tool persists the trained rules and serves them:
  *
  *  - `build <sfDir> <indexDir> [merges=256] [blockTokens=256]` —
  *    train on the corpus ([[Bpe.trainBpe]], recount trainer — the
  *    measured winner, SCALE.md §12), persist `merges/` (rank, sym_l,
  *    sym_r, pair_count), `vocab/` (subword, token_id — the q221
  *    count-desc/subword-asc numbering, frozen forever), and the
  *    IndexMeta row `_meta` (invariants: n_merges, vocab_size,
  *    block_tokens; census: built_docs).
  *  - `tokenize <indexDir> <sfDir> <outDir>` — one-shot tokenize+pack
  *    of a corpus through the REOPENED artifact
  *    ([[Bpe.tokenizeWithTrained]]); BpeSpec pins bit-parity with the
  *    self-trained [[Bpe.tokenizePack]] whenever the corpus is the
  *    training corpus itself. Unseen symbols map to token_id = -1 (the
  *    UNK contract — a frozen tokenizer never renumbers).
  *  - `tokenizetick <indexDir> <stagingDir> <outDir> <ckptDir>` — one
  *    AvailableNow tick: drain staged doc batches, tokenize through
  *    the frozen rules, append to `outDir/tokens`, and fold each
  *    shard's running token offset into `outDir/_shard_offsets` so the
  *    NEXT batch's global_tok continues where this one ended —
  *    two-tick ≡ one-shot numbering holds whenever batches arrive in
  *    doc-id order per shard (the q59 packing order; spec-pinned).
  *    Replay-safe the crawl-tick way: batch docs already present in
  *    the token store are dropped (column-pruned id probe), and a
  *    detected replay REBUILDS the offsets from the store instead of
  *    folding (healing the crash window between the token append and
  *    the offset fold).
  *
  * Scale shape: the per-tick cost is the batch's segment kernel chain
  * (merge-count × map-only codegen passes, checkpoint-batched) plus
  * one doc-keyed window over BATCH rows only — the standing corpus is
  * never re-read except the id probe and the (shard, base) row fold,
  * both O(shards + batch). The artifact itself is O(merges + vocab):
  * kilobytes, broadcast everywhere.
  */
object BpeBuild {

  def metaCols: Seq[String] =
    Seq("n_merges", "vocab_size", "block_tokens", "built_docs")

  def build(spark: SparkSession, sfDir: String, indexDir: String,
            numMerges: Int, blockTokens: Int): (Long, Long) = {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val (merges, words) = Bpe.trainBpe(docs, "text", numMerges)
    merges.coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/merges")
    // the q221 vocabulary numbering over the TRAINING corpus's final
    // word state: count desc, subword asc — deterministic, frozen
    import org.apache.spark.sql.expressions.Window
    val vocab = words
      .select(explode(col("syms")).as("subword"), col("wc"))
      .groupBy(col("subword")).agg(sum(col("wc")).as("vc"))
      .select(col("subword"),
        (row_number().over(Window.orderBy(col("vc").desc,
          col("subword").asc)) - 1).cast("long").as("token_id"))
    vocab.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/vocab")
    val nm = spark.read.parquet(s"$indexDir/merges").count()
    val nv = spark.read.parquet(s"$indexDir/vocab").count()
    IndexMeta.write(spark, s"$indexDir/_meta", Seq(
      "n_merges" -> nm, "vocab_size" -> nv,
      "block_tokens" -> blockTokens.toLong,
      "built_docs" -> docs.count()))
    (nm, nv)
  }

  /** Reopen the artifact: verify the meta invariants against the
    * tables actually on disk (LOUD mismatch — never tokenize through a
    * torn artifact), return (merges, vocab, blockTokens). */
  def open(spark: SparkSession, indexDir: String)
      : (DataFrame, DataFrame, Int) = {
    val meta = IndexMeta.read(spark, s"$indexDir/_meta", metaCols)
      .getOrElse(sys.error(s"no tokenizer meta at $indexDir/_meta"))
    val merges = spark.read.parquet(s"$indexDir/merges")
    val vocab = spark.read.parquet(s"$indexDir/vocab")
    require(merges.count() == meta("n_merges") &&
        vocab.count() == meta("vocab_size"),
      s"tokenizer artifact at $indexDir is torn: tables disagree with _meta")
    (merges, vocab, meta("block_tokens").toInt)
  }

  def tokenize(spark: SparkSession, indexDir: String, sfDir: String,
               outDir: String): Long = {
    val (merges, vocab, blockTokens) = open(spark, indexDir)
    val out = Bpe.tokenizeWithTrained(
      graft.core.Tables.documents(spark, sfDir),
      "doc_id", "text", "lang", merges, vocab, blockTokens)
    out.write.mode("overwrite").parquet(outDir)
    spark.read.parquet(outDir).count()
  }

  def tokenizeTick(spark: SparkSession, indexDir: String,
                   stagingDir: String, outDir: String,
                   ckptDir: String): Unit = {
    val (merges, vocab, blockTokens) = open(spark, indexDir)
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING, shard STRING")
      .parquet(stagingDir)
    StreamingIngest.drain(docs, ckptDir) { batch =>
      val sp = batch.sparkSession
      val tokensDir = s"$outDir/tokens"
      val offDir = s"$outDir/_shard_offsets"
      val uniq = batch.dropDuplicates("doc_id").localCheckpoint(true)
      // replay probe: batch docs already in the token store
      val (fresh, replay) =
        if (Fs.exists(sp, tokensDir)) {
          val ingested = StreamingIngest.storedIds(sp.read.parquet(tokensDir),
            uniq, "doc_id")
          (uniq.join(broadcast(ingested), Seq("doc_id"), "left_anti"),
            ingested.count() > 0)
        } else (uniq, false)
      val standing = ParquetCompact.readIfExists(sp, offDir)
      // base offsets for THIS batch's fresh docs (ADVICE r18): on a
      // detected replay the standing _shard_offsets may be stale (a
      // crash between the token append and the offset fold), so a
      // replayed batch that also carries fresh docs must NOT tokenize
      // them against it — colliding global_tok values appended here
      // could never be repaired by a later offsets rebuild. Rebuild
      // the per-shard bases from the token store FIRST (checkpointed:
      // the frame is read before the append and consumed after it,
      // and it feeds both the tokenize plan and the offset fold) and
      // tokenize against those; the fold below then runs the same
      // base + batch arithmetic on either path.
      val baseOff = if (replay) {
        System.err.println("[bpe-tick] replay detected — rebuilding " +
          "shard offsets from the token store BEFORE tokenizing, " +
          "healing any crash window between append and offset fold")
        Some(sp.read.parquet(tokensDir).groupBy(col("shard"))
          .agg(count(lit(1)).as("base_tok")).localCheckpoint(true))
      } else standing
      val packed = Bpe.tokenizeWithTrained(fresh, "doc_id", "text",
          "shard", merges, vocab, blockTokens,
          baseOffsets = baseOff)
        .localCheckpoint(true) // feeds the append AND the offset fold
      packed.write.mode("append").parquet(tokensDir)
      val batchCounts = packed.groupBy(col("shard"))
        .agg(count(lit(1)).as("base_tok"))
      val newOffsets = baseOff match {
        case Some(st) => st.unionByName(batchCounts)
          .groupBy(col("shard"))
          .agg(sum(col("base_tok")).as("base_tok"))
        case None => batchCounts
      }
      ParquetCompact.replace(sp, offDir)(newOffsets.write.parquet(_))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: BpeBuild build <sfDir> <indexDir> " +
      "[merges] [blockTokens] | tokenize <indexDir> <sfDir> <outDir> | " +
      "tokenizetick <indexDir> <stagingDir> <outDir> <ckptDir>")
    def arg(i: Int, d: Int) = if (args.length > i) args(i).toInt else d
    val spark = ToolSession.local()
    args(0) match {
      case "build" =>
        val t0 = System.nanoTime()
        val (nm, nv) = build(spark, args(1), args(2),
          numMerges = arg(3, 256), blockTokens = arg(4, 256))
        println(f"[bpebuild] trained $nm merges / $nv vocab at ${args(2)} " +
          f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "tokenize" =>
        val t0 = System.nanoTime()
        val n = tokenize(spark, args(1), args(2), args(3))
        println(f"[bpebuild] tokenized ${args(2)} -> $n token rows " +
          f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      case "tokenizetick" =>
        val t0 = System.nanoTime()
        tokenizeTick(spark, args(1), args(2), args(3), args(4))
        println(f"[bpebuild] tick drained in " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
