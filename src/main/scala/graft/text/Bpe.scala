package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Checkpoints, Sizing}
import graft.plans.ArrayOps

/** Byte-Pair-Encoding tokenizer TRAINING at corpus scale (Sennrich et
  * al. 2016, public) — the "learn the tokenizer from the data" step of
  * a pretraining pipeline, re-expressed the way BPE is actually trained:
  * one corpus pass builds the word-frequency table (the only
  * corpus-sized shuffle), and every merge round after that runs on the
  * VOCABULARY (Heaps-bounded — millions of rows for a 100 TB corpus,
  * not trillions), weighted by word counts.
  *
  * Round shape: adjacent-pair counts come from a zip-slice explode over
  * the symbol arrays (pure codegen, one vocabulary-keyed aggregate);
  * the argmax pair is a deterministic (count desc, pair asc) head; the
  * merge application is the `BpeMergePair` codegen kernel — a pure
  * projection, no shuffle — followed by a LAZY checkpoint that the next
  * round's aggregate materializes (the dedupClusters job-folding
  * doctrine), with superseded blocks released per round.
  *
  * No end-of-word marker is appended — merges never cross word
  * boundaries because symbols live inside per-word arrays; a deployment
  * wanting GPT-style boundary symbols appends one to `initWords`'s
  * split. Pair counting counts OVERLAPPING occurrences ("aaa" has two
  * (a,a) pairs — the standard statistic); application is greedy
  * left-to-right non-overlapping ("aaaa" → [aa, aa]).
  */
object Bpe {

  /** Storage level for every BPE checkpoint (round states, segment
    * batches, the word-grain position frame): DISK_ONLY, measured at
    * the ×1000 decade (r17, SCALE.md §12). The word table is
    * vocabulary-bounded but the salted ∝N-vocab tier makes it 27.5M
    * rows at 5M docs — the default MEMORY_AND_DISK blocks pinned the
    * unified manager's protected storage pool and starved the next
    * round's pair-count hash aggregate into
    * UNABLE_TO_ACQUIRE_MEMORY at the default 8 GiB heap. Disk blocks
    * take no storage-pool memory; at gate SF the states are <1 MB and
    * the round-trip is noise (q221's sf0.1 column held).
    */
  private val DiskOnly = org.apache.spark.storage.StorageLevel.DISK_ONLY

  /** THE training order — (count desc, pair asc) — defined once: the
    * tie-break is reproducibility-critical and q91's oracle checks it
    * through [[topPairs]], so [[trainBpe]] must consume the identical
    * definition or a drift would be invisible to the gate.
    */
  private def mergeOrder: Seq[org.apache.spark.sql.Column] =
    Seq(col("pair_count").desc, col("sym_l").asc, col("sym_r").asc)

  /** The distinct-word frequency table — the one corpus-sized pass. */
  def wordFreq(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextOps.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))

  /** Initial BPE state: every word as its character-symbol array. */
  def initWords(df: DataFrame, textCol: String): DataFrame =
    wordFreq(df, textCol).withColumn("syms", split(col("word"), ""))

  /** Adjacent-pair counts over the current symbol state, weighted by
    * word count, overlaps included. Words with a single symbol left
    * contribute nothing (slice with non-positive length is an error,
    * not an empty array — hence the filter).
    */
  def pairCounts(words: DataFrame): DataFrame =
    words.filter(size(col("syms")) >= 2)
      .select(col("wc"), explode(arrays_zip(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
      .groupBy(col("p.0").as("sym_l"), col("p.1").as("sym_r"))
      .agg(sum(col("wc")).as("pair_count"))

  /** The top `k` merge CANDIDATES of the current state, rank-ordered by
    * (count desc, pair asc) — the deterministic tie-break every
    * training run must share to be reproducible. The pair table is
    * symbol-alphabet-bounded, so the unpartitioned rank window is a
    * bounded single task by construction.
    */
  def topPairs(words: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    pairCounts(words)
      .withColumn("rank", row_number().over(Window.orderBy(mergeOrder: _*)))
      .filter(col("rank") <= k)
      .select("rank", "sym_l", "sym_r", "pair_count")
  }

  /** Tokenizer INFERENCE: segment arbitrary text with an already-trained
    * merge list — the deploy-side half of [[trainBpe]]. Each merge is
    * one kernel projection applied in training order (order is the BPE
    * contract: rule k can only fire on symbols rules 1..k-1 built);
    * every `batchMerges` projections an eager checkpoint truncates the
    * plan, because a thousand-deep expression tree would blow codegen
    * and analysis time (the iterative-frame doctrine). Emits
    * (doc_id, word_pos, syms).
    *
    * `merges` is collected to the driver — it is the tokenizer ARTIFACT
    * (vocab-budget-bounded, e.g. 32k rules), not data.
    */
  def segment(df: DataFrame, idCol: String, textCol: String,
              merges: DataFrame, batchMerges: Int = 32): DataFrame = {
    val spark = df.sparkSession
    val rules = merges.orderBy(col("merge_rank").asc)
      .select("sym_l", "sym_r")
      .collect().map(r => (r.getString(0), r.getString(1)))
    var out = df.select(col(idCol).as("doc_id"),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("word_pos", "word")))
      .select(col("doc_id"), col("word_pos"), split(col("word"), "").as("syms"))
    var prev: DataFrame = null
    rules.zipWithIndex.foreach { case ((l, r), i) =>
      out = out.withColumn("syms",
        ArrayOps.bpeMergePair(spark, col("syms"), lit(l), lit(r)))
      if ((i + 1) % batchMerges == 0) {
        val ck = out.localCheckpoint(true, DiskOnly)
        if (prev != null) Checkpoints.release(prev)
        prev = ck
        out = ck
      }
    }
    out
  }

  /** END-TO-END TRAINED-BPE TOKENIZATION (VERDICT r15 #1): the full
    * pretraining tokenization chain a deployment ships — train the
    * merge list on the corpus ([[trainBpe]], q91's machinery), apply
    * it to every document ([[segment]], the kernel chain), assign
    * SUBWORD ids from the trained vocabulary, and lay the token stream
    * out in the q59 per-shard packed order — one oracle-checkable frame
    * per subword occurrence:
    *
    *   (doc_id, shard, pos, subword, token_id, global_tok, chunk)
    *
    * where `pos` is the subword's 0-based position inside its document
    * (word order, then symbol order — the emission order of a
    * tokenizer), `token_id` is the vocabulary id (count desc, subword
    * asc — deterministic like q72's), `global_tok` = the q59 per-shard
    * running offset (docs in doc-id order) + pos, and `chunk` =
    * global_tok div blockTokens — the fixed-size training-sequence id.
    *
    * Scale shape: training is vocabulary-bounded per round (the
    * [[trainBpe]] contract); segmentation is the per-word kernel chain
    * (checkpoint-batched every `batchMerges` projections); subword
    * positions come from a WORD-grain per-doc prefix sum plus
    * post-explode arithmetic (no token-grain window — 5–10× fewer rows
    * through the sort, identical values by construction), and the
    * window runs EXACTLY ONCE: the vocab and offsets consumers read
    * the pre-window word grain (counts need no positions), so only the
    * final branch sorts (ADVICE r16 closed structurally — r17; the
    * frame is deliberately NOT checkpointed, see packTrained's
    * disk-budget note from the ×1000 measurement); the
    * VOCABULARY window is bounded by alphabet+numMerges rows by
    * construction (a single tiny task); the packing window is
    * [[Terms.packPrepared]] — per-shard independence. The only
    * corpus-sized exchanges are the doc-keyed word-grain window and
    * the doc-grain offsets join, both keyed on doc_id.
    *
    * Contract: `numMerges` must be well under the corpus' merge
    * capacity (every merge round must clear [[trainBpe]]'s minCount) —
    * the registered oracle unrolls EXACTLY numMerges rounds, so an
    * early stop would desynchronize the two engines. The registered
    * q221 uses 12 merges on a corpus whose 12th-round pair count is in
    * the thousands at the gate SF.
    */
  def tokenizePack(df: DataFrame, idCol: String, textCol: String,
                   shardCol: String, numMerges: Int, blockTokens: Int,
                   batchMerges: Int = 32,
                   maxBroadcastVocab: Long = Sizing.MaxBroadcastVocab): DataFrame = {
    val (merges, words) = trainBpe(df, textCol, numMerges)
    val nTrained = merges.count()
    require(nTrained == numMerges,
      s"tokenizePack: training stopped early ($nTrained of $numMerges " +
        "merges reached minCount) — the oracle unrolls exactly numMerges " +
        "rounds; lower numMerges for this corpus (or use " +
        "tokenizePackLoose, the non-oracle face)")
    packTrained(df, idCol, textCol, shardCol, merges, blockTokens,
      batchMerges, stateOpt = Some(words),
      maxBroadcastVocab = maxBroadcastVocab)
  }

  /** NON-ORACLE face of [[tokenizePack]] (VERDICT r16 — the contract
    * note on the strict `require`): trains AS MANY merges as the
    * corpus supports up to `numMerges` (rounds stop when no pair
    * reaches minCount) and packs with whatever was trained. The strict
    * face exists because the REGISTERED oracle unrolls exactly
    * numMerges rounds and an early stop would silently desynchronize
    * the engines; a production run with a realistic merge budget (8k+,
    * where the tail rounds of a small corpus legitimately dry up)
    * wants this face — same kernels, same packing, spec-pinned equal
    * to the strict face whenever training does complete.
    */
  def tokenizePackLoose(df: DataFrame, idCol: String, textCol: String,
                        shardCol: String, numMerges: Int, blockTokens: Int,
                        batchMerges: Int = 32,
                        maxBroadcastVocab: Long = Sizing.MaxBroadcastVocab): DataFrame = {
    val (merges, words) = trainBpe(df, textCol, numMerges)
    packTrained(df, idCol, textCol, shardCol, merges, blockTokens,
      batchMerges, stateOpt = Some(words),
      maxBroadcastVocab = maxBroadcastVocab)
  }

  /** Tokenize a corpus through a FROZEN, PERSISTED tokenizer (VERDICT
    * r17 #3 — the IvfPqBuild analog for BPE): same segment → positions
    * → ids → pack tail as [[tokenizePack]], but the merge table and the
    * VOCABULARY come from the artifact instead of being retrained, so
    * many corpora/ticks tokenize against one tokenizer. Two contract
    * deltas vs the self-trained face, both inherent to freezing:
    * subwords outside the frozen vocabulary map to token_id = -1 (the
    * UNK contract — a frozen tokenizer meeting unseen symbols must say
    * so, never renumber), and `baseOffsets` (shard, base_tok) lets a
    * TICK continue each shard's running token offset where the standing
    * corpus ended — global_tok = base + in-batch offset, which equals
    * the one-shot numbering whenever batches arrive in doc-id order
    * per shard (the q59 packing order; BpeSpec pins two-tick ≡
    * one-shot under that contract). */
  def tokenizeWithTrained(df: DataFrame, idCol: String, textCol: String,
                          shardCol: String, merges: DataFrame,
                          vocab: DataFrame, blockTokens: Int,
                          batchMerges: Int = 32,
                          baseOffsets: Option[DataFrame] = None): DataFrame =
    packTrained(df, idCol, textCol, shardCol, merges, blockTokens,
      batchMerges, vocabOpt = Some(vocab), baseOffsets = baseOffsets)

  /** The shared segment → positions → vocab ids → pack tail of the two
    * tokenizePack faces, over an already-trained merge table.
    * `stateOpt` = trainBpe's word-grain trained state (word, wc, syms),
    * passed ONLY when `df` is the training corpus itself.
    *
    * SELF-TRAINED SEGMENTATION REUSES THE TRAINING STATE (r20, guide
    * §1.2 #1 "don't compute things you throw away"): [[trainBpe]]'s
    * returned `words` frame IS the trained segmentation of every
    * distinct corpus word — the same `BpeMergePair` kernel applied in
    * the same training order to the same character split that
    * [[segment]] would re-derive. When the packing corpus is the
    * training corpus (both tokenizePack faces; every token is in
    * `words` by construction), segmentation is therefore ONE broadcast
    * hash join of the token stream against the vocabulary-bounded
    * state instead of `numMerges` corpus-wide kernel projections — and
    * because packTrained's consumers deliberately recompute the
    * segmented grain rather than checkpoint it (the ×1000 disk-budget
    * note below), the saving triples. Vocabulary over
    * `maxBroadcastVocab` (Heaps-bounded, but salted ∝N corpora cross
    * it) falls back to the kernel chain unchanged — a corpus-sized
    * token shuffle against an un-broadcastable vocab is not obviously
    * cheaper than map-only kernel passes, so past the measured bound
    * the shape stays the one the ×1000 run validated. BpeSpec pins
    * tier equality (maxBroadcastVocab = 0 vs default).
    */
  private def packTrained(df: DataFrame, idCol: String, textCol: String,
                          shardCol: String, merges: DataFrame,
                          blockTokens: Int, batchMerges: Int,
                          vocabOpt: Option[DataFrame] = None,
                          baseOffsets: Option[DataFrame] = None,
                          stateOpt: Option[DataFrame] = None,
                          maxBroadcastVocab: Long = Sizing.MaxBroadcastVocab): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // sized dispatch on the MEASURED vocab count (one scalar job over
    // trainBpe's already-materialized checkpoint blocks — the
    // sizedSemiJoin doctrine)
    val segState = stateOpt.filter(_.count() <= maxBroadcastVocab)
    val seg = segState match {
      case Some(st) =>
        df.select(col(idCol).as("doc_id"),
            posexplode(TextOps.tokens(col(textCol))).as(Seq("word_pos", "word")))
          .join(broadcast(st.select(col("word"), col("syms"))), Seq("word"))
          .select(col("doc_id"), col("word_pos"), col("syms"))
      case None => segment(df, idCol, textCol, merges, batchMerges)
    }
    // FAN-OUT AT SEG, WINDOW ONLY ON THE FINAL BRANCH (ADVICE r16,
    // re-planned r17 after the ×1000 measurement): the three consumers
    // (vocab, offsets, final) only SHARE the kernel-segmented word
    // grain — vocabulary counts need no positions (explode the symbol
    // arrays, count) and per-doc token counts need no positions (sum
    // of array sizes), so the corpus-scale doc-keyed window sort runs
    // EXACTLY ONCE, on the one branch that needs word_start. What each
    // extra consumer recomputes is the map-only kernel chain over the
    // scan — the NB-family rule (SCALE.md §12): a scan-grained frame's
    // recompute is one codegen pass, while CHECKPOINTING it at the
    // ×1000 decade writes ~corpus-sized blocks into the same disk
    // budget as the window sort's shuffle spill (measured: the r17
    // first cut eagerly checkpointed this frame and the decade run
    // died of disk exhaustion mid-sort — 270M words × symbol arrays,
    // blocks + spill > the box's scratch). ADVICE r16's 3×-window
    // recompute is gone structurally, not bought with storage.
    val wordPos = seg.withColumn("nsyms", size(col("syms")).cast("long"))
      .withColumn("word_start",
        sum(col("nsyms")).over(Window.partitionBy(col("doc_id"))
          .orderBy(col("word_pos"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("nsyms"))
    val pos = wordPos
      .select(col("doc_id"), col("word_start"),
        posexplode(col("syms")).as(Seq("sym_pos", "subword")))
      .withColumn("pos", col("word_start") + col("sym_pos"))
    // trained vocabulary: ≤ alphabet + numMerges distinct subwords by
    // construction — the rank window is a bounded single task. Counts
    // come from the PRE-window explode (one occurrence per subword —
    // identical multiset to pos's, position-free by construction).
    // A FROZEN vocabulary (tokenizeWithTrained) replaces this branch
    // entirely — ids come from the artifact, never recounted.
    // with the trained state in hand, occurrence counts need NO corpus
    // pass at all: each distinct word contributes its subword
    // multiset × its corpus frequency wc — the identical multiset the
    // seg-explode computes row by row
    val vocabCounts = segState match {
      case Some(st) => st.select(explode(col("syms")).as("subword"), col("wc"))
        .groupBy(col("subword")).agg(sum(col("wc")).as("vc"))
      case None => seg.select(explode(col("syms")).as("subword"))
        .groupBy(col("subword"))
        .agg(count(lit(1)).as("vc"))
    }
    val vocab = vocabOpt.getOrElse(
      vocabCounts.select(col("subword"),
        (row_number().over(Window.orderBy(col("vc").desc,
          col("subword").asc)) - 1).cast("long").as("token_id")))
    // per-doc token counts at WORD grain, pre-window (sum of per-word
    // symbol counts ≡ count of exploded subword rows)
    val packed = Terms.packPrepared(
      seg.groupBy(col("doc_id"))
        .agg(sum(size(col("syms")).cast("long")).as("n_tokens"))
        .join(df.select(col(idCol).as("doc_id"),
          col(shardCol).as("shard")), Seq("doc_id")),
      blockTokens, orderCols = Seq("doc_id"))
    // tick continuation: shift each shard's offsets past the standing
    // corpus (base_tok per shard, broadcast — one row per shard)
    val offsets = (baseOffsets match {
      case Some(base) => packed
        .join(broadcast(base.select(col("shard"),
          col("base_tok"))), Seq("shard"), "left_outer")
        .withColumn("start_tok",
          col("start_tok") + coalesce(col("base_tok"), lit(0L)))
      case None => packed
    }).select(col("doc_id"), col("shard"), col("start_tok"))
    val withIds = vocabOpt match {
      // frozen vocab: OOV subwords (unseen alphabet) are UNK = -1
      case Some(_) => pos.join(broadcast(vocab), Seq("subword"), "left_outer")
        .withColumn("token_id", coalesce(col("token_id"), lit(-1L)))
      case None => pos.join(broadcast(vocab), Seq("subword"))
    }
    withIds
      .join(offsets, Seq("doc_id"))
      .select(col("doc_id"), col("shard"), col("pos"), col("subword"),
        col("token_id"),
        (col("start_tok") + col("pos")).as("global_tok"),
        expr(s"(start_tok + pos) div $blockTokens").as("chunk"))
  }

  /** TOKENIZER-EVALUATION metrics of the trained BPE (r16): per shard,
    * FERTILITY (subwords emitted per word — the standard cross-lingual
    * tokenizer-quality statistic: a tokenizer trained on a skewed
    * language mix over-segments the under-represented shards) and
    * COMPRESSION (chars per subword), plus the exact integer counts
    * they derive from. Same training + segmentation chain as
    * [[tokenizePack]]; the rollup is shard-bounded after one word-grain
    * aggregation (no token-grain window at all — fertility needs
    * counts, not positions).
    */
  def fertility(df: DataFrame, idCol: String, textCol: String,
                shardCol: String, numMerges: Int,
                batchMerges: Int = 32,
                maxBroadcastVocab: Long = Sizing.MaxBroadcastVocab): DataFrame = {
    val (merges, words) = trainBpe(df, textCol, numMerges)
    val nTrained = merges.count()
    require(nTrained == numMerges,
      s"fertility: training stopped early ($nTrained of $numMerges " +
        "merges reached minCount) — the oracle unrolls exactly numMerges " +
        "rounds; lower numMerges for this corpus")
    // same trained-state reuse as packTrained (scaladoc there): the
    // corpus IS the training corpus, so segmentation = one broadcast
    // join against the vocabulary-bounded state when it fits
    val segBase =
      if (words.count() <= maxBroadcastVocab)
        df.select(col(idCol).as("doc_id"),
            posexplode(TextOps.tokens(col(textCol))).as(Seq("word_pos", "word")))
          .join(broadcast(words.select(col("word"), col("syms"))), Seq("word"))
          .select(col("doc_id"), col("word_pos"), col("syms"))
      else segment(df, idCol, textCol, merges, batchMerges)
    val seg = segBase
      .withColumn("nsyms", size(col("syms")).cast("long"))
      .withColumn("wchars", length(concat_ws("", col("syms"))).cast("long"))
      .join(df.select(col(idCol).as("doc_id"),
        col(shardCol).as("shard")), Seq("doc_id"))
    seg.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("nsyms")).as("n_subwords"),
        sum(col("wchars")).as("n_chars"))
      .select(col("shard"), col("n_words"), col("n_subwords"), col("n_chars"),
        floor(col("n_subwords").cast("double") * lit(1e6)
          / col("n_words").cast("double") + lit(0.5)).cast("long")
          .as("fertility_micro"),
        floor(col("n_chars").cast("double") * lit(1e6)
          / col("n_subwords").cast("double") + lit(0.5)).cast("long")
          .as("chars_per_subword_micro"))
  }

  /** Learned merge table + final vocabulary segmentation after
    * `numMerges` rounds (stops early when no pair reaches `minCount`).
    * Returns (merges, words): merges = (merge_rank, sym_l, sym_r,
    * pair_count) in training order — the artifact a tokenizer ships;
    * words = the trained per-word segmentation state.
    */
  def trainBpe(df: DataFrame, textCol: String, numMerges: Int,
               minCount: Long = 2L): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    var words = initWords(df, textCol).localCheckpoint(true, DiskOnly)
    // release discipline (dedupClusters doctrine): each round's state is
    // a LAZY checkpoint materialized by the NEXT round's pair-count
    // action — one job per round, not checkpoint-job + count-job. The
    // superseded state's blocks are freed only AFTER that action runs
    // (they back the lazy plan until it materializes).
    var prevWords: DataFrame = null
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var round = 1
    var done = false
    while (round <= numMerges && !done) {
      val top = pairCounts(words)
        .orderBy(mergeOrder: _*)
        .limit(1).collect()
      if (prevWords != null) { Checkpoints.release(prevWords); prevWords = null }
      if (top.isEmpty || top(0).getLong(2) < minCount) done = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((round, l, r, c))
        val updated = words.withColumn("syms",
            ArrayOps.bpeMergePair(spark, col("syms"), lit(l), lit(r)))
          .localCheckpoint(false, DiskOnly)
        prevWords = words
        words = updated
        round += 1
      }
    }
    // on merge-budget exhaustion the final state is still lazy and its
    // input blocks must outlive it until materialized
    if (prevWords != null) { words.count(); Checkpoints.release(prevWords) }
    import spark.implicits._
    (merges.result().toDF("merge_rank", "sym_l", "sym_r", "pair_count"), words)
  }
}
