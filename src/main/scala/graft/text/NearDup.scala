package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Sizing

/** Document deduplication at scale: exact, MinHash+LSH, SimHash and blocked
  * n-gram Jaccard (builder brief; no reference analog — these extend the
  * engine for training-data pipelines).
  *
  * Scale design notes:
  *  - MinHash signatures are computed per-row over the shingle ARRAY with
  *    `array_min(transform(...))` — no explode, no extra shuffle; the only
  *    shuffles are the band-bucket self-join (on band hash — uniformly
  *    distributed, skew-free) and the final distinct.
  *  - Hash family: md5(seed || '|' || shingle) compared as STRINGS — engine
  *    portable (bit-identical in any SQL engine), uniform, and seeds make
  *    the k permutations independent.
  *  - Blocked Jaccard is quadratic ONLY within a block. Round 2 added a
  *    SIZE-BAND component to the block key (floor(log2(|shingle set|)),
  *    computed with exact integer arithmetic): J(A,B) ≥ t implies
  *    max(|A|,|B|)/min(|A|,|B|) ≤ 1/t, so joining same + ceil(log2(1/t))
  *    adjacent bands is COMPLETE for threshold t — the oracle (which
  *    compares ALL (lang, source) pairs) hash-verifies that no pair is
  *    lost. Honest scale note: banding bounds block population only under
  *    a spread length distribution; an adversarial corpus of equal-length
  *    near-identical documents still concentrates one band, and for that
  *    shape the scalable path is `minhashLshPairs` (banded, population
  *    bounded by the hash) with blocked Jaccard reserved for verifying
  *    LSH survivors.
  */
object NearDup {

  /** Exact dedup: group by content hash, keep the smallest id.
    * Map-side partial aggregation ⇒ one skew-free shuffle on the hash.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** DUPLICATED-SPAN detection (the span-level "exact substring dedup"
    * of Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better" — public; re-expressed over hashed n-grams instead
    * of a suffix array): a position is DUPLICATED when its n-gram occurs
    * `minOccurrences`+ times corpus-wide; maximal runs of consecutive
    * duplicated positions whose token span reaches `minSpanTokens`
    * become trim spans (doc_id, span_start, span_end, span_tokens),
    * token-inclusive — the ranges a curation pass cuts out of documents
    * rather than dropping them whole.
    *
    * A suffix array finds duplicated substrings of ANY length; the
    * n-gram relaxation finds exactly those of length ≥ n (a span of k
    * consecutive duplicated n-grams certifies a duplicated run only if
    * the duplicates align — adjacent grams can match DIFFERENT sources,
    * so this flags a superset of true verbatim runs: the right bias for
    * trimming). In exchange the computation is three hash-partitioned
    * passes, no suffix-array construction: (1) positional grams → one
    * count per gram hash, (2) a semi-join keeping duplicated positions,
    * (3) per-doc gaps-and-islands to merge runs.
    *
    * The island rule is on TOKEN EXTENTS, not gram starts: a gram at
    * start p covers tokens [p, p+n−1], so two duplicated starts whose
    * gap is ≤ n−1 produce overlapping token ranges and MUST fuse into
    * one span (a start-adjacency rule would emit overlapping spans —
    * double-counting span_tokens and letting a long duplicated region
    * escape `minSpanTokens` as small fragments when different docs
    * share different overlapping pieces of it), and TOUCHING ranges
    * (gap = n exactly) fuse as well — a contiguous duplicated region
    * whose duplicated starts happen to land a period-n comb apart is
    * one region, not n-token fragments that each slip under the
    * threshold. Consequently spans are DISJOINT per doc and
    * `Σ span_tokens + kept = n_tokens` holds exactly (PipelineOpsSpec
    * pins both).
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      n: Int, minOccurrences: Long,
                      minSpanTokens: Long): DataFrame = {
    val spark = df.sparkSession
    val grams = TextOps.wordShingleRowsPos(df, idCol, textCol, n)
      .select(col("id"), col("pos"), TextOps.gramHash64(spark, col("g")).as("hg"))
    val dup = grams.groupBy("hg").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minOccurrences)
      .select("hg")
    val flagged = grams.join(dup, Seq("hg"), "left_semi")
    val w = Window.partitionBy("id").orderBy("pos")
    flagged
      // new island iff this start's token range clears the previous
      // one's WITHOUT touching it: gap > n (lag is null on the first
      // start → 0). Overlap (gap ≤ n−1) must fuse — a start-adjacency
      // rule would emit overlapping spans — and TOUCHING ranges
      // (gap = n exactly) must fuse too: duplicated starts a period-n
      // comb apart would otherwise fragment one contiguous duplicated
      // region into n-token spans that each slip under minSpanTokens
      // (advisor, r06). Disjointness and the sum invariant are
      // unaffected — fusing touching ranges leaves no gap behind.
      .withColumn("new_run",
        when(col("pos") - lag(col("pos"), 1).over(w) > lit(n.toLong), 1L)
          .otherwise(0L))
      .withColumn("grp", sum(col("new_run")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("id").as("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
           (max(col("pos")) + lit(n.toLong - 1)).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1L)
      .filter(col("span_tokens") >= minSpanTokens)
      .select("doc_id", "span_start", "span_end", "span_tokens")
  }

  /** APPLY the [[duplicatedSpans]] trim: reconstruct each document with
    * its duplicated runs cut out — the curation step that KEEPS a
    * partially-duplicated document's unique remainder instead of
    * dropping it whole. Emits (doc_id, text_trimmed, n_tokens_kept);
    * documents whose every token falls in a span vanish (nothing left),
    * 0-token documents likewise.
    *
    * Scale: the spans frame is output-bounded (runs, not tokens). The
    * position←span exclusion is an equi-join on doc_id with the range
    * test as the residual condition (SortMergeJoin with post-filter —
    * never a cross product); reconstruction is array_sort over a
    * per-doc collect_list, bounded by document length like every
    * tokens() call in the repo, and the struct-field extraction
    * (`sorted.tok`) is codegen GetArrayStructFields, not a lambda.
    */
  def trimSpans(df: DataFrame, idCol: String, textCol: String,
                n: Int, minOccurrences: Long, minSpanTokens: Long): DataFrame = {
    val spans = duplicatedSpans(df, idCol, textCol, n, minOccurrences, minSpanTokens)
    val toks = df.select(col(idCol).as("id"),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "tok")))
      .select(col("id"), col("pos").cast("long").as("pos"), col("tok"))
    val kept = toks.join(spans,
      toks("id") === spans("doc_id") &&
        toks("pos").between(spans("span_start"), spans("span_end")),
      "left_anti")
    kept.groupBy(col("id").as("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("tok")))).as("a"),
           count(lit(1)).as("n_tokens_kept"))
      .select(col("doc_id"),
        array_join(col("a.tok"), " ").as("text_trimmed"),
        col("n_tokens_kept"))
  }

  /** FREQUENCY-CAPPED dedup ("soft dedup"): keep up to `maxCopies` of
    * each exact-duplicate group (lowest ids first — deterministic), drop
    * the rest. The middle ground real pipelines run when some natural
    * duplication is signal (boilerplate, licenses, famous quotes) but
    * unbounded duplication is memorization risk: cap it, don't erase it.
    * Emits kept (doc_id, copy_rank) with copy_rank in [1, maxCopies].
    *
    * Scale: one content-hash shuffle; the rank-≤-k filter over the
    * window plans as partial + final WindowGroupLimit (per-partition
    * top-k heaps BEFORE the exchange — only k rows per group per
    * partition ride the shuffle, never the whole duplicate group).
    */
  def dedupCapped(df: DataFrame, idCol: String, textCol: String,
                  maxCopies: Int): DataFrame = {
    require(maxCopies >= 1, s"maxCopies=$maxCopies must be >= 1")
    val w = Window.partitionBy("content_hash").orderBy(col("doc_id").asc)
    df.select(col(idCol).as("doc_id"), md5(col(textCol)).as("content_hash"))
      .withColumn("copy_rank", row_number().over(w))
      .filter(col("copy_rank") <= maxCopies)
      .select(col("doc_id"), col("copy_rank"))
  }

  /** MinHash modulus — fits k·P in a long with room to spare. */
  val P: Long = 2147483647L

  /** Candidate pairs from band collisions, verified with exact Jaccard on
    * the (hashed) shingle sets. Returns (id_a, id_b, jaccard), id_a < id_b.
    *
    * One codegen'd explode+md5 pass feeds BOTH the signature aggregate and
    * the verification sets (60-bit hashed shingles, so the verify join
    * carries long arrays, not strings). The band self-join carries ONLY
    * (id, band_hash); sets are joined back just for the
    * surviving candidate pairs.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, shingleCol: String,
                      k: Int = 16, bands: Int = 8): DataFrame =
    minhashLshPairsFromRows(
      df.select(col(idCol).as("id"), explode(col(shingleCol)).as("g")), k, bands)

  /** Shared signature computation: ONE aggregation computes the k
    * minhashes AND the verification set — its shuffle exchange is reused
    * by every downstream branch, so the expensive shingle explode runs
    * exactly once. Emits (id, m0..m{k-1}, sh).
    */
  private def sigSets(shingleRows: DataFrame, k: Int): DataFrame = {
    val ex = shingleRows
      .withColumn("h", md5(col("g")))
      .select(col("id"),
        conv(substring(col("h"), 1, 15), 16, 10).cast("long").as("hraw"),
        (conv(substring(col("h"), 17, 15), 16, 10).cast("long") % P).as("h2"))
      .withColumn("h1", col("hraw") % P)
    val aggs = (0 until k).map(i =>
      min((col("h1") + lit(i.toLong) * col("h2")) % P).as(s"m$i")) :+
      collect_set(col("hraw")).as("sh")
    ex.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** Band rows (id, band_hash) from a signature frame — the LIGHT frame
    * that enters every LSH candidate join. The band INDEX is folded into
    * the hash (md5 over band_idx # mins...), so band equality is ONE
    * uniformly-distributed join key: candidate joins need no second key
    * column, and a persisted index `bucketBy(B, "band_hash")` both
    * bucket-prunes equality probes and co-partitions the candidate join
    * with zero corpus-side exchange (single-key partitioning satisfies
    * the join's full clustering — TextSpec demonstrates both).
    */
  private def bandRows(sigsets: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    val bandCols = (0 until bands).map { b =>
      md5(concat_ws("#", lit(b) +: (b * r until (b + 1) * r).map(i => col(s"m$i")): _*))
    }
    sigsets.select(col("id"), explode(array(bandCols: _*)).as("band_hash"))
  }

  /** PORTABLE per-doc LSH signature index: (id, bands, sh) where
    * `bands` is the array of band hashes ([[bandRows]]'s values, same
    * md5-over-band-idx#mins family) and `sh` the 60-bit hashed shingle
    * verification set. Because a signature is a pure per-doc function
    * of its own text, these rows can be PERSISTED and re-joined later
    * — the column shape the curated-crawl tick stores per document so
    * its read face never re-shingles the corpus
    * ([[graft.streaming.StreamingIngest.curatedCrawlTick]]). */
  def signatureIndex(shingleRows: DataFrame,
                     k: Int = 16, bands: Int = 8): DataFrame = {
    val sigsets = sigSets(shingleRows, k)
    val r = k / bands
    val bandCols = (0 until bands).map { b =>
      md5(concat_ws("#", lit(b) +: (b * r until (b + 1) * r).map(i => col(s"m$i")): _*))
    }
    sigsets.select(col("id"), array(bandCols: _*).as("bands"), col("sh"))
  }

  /** Verified LSH pairs from a SIGNATURE INDEX frame (id, bands, sh) —
    * the band-collision candidate join plus exact hashed-set Jaccard,
    * identical to [[minhashLshPairsFromRows]]'s tail (which now routes
    * through here, so a persisted index and a live computation cannot
    * drift). The candidate join carries only (id, band_hash); `sh`
    * arrays join back for surviving candidates alone. */
  def lshPairsFromIndex(idx: DataFrame): DataFrame = {
    val exploded = idx.select(col("id"), explode(col("bands")).as("band_hash"))
    val cand = exploded.as("a").join(exploded.as("b"),
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val sets = idx.select(col("id"), col("sh"))
    cand
      .join(sets.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), Seq("id_a"))
      .join(sets.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), Seq("id_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", round(col("common") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")), 4))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Same, from shingle ROWS (id, g) — pairs with wordShingleRows so the
    * whole pipeline stays codegen'd end to end. */
  def minhashLshPairsFromRows(shingleRows: DataFrame,
                              k: Int = 16, bands: Int = 8): DataFrame =
    lshPairsFromIndex(signatureIndex(shingleRows, k, bands))

  /** CONTAINMENT for LSH candidate pairs: |A∩B|/|A| and |A∩B|/|B| over
    * the same banded candidates as [[minhashLshPairsFromRows]]. Jaccard
    * misses near-SUBSET duplicates — a doc pasted inside a larger one
    * has low Jaccard (union is large) but containment ≈ 1 on the smaller
    * side, which is exactly the signal an "embedded copy" dedup pass
    * keys on (Broder's resemblance vs containment distinction). Same
    * scale shape as the Jaccard path: band join for candidates, then one
    * set intersection per candidate pair — never all-pairs.
    */
  def minhashLshContainmentFromRows(shingleRows: DataFrame,
                                    k: Int = 16, bands: Int = 8): DataFrame = {
    val sigsets = sigSets(shingleRows, k)
    val exploded = bandRows(sigsets, k, bands)
    val cand = exploded.as("a").join(exploded.as("b"),
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val sets = sigsets.select(col("id"), col("sh"))
    cand
      .join(sets.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), Seq("id_a"))
      .join(sets.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), Seq("id_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .select(col("id_a"), col("id_b"),
        round(col("common") / size(col("sh_a")).cast("double"), 4).as("containment_a"),
        round(col("common") / size(col("sh_b")).cast("double"), 4).as("containment_b"))
  }

  /** DEDUP SELF-EVALUATION: banding recall and candidate precision of
    * the MinHash LSH path against EXACT blocked ground truth — the audit
    * a curation team runs before trusting an LSH configuration at scale.
    * Within each block (e.g. lang × source), ground truth is ALL pairs
    * with hashed-shingle Jaccard ≥ `minJaccard` (the within-block
    * quadratic is the audit's price and its premise: the exact answer is
    * only computable blocked/sampled); the LSH side contributes its
    * banded candidates restricted to the same blocks. One summary row:
    *
    *   recall    = verified candidates / ground truth  (what banding missed)
    *   precision = verified candidates / all candidates (wasted verification)
    *
    * — exactly the two knobs `k`/`bands` trade against each other; the
    * sweep (q101) tunes the threshold, this tunes the banding. Every
    * pred pair is necessarily a truth pair (same sets, same test), so
    * "verified" doubles as the true-positive count.
    *
    * Exactness: pair counts are integers; the two ratios divide once.
    * Scale: ONE sigSets materialization feeds ground truth, candidates
    * and verification (checkpointed — the q124 multi-consumer rule).
    *
    * Cost shape (r20): the within-block quadratic pass already
    * enumerates every pair the candidate arm could need (a same-block
    * candidate IS a within-block pair), so under a MEASURED candidate
    * count the three metrics ride ONE quadratic pass — jaccard
    * evaluated once per pair, the candidate bit attached by a
    * broadcast lookup, one map-side-aggregated global rollup. The old
    * shape scored candidates separately: two sh-attach shuffles of the
    * doc-set frame, a second jaccard over candidates, and a union
    * rollup. Past `maxBroadcastPairs` (the sizedSemiJoin doctrine —
    * the band-pair frame is checkpointed, so sizing it is a scalar
    * job over materialized blocks) the separate-candidate-scoring
    * shape returns: a candidate list that outgrows the broadcast
    * budget must NOT ride the quadratic pass as a broadcast, and
    * shuffling the quadratic frame by pair key would be worse — the
    * candidate arm's cost is ∝ the LSH-thinned pair list either way.
    */
  def dedupRecallEval(docs: DataFrame, idCol: String, textCol: String,
                      blockCols: Seq[String], nGram: Int = 3,
                      k: Int = 16, bands: Int = 8,
                      minJaccard: Double = 0.5,
                      maxBroadcastPairs: Long = Sizing.MaxBroadcastRows): DataFrame = {
    val shingles = TextOps.wordShingleRows(docs, idCol, textCol, nGram)
    val sigsets = sigSets(shingles, k).localCheckpoint(true)
    val blocks = docs.select(col(idCol).as("id") +: blockCols.map(col): _*)
    val sets = sigsets.select(col("id"), col("sh")).join(blocks, Seq("id"))
    def jaccard(shA: Column, shB: Column): Column = {
      val common = size(array_intersect(shA, shB)).cast("double")
      round(common / (size(shA) + size(shB) - common), 4)
    }
    val sameBlock = blockCols.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)
    // banded candidate pairs (LSH-thinned, block-agnostic at this
    // point). Checkpointed: the count that picks the tier and the join
    // that consumes the list share one materialization.
    val candIds = bandRows(sigsets, k, bands).as("ba")
      .join(bandRows(sigsets, k, bands).as("bb"),
        col("ba.band_hash") === col("bb.band_hash") && col("ba.id") < col("bb.id"))
      .select(col("ba.id").as("id_a"), col("bb.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .localCheckpoint(true)
    val nCand = candIds.count()
    val labeled =
      if (nCand <= maxBroadcastPairs) {
        // single-pass tier: jaccard once per within-block pair; the
        // candidate bit is a broadcast hash lookup riding the same pass
        sets.as("a").join(sets.as("b"), sameBlock && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            (jaccard(col("a.sh"), col("b.sh")) >= minJaccard).as("dup"))
          .join(broadcast(candIds.withColumn("isc", lit(1L))),
            Seq("id_a", "id_b"), "left")
          .select(col("dup").cast("long").as("t"),
            coalesce(col("isc"), lit(0L)).as("c"),
            (col("dup") && col("isc").isNotNull).cast("long").as("v"))
      } else {
        // split tier (the pre-r20 shape, candidate list from the same
        // checkpoint): ground truth and candidate scoring as separate
        // arms, rolled up over their union
        val gt = sets.as("a").join(sets.as("b"), sameBlock && col("a.id") < col("b.id"))
          .filter(jaccard(col("a.sh"), col("b.sh")) >= minJaccard)
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        val cand = candIds
          .join(sets.select(Seq(col("id").as("id_a"), col("sh").as("sh_a")) ++
            blockCols.map(c => col(c).as(s"a_$c")): _*), Seq("id_a"))
          .join(sets.select(Seq(col("id").as("id_b"), col("sh").as("sh_b")) ++
            blockCols.map(c => col(c).as(s"b_$c")): _*), Seq("id_b"))
          .filter(blockCols.map(c => col(s"a_$c") === col(s"b_$c")).reduce(_ && _))
          .withColumn("verified",
            (jaccard(col("sh_a"), col("sh_b")) >= minJaccard).cast("long"))
          .select(col("id_a"), col("id_b"), col("verified"))
        gt.select(col("id_a"), col("id_b"),
            lit(1L).as("t"), lit(0L).as("c"), lit(0L).as("v"))
          .unionByName(cand.select(col("id_a"), col("id_b"),
            lit(0L).as("t"), lit(1L).as("c"), col("verified").as("v")))
          .select(col("t"), col("c"), col("v"))
      }
    labeled.agg(sum(col("t")).as("n_truth"), sum(col("c")).as("n_cand"),
        sum(col("v")).as("n_verified"))
      .select(col("n_truth"), col("n_cand"), col("n_verified"),
        when(col("n_cand") > 0L,
          floor(col("n_verified").cast("double") * lit(1e6) /
            col("n_cand").cast("double") + lit(0.5)).cast("long"))
          .as("precision_micro"),
        when(col("n_truth") > 0L,
          floor(col("n_verified").cast("double") * lit(1e6) /
            col("n_truth").cast("double") + lit(0.5)).cast("long"))
          .as("recall_micro"))
  }

  /** Dedup THRESHOLD SWEEP — the tuning curve a curation run reads before
    * committing to a Jaccard cutoff: for each candidate threshold, how
    * many verified pairs survive and how many distinct documents they
    * touch. One pass over the (already LSH-thinned) scored pair list per
    * sweep: pairs × thresholds is a bounded broadcast fan-out (|T| is a
    * config constant), then two key-bounded aggregations. Thresholds
    * with zero surviving pairs still emit a row (the curve must show
    * where it flatlines to zero).
    */
  def dedupSweep(scoredPairs: DataFrame, jaccardCol: String,
                 thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val spark = scoredPairs.sparkSession
    import spark.implicits._
    val t = thresholds.toDF("threshold")
    // EAGER checkpoint (r19): the flagged frame has TWO consumers (the
    // pair count and the coverage distinct), and without a boundary
    // each re-ran the whole upstream pair pipeline — shingles,
    // signatures, band join, verification. The pair frame is
    // LSH-thinned (near-dup-rate-bounded), so materializing it is
    // cheap at any scale; the sweep itself is |pairs|·|thresholds|.
    // (Checkpointing the signature INDEX inside lshPairsFromIndex
    // itself was also tried and REJECTED: its three consumers sit
    // above a REUSED exchange, so the recompute they pay is only the
    // final-agg tail, and materializing the sh arrays measured
    // slower — q35/q103/q226/q230/q61 family 14.2 s vs 11.7 s on a
    // faster box.)
    val pairs = scoredPairs.localCheckpoint(true)
    val flagged = pairs.crossJoin(broadcast(t))
      .filter(col(jaccardCol) >= col("threshold"))
    val perT = flagged.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val cov = flagged
      .select(col("threshold"), explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy("threshold").agg(countDistinct(col("id")).as("n_docs_covered"))
    t.join(perT, Seq("threshold"), "left")
      .join(cov, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_covered"), lit(0L)).as("n_docs_covered"))
  }

  /** Quality-aware keeper per near-dup cluster: instead of dedupClusters'
    * arbitrary min-id representative, keep the member with the HIGHEST
    * score (ties → smallest doc_id) — the policy real curation uses, so
    * deduplication never discards the best-written copy of a duplicated
    * family. `clusters` is dedupClusters output (doc_id, keeper_id);
    * `scores` is (doc_id, <scoreCol>). One aggregation over the
    * node-bounded cluster frame: argmax via max(struct(score, -id)) —
    * lexicographic struct max gives max score then (negated) min id —
    * so no window sort. The winner join back is left UNHINTED: `best`
    * is cluster-count-sized — usually broadcastable and stats will pick
    * that, but a pathological corpus (everything lightly duplicated)
    * makes it node-sized, where a forced broadcast would be the q61-style
    * scaling trap; both sides hash the same cluster_id key anyway.
    */
  def scoredKeepers(clusters: DataFrame, scores: DataFrame,
                    scoreCol: String): DataFrame = {
    val members = clusters.join(scores, Seq("doc_id"))
    val best = members
      .groupBy(col("keeper_id").as("cluster_id"))
      .agg(max(struct(col(scoreCol).as("s"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("cluster_id"), (-col("b.nid")).as("keeper"))
    clusters.select(col("doc_id"), col("keeper_id").as("cluster_id"))
      .join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("keeper").as("keeper_id"))
  }

  /** Near-dup CLUSTERING: connected components over a pair list, keeper =
    * min id per component — turns pairwise near-dup detection into an
    * actionable keep/drop mapping. Iterative min-label propagation
    * (pointer-jumping): each round joins labels across edges and keeps the
    * min; converges in O(log n) rounds for chain-of-pairs graphs, and the
    * pair list is already LSH-thinned, so each round is a small join. The
    * driver loop only checks a scalar convergence count per round.
    */
  /** The block-backed RDD behind a localCheckpoint'd frame, if any.
    * `Dataset.unpersist` only clears CacheManager entries — checkpoint
    * blocks are RDD-level persists, reachable only through the plan's
    * `LogicalRDD` leaf. Freeing superseded rounds matters for REPEATED
    * invocations in one session: without it every call leaks
    * edges + one block set per round into the BlockManager, and the
    * accumulated pressure made q61's bench repeats grow 6.7 → 11.7 s.
    */
  private def checkpointRdd(df: DataFrame) = graft.core.Checkpoints.checkpointRdd(df)

  /** Symmetrized, deduplicated, dst-partitioned edge frame for the
    * clustering loop. Package-private so TextSpec can assert the plan
    * property that makes the loop scale: `repartition(dst)` BEFORE the
    * eager checkpoint bakes HashPartitioning(dst) into the LogicalRDD's
    * outputPartitioning, so every round's `edges.join(labels, dst = id)`
    * exchanges ONLY the labels side. Without it each of the O(log n)
    * rounds re-shuffles the full (larger) edge set — the dominant cost
    * in q42/q61/q87 through r06 and the scale-killer at 100×: labels is
    * one row per node while symmetrized edges are 2 rows per pair.
    */
  private[text] def clusterEdges(pairs: DataFrame, idACol: String,
      idBCol: String): DataFrame = {
    // repartition BEFORE the dedup: HashPartitioning(dst) satisfies the
    // ClusteredDistribution(src,dst) the distinct-aggregate requires, so
    // the whole build is ONE shuffle (dedup runs inside the dst layout
    // and the aggregate preserves it), and sortWithinPartitions stamps
    // the ordering SMJ wants so rounds skip the edges-side sort too.
    // AQE must be OFF for this one statement: localCheckpoint snapshots
    // executedPlan.outputPartitioning, and AdaptiveSparkPlanExec reports
    // UnknownPartitioning before finalization (measured — the checkpoint
    // came back unpartitioned and every round re-exchanged all edges),
    // which would silently void the per-round no-exchange guarantee the
    // loop depends on. The explicit partition count likewise opts out of
    // AQE-style coalescing ambiguity and keeps the layout deterministic.
    val session = pairs.sparkSession
    val n = session.sessionState.conf.numShufflePartitions
    // two checkpoints on purpose: the UPSTREAM pair derivation (LSH band
    // joins etc.) is the expensive part and should keep AQE; only the
    // cheap scan→exchange→sort relayout pass runs with AQE off. Folding
    // both into one no-AQE statement re-ran the whole upstream without
    // AQE and cost more than the per-round exchanges it saved (measured).
    // The staging checkpoint is LAZY so it does not add a job: its RDD is
    // compiled here (upstream stages still run adaptively) and its blocks
    // materialize inside the relayout checkpoint's own job.
    val staged = pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
      .union(pairs.select(col(idBCol).as("src"), col(idACol).as("dst")))
      .localCheckpoint(false)
    val prevAqe = session.conf.get("spark.sql.adaptive.enabled")
    session.conf.set("spark.sql.adaptive.enabled", "false")
    val edges =
      try
        staged
          .repartition(n, col("dst"))
          .dropDuplicates("src", "dst")
          .sortWithinPartitions("dst")
          .localCheckpoint(true)
      finally session.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // the relayout materialized; the staging blocks are dead
    checkpointRdd(staged).foreach(_.unpersist(blocking = false))
    edges
  }

  /** Open-addressed primitive long→long map for the driver union-find:
    * parallel key/parent arrays, linear probing, power-of-two capacity.
    * `java.util.HashMap[Long,Long]` boxes every key AND value (~48 bytes
    * per entry plus Entry objects — ~200 MB at the 2M-node gate bound);
    * this is 16 bytes/slot at ≤⅔ load, ~64 MB worst case, with no
    * allocation in find/union. `Long.MinValue` is the empty-slot
    * sentinel — an input id equal to it falls back to the distributed
    * tier (checked by the caller), never a wrong answer.
    */
  private final class DriverUnionFind(expectedNodes: Int) {
    private val Empty = Long.MinValue
    private var cap = {
      var c = 16
      while (c < expectedNodes * 3 / 2 + 1) c <<= 1
      c
    }
    private var mask = cap - 1
    private var keys = Array.fill[Long](cap)(Empty)
    private var parents = new Array[Long](cap)
    private var used = 0

    def size: Int = used

    private def slotOf(id: Long): Int = {
      // finalizer from splitmix64 — linear probing needs scrambled bits
      var h = id * -7046029254386353131L
      h ^= h >>> 32
      var i = (h & mask).toInt
      while (keys(i) != Empty && keys(i) != id) i = (i + 1) & mask
      i
    }

    private def grow(): Unit = {
      val ok = keys; val op = parents
      cap <<= 1; mask = cap - 1; used = 0
      keys = Array.fill[Long](cap)(Empty)
      parents = new Array[Long](cap)
      var i = 0
      while (i < ok.length) {
        if (ok(i) != Empty) { val s = slotOf(ok(i)); keys(s) = ok(i); parents(s) = op(i); used += 1 }
        i += 1
      }
    }

    /** Root id of x's tree, inserting x as a singleton if absent; path
      * compression on the way back up.
      */
    def findOrInsert(x: Long): Long = {
      if (used * 3 > cap * 2) grow()
      var s = slotOf(x)
      if (keys(s) == Empty) { keys(s) = x; parents(s) = x; used += 1; return x }
      var r = parents(s)
      var rs = s
      while ({ rs = slotOf(r); parents(rs) != r }) r = parents(rs)
      var c = x; var cs = s
      while (c != r) { val n = parents(cs); parents(cs) = r; cs = slotOf(n); c = n }
      r
    }

    def link(ra: Long, rb: Long): Unit =
      if (ra < rb) parents(slotOf(rb)) = ra else parents(slotOf(ra)) = rb

    /** (id, root) for every id, sorted by id — deterministic output. */
    def components(): Array[(Long, Long)] = {
      val out = new Array[(Long, Long)](used)
      var i = 0; var j = 0
      while (i < keys.length) {
        if (keys(i) != Empty) { out(j) = (keys(i), findOrInsert(keys(i))); j += 1 }
        i += 1
      }
      scala.util.Sorting.stableSort(out, (x: (Long, Long), y: (Long, Long)) => x._1 < y._1)
      out
    }
  }

  /** Driver union-find over a COLLECTED pair list — the smallest tier of
    * the sized strategy ladder (local < broadcast-probe < dst-partitioned
    * sort-merge). Input is the per-partition FLAT long arrays from
    * `collectFlatPairs` — never Row objects, whose headers and boxed
    * fields would multiply the driver's transient footprint ~6× at the
    * 1M-pair gate. Roots link max-root-under-min-root with path
    * compression in find, so each tree's root IS its component's minimum
    * id and the result matches the distributed min-label fixpoint
    * exactly. Returns None when the rows don't fit the fast path's
    * preconditions (a null id — undefined for connectivity — or an id
    * colliding with the map's sentinel): let the caller's distributed
    * semantics apply.
    */
  private def localComponents(parts: Array[Array[Long]])
      : Option[Array[(Long, Long)]] = {
    if (parts.exists(_ == null)) return None // a partition saw a null id
    val nPairs = parts.iterator.map(_.length.toLong).sum / 2
    val uf = new DriverUnionFind(math.min(nPairs * 2, Int.MaxValue / 4).toInt)
    var p = 0
    while (p < parts.length) {
      val flat = parts(p)
      var i = 0
      while (i < flat.length) {
        val a = flat(i); val b = flat(i + 1)
        if (a == Long.MinValue || b == Long.MinValue) return None // sentinel clash
        val ra = uf.findOrInsert(a); val rb = uf.findOrInsert(b)
        if (ra != rb) uf.link(ra, rb)
        i += 2
      }
      p += 1
    }
    Some(uf.components())
  }

  /** Collect `(idA, idB)` long pairs as one flat primitive array per
    * partition: ~16 bytes/pair on the driver versus ~100 for collected
    * GenericRows (object header + field box per id). A partition that
    * sees a null id collects as `null` (the caller falls back to the
    * distributed tier). Runs on the already-checkpointed pair blocks, so
    * this is a scan of local shuffle-free partitions.
    */
  private def collectFlatPairs(pairRows: DataFrame): Array[Array[Long]] =
    pairRows.rdd.mapPartitions { it =>
      val buf = new scala.collection.mutable.ArrayBuilder.ofLong
      var hasNull = false
      it.foreach { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) hasNull = true
        else { buf += r.getLong(0); buf += r.getLong(1) }
      }
      Iterator.single(if (hasNull) null else buf.result())
    }.collect()

  /** `maxLocalPairs` gates the driver union-find tier: a MEASURED pair
    * count at or below it (and long-typed ids) resolves components on the
    * driver in one collect — O(E α(E)) with zero per-round jobs — instead
    * of paying the iterative loop's O(log n) scheduled rounds, which at
    * gate scale are pure fixed overhead (the loop exists for the 100×
    * graph, where it engages automatically because the count exceeds the
    * bound). 1M pairs ≈ 16 MB of ids on the driver — the same order as a
    * broadcast relation, so the tier admits exactly the graphs the
    * broadcast tier already ships whole to every executor. 0 disables
    * (specs force the distributed shapes through this).
    */
  def dedupClusters(pairs: DataFrame, idACol: String, idBCol: String,
                    maxBroadcastEdges: Long = Sizing.MaxBroadcastRows,
                    maxLocalPairs: Long = Sizing.MaxLocalPairs): DataFrame = {
    // CONF ISOLATION (r07 advice): the relayout and the loop need
    // session-LEVEL settings (AQE off so checkpoints keep their
    // partitioning, loop-sized shuffle width). Earlier rounds mutated
    // the caller's session under a lock — safe against concurrent
    // dedupClusters calls, but any UNRELATED query planned on the same
    // session during the multi-minute loop silently inherited the loop
    // conf. Run everything downstream of the pair hand-off on a CHILD
    // session instead: `newSession()` shares the SparkContext (same
    // block manager, so checkpoint blocks and broadcasts behave
    // identically) but owns a private SQLConf — the loop's settings are
    // invisible outside this call, and concurrent calls no longer
    // interact at all (the old confLock is gone because there is no
    // shared conf left to race on).
    //
    // The hand-off: the UPSTREAM pair derivation (LSH band joins etc.)
    // still runs on the CALLER's session with its AQE — the eager
    // checkpoint below is the boundary — and the bounded result is
    // re-rooted back into the caller's session at the end. Each re-root
    // is one row re-encode over an LSH-thinned / node-bounded frame,
    // never corpus-sized.
    val session0 = pairs.sparkSession
    val pairRows = pairs.select(col(idACol), col(idBCol)).localCheckpoint(true)
    try {
      // sized-strategy tier 0: the count is one scalar job over the
      // materialized checkpoint blocks; neither branch's result frame
      // references the checkpoint once built, so ONE finally releases it
      val longIds = pairRows.schema.fields
        .forall(_.dataType == org.apache.spark.sql.types.LongType)
      val measured = if (longIds && maxLocalPairs > 0) pairRows.count() else -1L
      val localComp =
        if (measured >= 0 && measured <= maxLocalPairs)
          localComponents(collectFlatPairs(pairRows))
        else None
      localComp match {
        case Some(comp) =>
          import session0.implicits._
          session0.sparkContext.parallelize(comp.toIndexedSeq,
              math.max(1, math.min(session0.sparkContext.defaultParallelism,
                comp.length / 50000 + 1)))
            .toDF("doc_id", "keeper_id")
        case None => // over-bound, non-long ids, or a null id: distributed
          val child = session0.newSession()
          // newSession starts from the SparkContext's base conf, not the
          // caller's runtime values — carry the two the loop derives from
          child.conf.set("spark.sql.shuffle.partitions",
            session0.sessionState.conf.numShufflePartitions.toString)
          child.conf.set("spark.sql.adaptive.enabled",
            session0.conf.get("spark.sql.adaptive.enabled"))
          val childPairs = child.createDataFrame(pairRows.rdd, pairRows.schema)
          dedupClustersOn(child, session0, childPairs, idACol, idBCol, maxBroadcastEdges)
      }
    } finally
      // local tier collected, or edges materialized inside dedupClustersOn
      // (or we are failing): either way the hand-off blocks are dead
      checkpointRdd(pairRows).foreach(_.unpersist(blocking = false))
  }

  private def dedupClustersOn(child: SparkSession, session0: SparkSession,
      pairs: DataFrame, idACol: String, idBCol: String,
      maxBroadcastEdges: Long): DataFrame = {
    // localCheckpoint (eager): truncates the logical plan, not just the
    // computation. persist() alone is NOT enough for iterative algorithms
    // — each round's plan embeds 3 references to the previous round's
    // plan, so the plan TREE grows 3^n and driver-side analysis time
    // explodes (measured 115 s for round 5). On a cluster needing fault
    // tolerance, substitute reliable checkpoint(dir).
    val edges = clusterEdges(pairs, idACol, idBCol)
    // strategy by MEASURED edge count, the sizedSemiJoin doctrine: an
    // LSH-thinned pair list is usually SMALL (bounded by near-dup rate),
    // and broadcasting it makes every round's probe join exchange-free
    // on BOTH sides — the count is one scalar job over the materialized
    // checkpoint. Past the threshold the dst-partitioned sort-merge
    // shape engages: rounds then shuffle only label-sized frames while
    // the edges side rides its baked-in layout (never re-broadcast,
    // never re-exchanged).
    val edgeCount = edges.count()
    val probeEdges =
      if (edgeCount <= maxBroadcastEdges) broadcast(edges) else edges
    // the label frames the loop shuffles are bounded by the node count
    // (<= 2 x edges); at the default partition count a SMALL graph pays
    // 32-task scheduling overhead per tiny exchange, which dominates
    // sf0.1 rounds. Size the loop's shuffle width to the measured edge
    // count (~50k rows/partition), clamped to the session setting so
    // at-scale graphs keep their configured width.
    //
    // CONF SCOPE: these are settings on the CHILD session only — the
    // caller's session never sees them, so no restore and no lock are
    // needed (the child's conf dies with this call).
    val sessionParts = child.sessionState.conf.numShufflePartitions
    val loopParts = math.max(1L, math.min(sessionParts.toLong,
      edgeCount / 50000L + 1L)).toInt
    // AQE stays OFF for the whole loop: every round's
    // lazy labels checkpoint must keep its HashPartitioning(id) — under
    // AQE it reports Unknown (see clusterEdges) and every join below
    // would re-exchange both sides every round. With it off, the steady
    // state per round exchanges ONLY bounded label-sized frames: the
    // viaEdges probe rides the edges checkpoint's dst layout (zero
    // edges-side exchange; the src re-group is map-side partial-agg'd so
    // the wire carries per-partition minima, not |E| rows), and the
    // round's output lands id-partitioned so the NEXT round's label side
    // is exchange-free too. The loop's joins are uniform id-hash joins;
    // AQE's skew handling has nothing to offer them.
    child.conf.set("spark.sql.adaptive.enabled", "false")
    child.conf.set("spark.sql.shuffle.partitions", loopParts)
    // seed = least(id, min neighbor) in ONE aggregation — equivalent to
    // running the first neighbor-propagation round for free, saving one
    // full join+checkpoint round. Grouping by DST (legal because edges
    // are symmetrized: min-over-src at a dst equals min-over-dst at that
    // src) rides the checkpoint's dst layout, so the seed costs zero
    // exchange on the edge set
    var labels = edges.groupBy(col("dst").as("id"))
      .agg(min(col("src")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("label"))
    // convergence via the label sum: min-propagation is monotone
    // non-increasing, so an unchanged sum ⟺ a fixpoint — one cheap scalar
    // job per round instead of an anti-join diff
    // coalesce: sum over an EMPTY label frame is NULL (no near-dup pairs
    // at all — legal input, e.g. a clean ingest batch)
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    var prevSum = Long.MaxValue
    var curSum = labelSum(labels)
    var rounds = 0
    while (curSum != prevSum && rounds < 25) {
      // neighbor propagation + POINTER JUMPING (label(label(id))): path
      // compression makes convergence O(log diameter) — plain neighbor
      // propagation needs diameter-many rounds and chain-shaped candidate
      // graphs can be hundreds of hops long
      val viaEdges = probeEdges.join(labels, probeEdges("dst") === labels("id"))
        .groupBy(col("src").as("id")).agg(min(col("label")).as("nlabel"))
      val parents = labels.select(col("id").as("label"), col("label").as("jlabel"))
      val updated = labels
        .join(parents, Seq("label"), "left")
        .join(viaEdges, Seq("id"), "left")
        .select(col("id"),
          least(col("label"),
                coalesce(col("jlabel"), col("label")),
                coalesce(col("nlabel"), col("label"))).as("label"))
        // LAZY checkpoint: the convergence-sum action right below both
        // materializes the round AND cuts lineage — ONE job per round
        // instead of checkpoint-job + sum-job (the probe is folded into
        // the round's own execution)
        .localCheckpoint(false)
      prevSum = curSum
      curSum = labelSum(updated)
      // the sum action above materialized `updated`'s blocks; the
      // PREVIOUS round's checkpoint (referenced by `updated`'s plan until
      // now) is dead — free it before it piles up across rounds/calls
      checkpointRdd(labels).foreach(_.unpersist(blocking = false))
      labels = updated
      rounds += 1
    }
    // edges fed their last join; only the FINAL label blocks must outlive
    // this call (they back the returned frame — ContextCleaner reclaims
    // them once the caller drops the reference)
    checkpointRdd(edges).foreach(_.unpersist(blocking = false))
    val result = labels.select(col("id").as("doc_id"), col("label").as("keeper_id"))
    // re-root the node-bounded result into the CALLER's session so
    // downstream plans never touch the child (or its conf). Lazy: the
    // scan deserializes the final label checkpoint's blocks on demand.
    session0.createDataFrame(result.rdd, result.schema)
  }

  /** The CORPUS INDEX behind incremental dedup, as three persistable
    * frames: band rows (id, band_hash), signature sets (id, sh), and
    * content hashes (id, ch). A deployment writes the band frame
    * `bucketBy(B, "band_hash")` (and the hash frame bucketed by ch) once
    * per corpus version so that (a) a batch-bands probe join consumes the
    * table's hash distribution with NO exchange on the corpus side (only
    * the small batch shuffles into the bucket layout) and (b) an equality
    * probe on band_hash is BUCKET-PRUNED at scan time. TextSpec
    * demonstrates both plan properties on a reopened bucketed table.
    * Feed the reopened frames to `incrementalDedupIndexed` — that is what
    * makes a tick pay only batch-side scans plus index probes.
    */
  final case class CorpusIndex(bands: DataFrame, sets: DataFrame,
                               hashes: DataFrame)

  def corpusIndex(corpus: DataFrame, idCol: String, textCol: String,
                  k: Int = 16, bands: Int = 8): CorpusIndex = {
    val sig = sigSets(TextOps.wordShingleRows(corpus, idCol, textCol, 3), k)
    CorpusIndex(
      bandRows(sig, k, bands),
      sig.select(col("id"), col("sh")),
      corpus.select(col(idCol).as("id"), md5(col(textCol)).as("ch")))
  }

  /** INCREMENTAL dedup — the op an ingest pipeline actually runs: flag
    * each document of a NEW BATCH against the EXISTING corpus, without
    * re-deduplicating the corpus against itself. Emits one row per batch
    * doc: (doc_id, verdict 'exact'|'near'|'new', match_id, jaccard) where
    * match_id is the smallest matching corpus id (exact: same md5 content
    * hash; near: best word-3-gram Jaccard ≥ minJaccard among MinHash-band
    * candidates, ties to the smaller corpus id).
    *
    * Scale design: the batch is small relative to the corpus, and BOTH
    * heavy inputs enter exactly one aggregation each (sigSets); the
    * candidate join is batch-bands × corpus-bands on band_hash
    * — an equi-join on a uniform hash, so the corpus side shuffles but
    * never explodes, and no quadratic term exists anywhere.
    *
    * This overload derives the index from the raw corpus per call; a
    * deployment persists `corpusIndex` bucketed once per corpus version
    * and calls `incrementalDedupIndexed` with the reopened frames, so a
    * tick pays only the batch-side signature scan plus bucket-pruned
    * index probes (the bucketed-table pattern TextSpec demonstrates).
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, idCol: String,
                       textCol: String, k: Int = 16, bands: Int = 8,
                       minJaccard: Double = 0.5): DataFrame =
    incrementalDedupIndexed(corpusIndex(corpus, idCol, textCol, k, bands),
      batch, idCol, textCol, k, bands, minJaccard)

  /** Same semantics against a PREBUILT (typically persisted + reopened)
    * corpus index — the production shape: nothing corpus-sized is
    * recomputed per tick. */
  def incrementalDedupIndexed(index: CorpusIndex, batch: DataFrame,
                              idCol: String, textCol: String,
                              k: Int = 16, bands: Int = 8,
                              minJaccard: Double = 0.5): DataFrame = {
    val bSig = sigSets(TextOps.wordShingleRows(batch, idCol, textCol, 3), k)
    val cand = bandRows(bSig, k, bands).as("b")
      .join(index.bands.as("c"),
        col("b.band_hash") === col("c.band_hash"))
      .select(col("b.id").as("bid"), col("c.id").as("cid"))
      .dropDuplicates("bid", "cid")
    val bSets = bSig.select(col("id").as("bid"), col("sh").as("sh_b"))
    val cSets = index.sets.select(col("id").as("cid"), col("sh").as("sh_c"))
    val verified = cand.join(bSets, Seq("bid")).join(cSets, Seq("cid"))
      .withColumn("common", size(array_intersect(col("sh_b"), col("sh_c"))).cast("double"))
      .withColumn("j", round(col("common") /
        (size(col("sh_b")) + size(col("sh_c")) - col("common")), 4))
      .filter(col("j") >= minJaccard)
    val w = Window.partitionBy("bid").orderBy(col("j").desc, col("cid").asc)
    val near = verified.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("bid"), col("cid").as("near_id"), col("j"))
    val exact = batch.select(col(idCol).as("bid"), md5(col(textCol)).as("ch"))
      .join(index.hashes.select(col("ch"), col("id").as("cid")), Seq("ch"))
      .groupBy("bid").agg(min(col("cid")).as("exact_id"))
    batch.select(col(idCol).as("bid"))
      .join(exact, Seq("bid"), "left")
      .join(near, Seq("bid"), "left")
      .select(col("bid").as("doc_id"),
        when(col("exact_id").isNotNull, "exact")
          .when(col("near_id").isNotNull, "near")
          .otherwise("new").as("verdict"),
        coalesce(col("exact_id"), col("near_id")).as("match_id"),
        when(col("exact_id").isNotNull, lit(1.0)).otherwise(col("j")).as("jaccard"))
  }

  /** SimHash fingerprint (16-bit here for oracle-checkability; the width is
    * a parameter). Token hash = first 60 bits of md5 as an integer; each bit
    * contributes ±1 weighted by occurrence; fingerprint bit = sign.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 16): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val hashed = df.select(col(idCol),
      explode(toks).as("tok"))
      .withColumn("h", TextOps.gramHash64(df.sparkSession, col("tok")))
    val bitSums = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b"))
    val agg = hashed.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until bits).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, b) => a + b)
    agg.select(col(idCol), fp.as("simhash"))
  }

  /** SimHash near-dup PAIRS — completes the SimHash modality from
    * fingerprints (simhash, q36) to an actionable pair list. Candidates
    * come from HAMMING-BAND BLOCKING (Charikar 2002 / Manku et al. 2007,
    * public results): the `bits`-wide fingerprint splits into `bands`
    * contiguous bit-bands; by pigeonhole, any pair at hamming distance
    * ≤ bands−1 agrees exactly on at least one band, so the band-equality
    * join is COMPLETE for maxHamming ≤ bands−1. Verification is one
    * `bit_count(xor)` per candidate.
    *
    * Scale: the band join carries only (id, simhash, band) — three longs
    * a row; band values are `bits/bands`-wide, so bucket population is
    * N/2^(bits/bands) per band under hash spread (pick bits/bands ≈
    * log2(N/wanted-candidates) exactly like the LSH knobs). No arrays, no
    * join-back: the fingerprint rides the band rows.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   bits: Int = 48, bands: Int = 4,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(simhash(df, idCol, textCol, bits).withColumnRenamed(idCol, "id"),
      "id", "simhash", bits, bands, maxHamming)

  /** Banded HAMMING-neighbor pairs over ANY precomputed bit-fingerprint
    * column (SimHash, image dHash, …): split the `bits`-wide hash into
    * `bands` equal slices, equi-join on (band index, band value), then
    * verify exact hamming ≤ `maxHamming`. Pigeonhole-complete: two
    * hashes within `maxHamming < bands` bit flips MUST agree on at
    * least one untouched band, so no qualifying pair can be missed —
    * recall 1 by construction, and the only cost knob is band-collision
    * precision. The shared banding engine of [[simhashPairs]] (text)
    * and `Multimodal.imageDHashes` (images).
    */
  def hammingPairs(fp: DataFrame, idCol: String, hashCol: String,
                   bits: Int, bands: Int, maxHamming: Int): DataFrame = {
    require(maxHamming < bands,
      s"completeness needs maxHamming < bands (pigeonhole); got $maxHamming/$bands")
    val bandRows = hammingBandRows(fp, idCol, hashCol, bits, bands)
    bandRows.as("a").join(bandRows.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.hash").bitwiseXOR(col("b.hash"))).as("hamming"))
      // hamming is a pure function of the pair, so the threshold commutes
      // with the distinct: filtering FIRST means the dedup shuffle carries
      // only surviving pairs instead of every band collision (band
      // collisions at hamming > maxHamming are the common case — random
      // 12-bit band agreement among non-dups)
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** The HAMMING BAND-ROW view of a fingerprint table: (id, hash,
    * band_idx, band_val), one row per (fingerprint, band) — the
    * joinable form of the hash, factored out of [[hammingPairs]] so a
    * persisted fingerprint index (the streaming tick's `_fpbands`) and
    * the batch pair join share ONE band-split formula and cannot drift
    * (the `lshBandRows` doctrine applied to the hamming modalities).
    * The hash itself RIDES the band rows — one long, unlike the
    * embedding family's dims-wide vectors — so index consumers never
    * need a payload join-back.
    */
  def hammingBandRows(fp: DataFrame, idCol: String, hashCol: String,
                      bits: Int, bands: Int): DataFrame = {
    require(bits % bands == 0, s"bits ($bits) must divide into bands ($bands)")
    val w = bits / bands
    val mask = if (w == 64) -1L else (1L << w) - 1
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band_idx"),
        shiftright(col(hashCol), b * w).bitwiseAND(mask).as("band_val"))
    }
    fp.select(col(idCol).as("id"), col(hashCol).as("hash"),
        explode(array(bandCols: _*)).as("bd"))
      .select(col("id"), col("hash"), col("bd.band_idx"), col("bd.band_val"))
  }

  /** BATCH-vs-CORPUS HAMMING FLAGS (VERDICT r12 #6 — the hamming
    * modalities' `embeddingCorpusFlags`): for each NEW fingerprint, the
    * minimum hamming distance to any band-matched corpus fingerprint —
    * the serving kernel of the streaming fingerprint-dedup tick. The
    * batch side broadcasts (it is tick-sized) and the PERSISTED corpus
    * band index streams map-side through one BroadcastHashJoin; the
    * only shuffle is the partial-aggregated per-new-id min fold — no
    * corpus×corpus term, no corpus repartition. Candidates are
    * pigeonhole-COMPLETE for pairs within `bands − 1` bit flips, so a
    * `best_hamming ≤ maxHamming < bands` dup test through this is
    * exact; ids with no band match emit no row (nothing near them).
    * No distinct on candidates: a pair colliding in several bands
    * scores duplicate rows the min() absorbs (the
    * embeddingCorpusFlags no-repartition trade).
    */
  def hammingCorpusFlags(corpusBands: DataFrame, batch: DataFrame,
                         idCol: String, hashCol: String,
                         bits: Int, bands: Int): DataFrame = {
    val bBands = hammingBandRows(batch, idCol, hashCol, bits, bands)
      .select(col("id").as("new_id"), col("hash").as("nh"),
        col("band_idx"), col("band_val"))
    // NO self-exclusion: an id already IN the corpus matches itself at
    // hamming 0 and flags as a dup — exactly what makes a fully-replayed
    // tick batch a no-op (the embeddingCorpusFlags replay property); a
    // batch genuinely disjoint from the corpus (q214's %11 split) never
    // hits the case
    corpusBands.join(broadcast(bBands), Seq("band_idx", "band_val"))
      .groupBy(col("new_id").as(idCol))
      .agg(min(bit_count(col("hash").bitwiseXOR(col("nh"))).cast("long"))
        .as("best_hamming"))
  }

  /** MEASURED-SIZE BAND-COUNT DISPATCH for the hamming family (VERDICT
    * r13 #1 — the discipline every other ANN family already has,
    * applied to the one that was missing it). Hamming banding splits a
    * FIXED-width hash, so occupancy cannot be chased by widening a band
    * the way LSH widths widen — but the BAND COUNT is a real cost dial
    * inside the pigeonhole-valid range: any `bands > maxHamming`
    * preserves the dup contract (`best_hamming ≤ maxHamming` is
    * pigeonhole-complete), while fewer/wider bands cut random band
    * collisions exponentially — candidates ∝ bands·N/2^(bits/bands),
    * the measured ~2.8× at 20 M hashes between bands=8 and bands=4
    * (SCALE.md §8 addendum 6). What narrows as bands drop is only the
    * EXACTNESS RADIUS of best_hamming values ABOVE maxHamming
    * (complete to bands−1 flips), which no dup consumer reads.
    *
    * Policy: hold the registered `floorBands` while its per-band-value
    * occupancy `n / 2^(bits/floorBands)` stays at or under
    * `targetOccupancy` (every oracle scale — results bit-identical to
    * the fixed call), then step DOWN through the valid band counts
    * (divisors of `bits`, each > `maxHamming`) until occupancy clears
    * or no smaller valid count exists. At 64 bits / maxHamming 2 the
    * ladder is 8 → 4: the 20 M-hash shape lands on 4.
    */
  def hammingAutoBands(n: Long, bits: Int, floorBands: Int, maxHamming: Int,
                       targetOccupancy: Long = Sizing.TargetOccupancy): Int = {
    require(bits % floorBands == 0,
      s"bits ($bits) must divide into floorBands ($floorBands)")
    require(maxHamming < floorBands,
      s"completeness needs maxHamming < floorBands; got $maxHamming/$floorBands")
    require(targetOccupancy >= 1, s"bad targetOccupancy $targetOccupancy")
    // valid smaller counts, widest (fewest bands) last
    val smaller = ((maxHamming + 1) until floorBands)
      .filter(b => bits % b == 0).sorted.reverse
    def over(b: Int): Boolean = {
      val w = bits / b
      w < 63 && (n >> w) > targetOccupancy
    }
    var bands = floorBands
    var rest = smaller
    while (over(bands) && rest.nonEmpty) { bands = rest.head; rest = rest.tail }
    bands
  }

  /** [[hammingCorpusFlags]] behind the measured-size band dispatch: one
    * corpus count() picks the band count via [[hammingAutoBands]] —
    * bit-identical to the fixed-`floorBands` call while occupancy holds
    * (every oracle scale), wider bands above. The corpus band rows are
    * derived here at the chosen count; a PERSISTED index should instead
    * go through [[ensureFpBandIndexFresh]] + [[hammingCorpusFlags]] so
    * the rebuild is paid once per step, not per batch.
    */
  def hammingCorpusFlagsAuto(corpus: DataFrame, batch: DataFrame,
                             idCol: String, hashCol: String, bits: Int,
                             floorBands: Int, maxHamming: Int,
                             targetOccupancy: Long = Sizing.TargetOccupancy): DataFrame = {
    val n = corpus.count()
    val bands = hammingAutoBands(n, bits, floorBands, maxHamming,
      targetOccupancy)
    hammingCorpusFlags(hammingBandRows(corpus, idCol, hashCol, bits, bands),
      batch, idCol, hashCol, bits, bands)
  }

  /** FINGERPRINT-INDEX STALENESS GUARD (VERDICT r13 #1 — the
    * [[graft.sim.Similarity.ensureBandIndexFresh]] analog for the
    * hamming modalities, on the shared [[graft.sim.IndexMeta]]
    * contract): a persisted `_fpbands` index froze its band count at
    * build time, but [[hammingAutoBands]] is a function of CORPUS SIZE
    * — once the corpus crosses a band-count step, a tick serving
    * through the frozen index pays the measured ~2.8× candidate
    * constant every pass. Compare the count the CURRENT corpus needs
    * against the count the index was BUILT at (the meta row's dial),
    * rebuild on mismatch (one corpus scan), and return the effective
    * band count every consumer must use. Invariants: the hash width
    * and the `maxHamming` contract — both are SEMANTICS, not dials,
    * so a mismatch refuses loudly. Re-banding preserves the dup
    * verdict (both counts exceed maxHamming ⇒ pigeonhole-complete at
    * the contract radius); only above-radius best_hamming values can
    * differ, which no dup consumer reads.
    */
  def ensureFpBandIndexFresh(corpus: DataFrame, idCol: String,
                             hashCol: String, bits: Int, bandsDir: String,
                             metaDir: String, floorBands: Int,
                             maxHamming: Int,
                             targetOccupancy: Long = Sizing.TargetOccupancy): Int = {
    val spark = corpus.sparkSession
    val n = corpus.count()
    val needed = hammingAutoBands(n, bits, floorBands, maxHamming,
      targetOccupancy)
    graft.sim.IndexMeta.ensureFresh(spark, metaDir,
      invariants = Seq("bits" -> bits.toLong,
        "max_hamming" -> maxHamming.toLong),
      dialName = "bands", neededDial = needed.toLong,
      legacyDial = floorBands.toLong, corpusN = n,
      // the dial steps DOWN as the corpus grows (fewer, wider bands) —
      // staleness is any mismatch, not a one-directional outgrowth
      staleWhen = (built, need) => need != built,
      what = s"hamming fingerprint band index at $bandsDir") { b =>
      graft.storage.ParquetCompact.replace(spark, bandsDir)(
        hammingBandRows(corpus, idCol, hashCol, bits, b.toInt).write.parquet(_))
    }.toInt
  }

  /** Blocked n-gram Jaccard near-dup pairs: quadratic only within a block.
    *
    * Shingles are pre-hashed to 60-bit ints (md5 prefix) so the per-pair
    * intersection compares longs, not strings — ~10× cheaper row kernels,
    * with collision probability ~|sh|²/2^60 per pair (negligible). The
    * hashing is mirrored in the oracle, so results stay exact-comparable.
    */
  /** Character-n-gram variant building shingle ROWS in codegen (explode
    * of a position sequence + substr) — no per-row array construction, no
    * interpreted HOF; ~4× faster than the array route at sf0.1. */
  def blockedJaccardPairsFromText(df: DataFrame, idCol: String, textCol: String,
                                  blockCols: Seq[String], n: Int,
                                  minJaccard: Double): DataFrame = {
    // Everything before the sets shuffle — the ×(len-n+1) explode, the
    // per-gram digest, the map-side collect_set — runs at SCAN-SPLIT
    // parallelism. A 100 TB corpus arrives in thousands of splits; the
    // gate corpus is ONE 2 MB parquet split, so that whole stage ran in
    // a single task (measured: ~4 s of q37's 4.2). Re-spread the doc
    // rows (cheap) when the frame reads few SMALL files; at real scale
    // the condition is false and this is a no-op. The probe is
    // `inputFiles` — metadata-only — NOT `df.rdd.getNumPartitions`,
    // which under AQE materializes (executes!) any upstream shuffle
    // stages of a derived input frame just to count partitions. Large
    // files under-count their splits here, but a large file IS
    // parallelism (maxPartitionBytes splits it), so skipping the
    // respread there is correct.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val files = try df.inputFiles.length catch { case _: Throwable => Int.MaxValue }
    val spread = if (files > 0 && files < par) df.repartition(par) else df
    val rows = spread
      .filter(length(col(textCol)) >= n)
      .select(blockCols.map(col) :+ col(idCol).as("id") :+ col(textCol).as("__t"): _*)
      .select(blockCols.map(col) :+ col("id") :+
        explode(sequence(lit(1), length(col("__t")) - (n - 1))).as("pos") :+
        col("__t"): _*)
      .select(blockCols.map(col) :+ col("id") :+
        col("__t").substr(col("pos"), lit(n)).as("g"): _*)
    pairsFromShingleRows(rows, blockCols, minJaccard)
  }

  def blockedJaccardPairs(df: DataFrame, idCol: String, shingleCol: String,
                          blockCols: Seq[String], minJaccard: Double): DataFrame =
    pairsFromShingleRows(
      df.select(blockCols.map(col) :+ col(idCol).as("id") :+
        explode(col(shingleCol)).as("g"): _*),
      blockCols, minJaccard)

  /** Character-level near-dup pairs by NORMALIZED EDIT SIMILARITY
    * `1 − lev(a,b) / max(|a|,|b|)` within `blockCols` blocks — the
    * order-SENSITIVE complement to the gram-set family: a document whose
    * sentences were shuffled keeps its shingle set (high Jaccard, q35/
    * q37) but loses its character order (low edit similarity), while a
    * lightly-revised document scores high on BOTH. This is the detector
    * for true textual revisions (typo fixes, small edits) as opposed to
    * content overlap.
    *
    * Scale shape: pairs exist only inside blocks (the blockedJaccard
    * discipline), and three NECESSARY conditions of `sim ≥ minSim` prune
    * before any quadratic work runs:
    *  (a) a LOGARITHMIC LENGTH BAND in the JOIN KEY — `sim ≥ t` forces
    *      `min/max ≥ t′` (edit distance is at least the length
    *      difference), so docs are banded by `floor(log_{1/t′} len)` and
    *      the a-side probe-replicates into bands {band, band+1} (the
    *      pairsFromShingleRows construction): far-sized pairs are never
    *      even ENUMERATED by the equi-join, and the length prune happens
    *      at the shuffle, not the residual;
    *  (b) the exact length band `|la−lb| ≤ (1−t′)·max(la,lb)` as the
    *      cheap integer join residual inside matching band pairs;
    *  (c) the `LevenshteinWithin` kernel (plans/ArrayOps.scala) — banded
    *      DP with a PER-PAIR threshold `k = floor((1−t′)·max(la,lb))`
    *      and row-min early exit: a rejected pair costs O(k·len), not
    *      O(len²), and k is each pair's own admission bound rather than
    *      the corpus-max bound a scalar-threshold builtin forces. This
    *      also drops the corpus-max scalar job the builtin needed.
    * t′ is `minSim − 0.5e-4`, the EFFECTIVE threshold the final
    * `round(sim, 4) ≥ minSim` filter admits (the pairsFromShingleRows
    * rounding-grid doctrine).
    *
    * Threshold placement: the noise floor for same-block pairs on this
    * corpus is MEASURED at sim 0.2–0.45 (random same-source English) with
    * true revisions ≥ 0.8 — callers should sit above the floor; a
    * threshold inside it (the old 0.35) returns thousands of
    * structurally-meaningless pairs AND defeats every prune above
    * (length band admits |Δlen| ≤ 0.65·max ≈ everything, the DP band is
    * the whole matrix).
    *
    * ASCII guard: Spark's levenshtein counts CODEPOINTS while DuckDB's
    * counts BYTES — identical only on ASCII, so both engines exclude
    * non-ASCII docs (nothing, on this corpus). A production corpus
    * would route non-ASCII through a codepoint-safe kernel instead of
    * dropping it.
    */
  def editSimilarityPairs(df: DataFrame, idCol: String, textCol: String,
                          blockCols: Seq[String], minSim: Double): DataFrame = {
    // lower bound is the output rounding grid (the pairsFromShingleRows
    // doctrine): at minSim <= 1e-4 the effective threshold t' underflows
    // to <= 0 — an all-pairs request in disguise, and log(1/t') is no
    // longer a valid band base
    require(minSim > 1e-4 && minSim < 1.0,
      s"minSim must be in (1e-4, 1), got $minSim — thresholds at or below " +
        "the 4-decimal rounding grid degenerate to all-pairs")
    val spark = df.sparkSession
    // the q37 single-split trap (blockedJaccardPairsFromText scaladoc):
    // a small-file corpus scans as ONE task, and with the pair join
    // broadcast that single task would run EVERY levenshtein kernel
    // serially (measured: one worker thread hot, 31 idle). Re-spread
    // when (and only when) the scan has fewer splits than cores — a
    // no-op at real scale where files outnumber executors.
    val par = spark.sparkContext.defaultParallelism
    val files = try df.inputFiles.length catch { case _: Throwable => Int.MaxValue }
    val spread = if (files > 0 && files < par) df.repartition(par) else df
    val tEff = minSim - 0.5e-4
    val logBase = math.log(1.0 / tEff)
    val docs = spread
      .filter(col(textCol).rlike("^[\\x00-\\x7F]*$"))
      .select(col(idCol).as("id") +: col(textCol).as("t") +:
        length(col(textCol)).as("ln") +: blockCols.map(col): _*)
      // ratio ≤ 1/t′ ⇒ log-band diff ≤ 1, so probing {band, band+1}
      // covers every admissible pair exactly once (canonical order below)
      .withColumn("band",
        floor(log(greatest(col("ln"), lit(1)).cast("double")) / logBase))
    def side(suf: String) = docs.select(
      col("id").as(s"id_$suf") +: col("t").as(s"t$suf") +:
        col("ln").as(s"l$suf") +: col("band").as(s"band_$suf") +:
        blockCols.map(c => col(c).as(s"${c}_$suf")): _*)
    val a = side("a").withColumn("jband",
      explode(array(col("band_a"), col("band_a") + 1)))
    val mx = greatest(col("la"), col("lb")).cast("double")
    val blockEq = blockCols.map(c => col(s"${c}_a") === col(s"${c}_b"))
      .reduce(_ && _)
    val canonical = col("band_a") < col("band_b") ||
      (col("band_a") === col("band_b") && col("id_a") < col("id_b"))
    // per-pair admission bound for the kernel: the largest lev the final
    // rounded filter can keep (+1e-9 guards the fp product at the grid)
    val kPair = floor((lit(1.0 - tEff) * mx) + lit(1e-9)).cast("int")
    a.join(side("b"),
        blockEq && col("jband") === col("band_b") && canonical &&
          abs(col("la") - col("lb")).cast("double") <= lit(1.0 - tEff) * mx)
      // cross-band pairs arrive (smaller-band, larger-band) — re-order to
      // the canonical id_a < id_b the symmetric similarity implies
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        graft.plans.ArrayOps.levenshteinWithin(spark,
          col("ta"), col("tb"), kPair).as("lev"), mx.as("mx"))
      .filter(col("lev") >= 0)
      .select(col("id_a"), col("id_b"),
        round(lit(1.0) - col("lev").cast("double") / col("mx"), 4).as("edit_sim"))
      .filter(col("edit_sim") >= minSim)
  }

  /** Shared tail: hash shingle rows in codegen, aggregate to SORTED hashed
    * sets (collect_set dedups; map-side combine shrinks the shuffle), then
    * the within-block pair join with the primitive merge-count kernel
    * (plans.LongSortedIntersectCount) instead of array_intersect's boxed
    * per-pair hash set.
    *
    * Block key = blockCols + size band (floor(log2(set size)) via
    * `length(bin(n)) - 1` — EXACT integer log2; fp log2 rounds 2^k
    * unreliably across engines). Pairs within `ceil(log2(1/minJaccard))`
    * bands of each other cover every pair that can reach the threshold
    * (object doc has the bound); they are found with PROBE REPLICATION —
    * the a-side explodes into rows for bands szband..szband+maxDiff and a
    * SINGLE equi-join matches a.probe_band = b.szband — one join, one
    * shuffle per side (per-diff joins would shuffle the heavy set
    * aggregation once per diff on different keys, defeating exchange
    * reuse), and never an OR condition that would degrade to a
    * nested-loop join. The canonical-order filter (band <, or same band
    * and id <) keeps each pair exactly once.
    *
    * The candidate join is LIGHT (round-3 fix of the r02 bench
    * regression): only (blockCols, szband, id, sz) rows are replicated
    * into the probe explode and the shuffle — the heavy sorted `sh`
    * arrays are joined back (hash join on id, skew-free, each array
    * shuffled once per side) ONLY for pairs that survive the
    * size-ratio prefilter `min(|A|,|B|) ≥ t'·max(|A|,|B|)` — a necessary
    * condition for J ≥ t' since J ≤ min/max — evaluated as a cheap
    * int comparison in the join residual. t' = t − 5e-5 is the EFFECTIVE
    * threshold implied by the final `round(j, 4) ≥ t` filter (a pair
    * whose Jaccard rounds up to t must still be reachable); a further
    * 1e-6 slack keeps the comparison conservative against the double
    * rounding of t'·max.
    */
  /** PREFIX-FILTERED exact similarity join — the AllPairs/PPJoin family
    * (Bayardo et al. 2007; Chaudhuri et al. 2006's prefix filter,
    * public results): all pairs with word-set Jaccard ≥ `minJaccard`,
    * with ZERO false negatives BY CONSTRUCTION — the candidate-
    * generation class complementary to LSH banding (q35 trades recall
    * for candidate volume; this is exact, paying instead a candidate
    * set governed by token-frequency skew).
    *
    * The filter: order every doc's tokens by GLOBAL document frequency
    * (rarest first, ties by hash); two sets with J ≥ t and sizes
    * |a|,|b| must share ≥ ⌈t·max(|a|,|b|)⌉ tokens, so each must expose
    * a shared token within its first |x| − ⌈t·|x|⌉ + 1 — the prefix.
    * Joining on PREFIX tokens only (the rare end of the Zipf curve, so
    * the hot-head join blow-up the q135 shingle note measured never
    * happens) plus the size-ratio gate yields a candidate superset;
    * the exact sorted-intersect kernel then verifies. Thresholds run
    * on the q37 effective-threshold doctrine (the 4-dp rounding grid).
    *
    * Cost shape: one token shuffle for df, one per-doc rank window (the
    * same cost class as a minhash signature build), the prefix-token
    * equi-join, and the kernel verify on candidates only.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         n: Int, minJaccard: Double): DataFrame = {
    require(minJaccard > 1e-4 && minJaccard <= 1.0,
      s"minJaccard must be in (1e-4, 1], got $minJaccard")
    val tEff = minJaccard - 0.5e-4
    val spark = df.sparkSession
    // word n-gram shingle sets (the q35 similarity unit — single tokens
    // are non-discriminative on a Zipf-head vocabulary: measured 92k of
    // 125k possible pairs above J=0.5 at sf0.01 on token sets)
    val toks = TextOps.wordShingleRows(df, idCol, textCol, n)
      .withColumn("h", TextOps.gramHash64(spark, col("g")))
      .select(col("id"), col("h")).distinct()
      .localCheckpoint(true) // df counts, the rank window and the
                             // verify sets all read this one frame
    val dfreq = toks.groupBy(col("h")).agg(count(lit(1)).as("dfq"))
    val wDoc = Window.partitionBy(col("id")).orderBy(col("dfq"), col("h"))
    val ordered = toks.join(dfreq, Seq("h")) // vocab-bounded, unhinted
      .withColumn("rk", row_number().over(wDoc))
    val sized = toks.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val pref = ordered.join(sized, Seq("id"))
      .filter(col("rk") <=
        col("sz") - ceil(col("sz").cast("double") * lit(tEff)) + 1)
      .select(col("id"), col("h"), col("sz"))
      // both sides of the candidate self-join read this frame — without
      // the checkpoint each side re-runs the df join + per-doc rank
      // window (measured in the q190 plan audit: two Window branches)
      .localCheckpoint(true)
    val cand = pref.as("a").join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          least(col("a.sz"), col("b.sz")).cast("double") >=
            greatest(col("a.sz"), col("b.sz")) * lit(tEff) - lit(1e-6))
      .select(col("a.id").as("ia"), col("b.id").as("ib"))
      .dropDuplicates("ia", "ib")
    val sets = toks.groupBy(col("id")).agg(sort_array(collect_set(col("h"))).as("sh"))
    val joined = cand
      .join(sets.withColumnsRenamed(Map("id" -> "ia", "sh" -> "sh_a")), Seq("ia"))
      .join(sets.withColumnsRenamed(Map("id" -> "ib", "sh" -> "sh_b")), Seq("ib"))
    joined
      .withColumn("common",
        graft.plans.ArrayOps.sortedIntersectCount(joined, "sh_a", "sh_b")
          .cast("double"))
      .withColumn("jaccard", round(col("common") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("ia").as("id_a"), col("ib").as("id_b"), col("jaccard"))
  }

  private def pairsFromShingleRows(rows: DataFrame, blockCols: Seq[String],
                                   minJaccard: Double): DataFrame = {
    // the lower bound is the output rounding grid: at minJaccard <= 1e-4
    // the effective threshold below underflows to <= 0 (every pair
    // "rounds up"), which is an all-pairs request in disguise
    require(minJaccard > 1e-4 && minJaccard <= 1.0,
      s"minJaccard must be in (1e-4, 1], got $minJaccard — thresholds at or " +
        "below the 4-decimal rounding grid degenerate to all-pairs")
    // The FINAL filter keeps round(j, 4) >= minJaccard, which admits true
    // Jaccard as low as minJaccard - 5e-5 (half of the 1e-4 rounding
    // grid). Every candidate bound below must therefore be computed from
    // this EFFECTIVE threshold, not minJaccard itself — otherwise a pair
    // whose Jaccard rounds UP to the threshold passes the final filter
    // (and the all-pairs oracle) but never reaches it: at t=0.5 that
    // bites both the size-ratio prefilter (min/max = 0.49995 < 0.5) and
    // the band-diff bound (size ratio 2.0002 needs diff 2, not 1).
    val tEff = minJaccard - 0.5e-4
    val maxBandDiff = math.ceil(math.log(1.0 / tEff) / math.log(2.0)).toInt
    val base = rows
      .withColumn("hg", TextOps.gramHash64(rows.sparkSession, col("g")))
      .groupBy(blockCols.map(col) :+ col("id"): _*)
      .agg(sort_array(collect_set(col("hg"))).as("sh"))
      .withColumn("sz", size(col("sh")))
      .withColumn("szband", length(bin(col("sz"))) - 1)
    // light candidate side: no heavy array payload in the probe explode
    val light = base.select(blockCols.map(col) :+ col("id") :+ col("sz") :+
      col("szband"): _*)
    val a = light
      .withColumn("jband",
        explode(array((0 to maxBandDiff).map(d => col("szband") + d): _*)))
      .as("a")
    val b = light.as("b")
    val blockCond = blockCols.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)
    val cand = a.join(b,
        blockCond && col("a.jband") === col("b.szband") &&
          (col("a.szband") < col("b.szband") ||
            (col("a.szband") === col("b.szband") && col("a.id") < col("b.id"))) &&
          least(col("a.sz"), col("b.sz")).cast("double") >=
            greatest(col("a.sz"), col("b.sz")) * lit(tEff) - lit(1e-6))
      .select(col("a.id").as("ia"), col("b.id").as("ib"))
    val sets = base.select(col("id"), col("sh"))
    val joined = cand
      .join(sets.withColumnsRenamed(Map("id" -> "ia", "sh" -> "sh_a")), Seq("ia"))
      .join(sets.withColumnsRenamed(Map("id" -> "ib", "sh" -> "sh_b")), Seq("ib"))
    joined
      .withColumn("common",
        graft.plans.ArrayOps.sortedIntersectCount(joined, "sh_a", "sh_b").cast("double"))
      .withColumn("jaccard", round(col("common") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(least(col("ia"), col("ib")).as("id_a"),
              greatest(col("ia"), col("ib")).as("id_b"), col("jaccard"))
  }
}
