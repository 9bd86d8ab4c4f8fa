package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Sizing

/** Text-analysis primitives for the training-data pipeline surface
  * (builder brief: language-ID, quality scoring, token counting, document
  * fingerprinting). All pure Column compositions — codegen'd, no UDFs, and
  * every function has an exact SQL equivalent so results are oracle-checkable.
  */
object TextOps {

  /** Whitespace tokens, empties dropped (multi-space safe).
    *
    * Deliberately LAMBDA-FREE (`array_remove`, not `filter(_, lambda)`):
    * plans containing lambda expressions do not canonicalize equal, which
    * blocks ReuseExchange for every subtree above them — the minhash
    * pipeline would recompute its shingle subtree once per consumer.
    */
  def tokens(text: Column): Column =
    array_remove(split(text, " +"), "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Character n-grams of `text` — [substr(text, i, n) for
    * i = 1..len−n+1], empty under length n. The standard language-ID
    * feature family (char grams are script-sensitive and robust to
    * unseen words, which whole-word features are not); one
    * sequence+transform per row, no shuffle. */
  def charNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"char n-gram width $n < 1")
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - lit(n - 1)),
        i => text.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))
  }

  /** The [[charNgrams]] count in closed form: greatest(len − n + 1, 0)
    * — used where only the total matters (the NB t_l normalizer), so
    * the count never pays the gram materialization. */
  def charNgramCount(text: Column, n: Int): Column =
    greatest(length(text) - lit(n - 1), lit(0)).cast("long")

  /** CORPUS SNAPSHOT DIFF — the data-versioning primitive: classify
    * every doc_id across two corpus versions as added / removed /
    * changed / unchanged by CONTENT HASH (not text equality — the hash
    * comparison ships 32 bytes per side through the join, not
    * documents). One full-outer hash join on the id, sort-merge at
    * scale, skew-free by id construction; emits (doc_id, status).
    */
  /** CROSS-DOCUMENT LINE-FREQUENCY boilerplate removal (r16) — the
    * CCNet/RefinedWeb curation stage that catches what per-block
    * length/link-density classifiers miss: a content-LOOKING line
    * ("subscribe to our newsletter…") repeated across many documents
    * is boilerplate by frequency, not by shape. Split each document's
    * `textCol` on newlines, drop empty lines, count each distinct
    * line's DOCUMENT frequency, and keep lines appearing in ≤
    * `maxDocFreq` documents; emits one row per surviving document:
    * (doc_id, n_lines, n_kept, kept_text) with kept lines re-joined in
    * original order. Documents with zero nonempty lines emit no row
    * (the group-by semantics both engines share).
    *
    * Scale shape: TWO exchanges — a line-keyed aggregate for the
    * document frequencies (shipped and joined as md5 HASHES, 16 bytes
    * per line instead of line text; the freq table is
    * distinct-line-bounded) and the doc-keyed re-aggregation. The
    * order-restoring sort is per-doc inside the final aggregate
    * (array_sort over (line_no, line) structs — no window). The
    * re-join transform is a lambda HOF on the FINAL projection — a
    * single consumer, so the canonicalization caveat on [[tokens]]
    * does not bite.
    */
  def lineFrequencyFilter(df: org.apache.spark.sql.DataFrame,
                          idCol: String, textCol: String,
                          maxDocFreq: Long): org.apache.spark.sql.DataFrame = {
    val lines = lineRows(df, idCol, textCol)
    val freq = lines.groupBy(col("lh"))
      .agg(countDistinct(col("doc_id")).as("line_df"))
    lineFilterFromRows(lines, freq, maxDocFreq)
  }

  /** The line grain [[lineFrequencyFilter]] aggregates over — (doc_id,
    * line_no, line, lh) with empty lines dropped — factored out so the
    * streaming crawl tick (r17) can PERSIST this grain once per doc and
    * keep the df index current without re-extracting HTML. */
  private[graft] def lineRows(df: org.apache.spark.sql.DataFrame,
                              idCol: String,
                              textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
      .filter(length(col("line")) > 0)
      .withColumn("lh", md5(col("line")))

  /** The re-aggregation half of [[lineFrequencyFilter]] over prebuilt
    * line rows and a (lh, line_df) frequency frame — ONE definition for
    * the batch operator and the [[lineFilteredCorpus]] read face of the
    * streaming tick's persisted index, so the keep rule and the
    * order-restoring aggregate cannot drift between them. */
  private[graft] def lineFilterFromRows(lines: org.apache.spark.sql.DataFrame,
                                        freq: org.apache.spark.sql.DataFrame,
                                        maxDocFreq: Long): org.apache.spark.sql.DataFrame =
    lines.join(freq, Seq("lh"))
      .withColumn("keep", col("line_df") <= maxDocFreq)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("keep").cast("long")).as("n_kept"),
        concat_ws("\n", transform(array_sort(collect_list(
          when(col("keep"),
            struct(col("line_no").as("n"), col("line").as("l"))))),
          x => x.getField("l"))).as("kept_text"))

  /** READ FACE of the streaming crawl-ingest artifact
    * ([[graft.streaming.StreamingIngest.crawlIngestTick]]): the
    * boilerplate-filtered corpus materialized from the PERSISTED line
    * grain joined to the tick-maintained df index — no HTML re-parse,
    * no corpus-wide line re-count; `maxDocFreq` is a read-time knob
    * (the df index is frequency truth, the threshold is policy).
    * Bit-identical to [[lineFrequencyFilter]] over everything ingested
    * so far (StreamingSpec pins two-wave ≡ one-shot).
    */
  def lineFilteredCorpus(spark: org.apache.spark.sql.SparkSession,
                         outDir: String,
                         maxDocFreq: Long): org.apache.spark.sql.DataFrame =
    lineFilterFromRows(spark.read.parquet(s"$outDir/_lines"),
      graft.storage.ParquetCompact.read(spark, s"$outDir/_linedf"), maxDocFreq)

  def corpusDiff(oldDf: org.apache.spark.sql.DataFrame,
                 newDf: org.apache.spark.sql.DataFrame,
                 idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val o = oldDf.select(col(idCol).as("doc_id"), md5(col(textCol)).as("__oh"))
    val n = newDf.select(col(idCol).as("doc_id"), md5(col(textCol)).as("__nh"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("__oh").isNull, lit("added"))
          .when(col("__nh").isNull, lit("removed"))
          .when(col("__oh") =!= col("__nh"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Left-semi join `probe` against a distinct key frame whose size is
    * only known at runtime, choosing the physical strategy by MEASURED
    * key count instead of trusting a "small by contract" assumption:
    * at or below `maxBroadcastKeys` the key set is broadcast (zero
    * probe-side shuffle — the decontamination fast path, where a
    * benchmark suite is fixed O(MB) external data); above it the join
    * falls back to a shuffle semi-join, because a broadcast that scales
    * WITH the corpus (the q61 synthetic stand-in is 5% of the corpus)
    * would eventually OOM every executor. The key frame is checkpointed
    * so sizing it and joining against it share one materialization; the
    * default threshold is ~32 MB of long keys, comfortably inside
    * executor broadcast budgets.
    */
  def sizedSemiJoin(probe: org.apache.spark.sql.DataFrame,
                    keys: org.apache.spark.sql.DataFrame, keyCol: String,
                    maxBroadcastKeys: Long = Sizing.MaxBroadcastRows): org.apache.spark.sql.DataFrame = {
    val mat = keys.localCheckpoint(true)
    val n = mat.count()
    if (n <= maxBroadcastKeys)
      probe.join(broadcast(mat), Seq(keyCol), "left_semi")
    else
      // the hint FORBIDS broadcast (Catalyst would otherwise re-decide
      // from its own stats and re-broadcast past our measured threshold):
      // over-threshold key sets sort-merge, the strategy that survives
      // arbitrary key-set growth
      probe.join(mat.hint("merge"), Seq(keyCol), "left_semi")
  }

  /** [[tokenCount]] through the `TokenCount` byte-scan kernel — same
    * value by definition (KernelFuzzSpec pins it), no regex split and no
    * token-array materialization. Prefer this wherever a session is in
    * reach (every DataFrame-taking operator: `df.sparkSession`); the
    * composed form above stays as the executable definition the kernel
    * is fuzzed against. Session passed explicitly — same doctrine as
    * [[gramHash64]].
    */
  def tokenCountFast(spark: org.apache.spark.sql.SparkSession,
                     text: Column): Column =
    graft.plans.ArrayOps.tokenCount(spark, text)

  /** COMPRESSION-RATIO quality signal (the zlib filter of the
    * RefinedWeb/Gopher-era cleaning batteries, public): deflate(text)
    * size over raw size — repetitive/templated text compresses far
    * below natural prose, and near-random byte soup sits at ~1.0, so
    * BOTH tails of the ratio are drop candidates. The per-row zlib
    * pass is a Dataset map (the multimodal-codec precedent: there is
    * no built-in, and the deflate state machine is not expressible as
    * a Catalyst kernel), one Deflater reused per partition batch.
    * DuckDB has no deflate, so the deflate-VALUED output is checked by
    * the independent Python-zlib arm in tools/check.py (over the
    * `<outDir>.extras/deflate_bytes` artifact Verify writes) plus the
    * spec's repetitive-vs-random orderings, determinism, and
    * Python-precomputed golden byte counts; the DRIVER-registered query
    * is [[compressionSignal]], whose every output column DuckDB can
    * recompute (VERDICT r11 #7).
    */
  def compressionStats(spark: org.apache.spark.sql.SparkSession,
                       docs: org.apache.spark.sql.DataFrame,
                       idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6, true)
        it.map { case (id, t) =>
          // null → "" mirrors the zlib arm's handling (tools/check.py)
          val in = (if (t == null) "" else t)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(in)
          deflater.finish()
          // worst case: stored blocks ≈ input + 5 bytes per 16 KiB + slop
          val buf = new Array[Byte](in.length + in.length / 16384 * 5 + 64)
          var n = 0
          while (!deflater.finished() && n < buf.length)
            n += deflater.deflate(buf, n, buf.length - n)
          val ratio =
            if (in.length == 0) 1000000L
            else math.floor(n.toDouble * 1e6 / in.length.toDouble + 0.5).toLong
          (id, in.length.toLong, n.toLong, ratio)
        }
      }
      .toDF("doc_id", "n_raw", "n_deflate", "ratio_micro")
  }

  /** The DRIVER-checkable face of the compression-ratio signal (VERDICT
    * r11 #7): runs the SAME per-row deflate as [[compressionStats]] —
    * and FAILS the query if a deflate invariant breaks (must finish
    * inside the stored-block bound; nonempty input must emit bytes) —
    * but emits only columns an engine without deflate can recompute:
    * the UTF-8 byte count the deflater consumed and an MD5 of those
    * bytes (DuckDB: `strlen`/`md5`). A broken or skipped deflate pass
    * therefore throws (red driver row) rather than passing silently;
    * the deflate VALUES are checked by the Python-zlib arm over the
    * `.extras` artifact and the golden-bytes spec.
    */
  def compressionSignal(spark: org.apache.spark.sql.SparkSession,
                        docs: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6, true)
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, t) =>
          val in = (if (t == null) "" else t)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(in)
          deflater.finish()
          val buf = new Array[Byte](in.length + in.length / 16384 * 5 + 64)
          var n = 0
          while (!deflater.finished() && n < buf.length)
            n += deflater.deflate(buf, n, buf.length - n)
          require(deflater.finished() && n <= buf.length
            && (in.length == 0 || n > 0),
            s"deflate invariant broken for id=$id: n=$n raw=${in.length}")
          md.reset()
          val dg = md.digest(in)
          val hex = new java.lang.StringBuilder(32)
          dg.foreach { b =>
            hex.append(Character.forDigit((b >> 4) & 0xF, 16))
            hex.append(Character.forDigit(b & 0xF, 16))
          }
          (id, in.length.toLong, hex.toString)
        }
      }
      .toDF("doc_id", "n_raw", "text_md5")
  }

  /** Word n-gram shingles from an ALREADY-MATERIALIZED tokens column
    * (an attribute, not an expression). Guarded for docs shorter than n
    * tokens (Spark's `sequence(1,0)` would count DOWN, not return empty).
    *
    * Perf note: expressions referenced inside a higher-order-function
    * lambda are re-evaluated PER ELEMENT — passing `tokens(text)` directly
    * here would re-split the text O(n) times per row (measured 20× slowdown
    * at sf0.1). Hence the df-level `withWordShingles`, which binds the
    * token array to a column first; `element_at` keeps each element O(1)
    * where `slice` would copy O(n).
    */
  def wordShinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array()))

  /** Add a word-n-gram shingle column (distinct) for `textCol`. */
  def withWordShingles(df: org.apache.spark.sql.DataFrame, textCol: String,
                       n: Int, out: String): org.apache.spark.sql.DataFrame =
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn(out, wordShinglesFromTokens(col("__toks"), n))
      .drop("__toks")

  /** Word n-gram shingles as ROWS (id, g) — the scale path for MinHash:
    * posexplode + windowed lead keeps everything in whole-stage codegen
    * (no array materialization, no per-element lambda re-evaluation; the
    * only cost is one shuffle on the doc id, which the downstream
    * signature aggregation needs anyway). Emits one row per OCCURRENCE —
    * duplicate-insensitive consumers (min-hash, collect_set) see the same
    * set as the distinct-array form.
    */
  def wordShingleRows(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, n: Int): org.apache.spark.sql.DataFrame =
    // delegate so the shingle construction exists ONCE (column pruning
    // drops the unused pos — no plan-shape penalty)
    wordShingleRowsPos(df, idCol, textCol, n).select("id", "g")

  /** [[wordShingleRows]] keeping the gram's 0-based START POSITION —
    * for operators that locate grams back in the document (span
    * trimming), where the plain variant's (id, g) shape loses the
    * offset. Same single (id)-keyed exchange.
    */
  def wordShingleRowsPos(df: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    // Per-row zip-slice build (the bigramRows idiom widened to n): the
    // n shifted slices of each doc's token array zip positionally and
    // explode ONCE — pure scan-stage codegen, NO shuffle. Through r07
    // this was posexplode + (n-1) window leads, which bought every LSH
    // consumer a corpus-wide (id) exchange AND a per-doc sort before the
    // shingling even started — at 100 TB that exchange was the largest
    // avoidable data movement in the whole dedup fleet (the token stream
    // is bigger than the documents). posexplode's index doubles as the
    // gram's 0-based start position, so the Pos variant is free.
    val fields = (0 until n).map(j => s"c$j:string").mkString(",")
    val zipped = arrays_zip((0 until n).map(j =>
        expr(s"slice(t, ${j + 1}, greatest(size(t) - ${n - 1}, 0))")): _*)
      .cast(s"array<struct<$fields>>")
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
      .select(col("id"), posexplode(zipped).as(Seq("pos", "s")))
      .select(col("id"), col("pos").cast("long").as("pos"),
        concat_ws(" ", (0 until n).map(j => col(s"s.c$j")): _*).as("g"))
  }

  /** Seeded 32-bit hash of an id column: the first 8 hex chars of
    * md5(seed || id) as a long in [0, 2^32) — the ONE deterministic
    * pseudo-randomness primitive behind bucketed splits (mod N) and
    * unit-interval draws (divide by 2^32). Mirrors the DuckDB idiom
    * `('0x' || substr(md5(seed || id), 1, 8))::BIGINT` bit-identically;
    * keep both renderings in lock-step.
    */
  def hashPrefix(seed: String, id: Column): Column =
    conv(substring(md5(concat(lit(seed), id)), 1, 8), 16, 10).cast("long")

  /** `hashPrefix` scaled to a uniform draw in [0, 1). */
  def hashUnit(seed: String, id: Column): Column =
    hashPrefix(seed, id) / lit(4294967296.0)

  /** 60-bit gram hash: first 15 hex chars of md5 as a long — the ONE
    * widening of a gram string to a join/set key, mirrored by every
    * oracle as `('0x' || substr(md5(g), 1, 15))::BIGINT`. The width is
    * load-bearing (16 hex would overflow BIGINT in the SQL rendering);
    * change it here and in every oracle together or nowhere.
    *
    * Computed by the `Md5Prefix64` kernel, not the
    * `conv(substring(md5(g), 1, 15), 16, 10)` composition it is defined
    * by: the composed form pays a 32-char hex encode + substring +
    * radix-16 parse per gram on top of the digest (~5 µs/gram measured —
    * ~3 s of q37 at sf0.1). KernelFuzzSpec pins kernel ≡ composition.
    */
  def gramHash64(spark: org.apache.spark.sql.SparkSession, g: Column): Column =
    graft.plans.ArrayOps.md5Prefix64(spark, g)

  /** The SECOND 60-bit half of the same digest (hex chars 17-31) — the
    * independent hash the minhash double-hashing family needs; oracle
    * rendering `('0x' || substr(md5(g), 17, 15))::BIGINT`.
    *
    * Both take the session EXPLICITLY (like every ArrayOps kernel
    * wrapper): resolving `SparkSession.active` inside a column builder
    * registers the kernel into whatever session the CALLING THREAD has
    * active, which in a multi-session process may not be the one that
    * analyzes the plan — an unresolvable-function failure at a distance.
    */
  def gramHash64Hi(spark: org.apache.spark.sql.SparkSession, g: Column): Column =
    graft.plans.ArrayOps.md5Prefix64(spark, g, hexStart = 17)

  /** Canonical-form fingerprint: md5 of the lowercased alphanumeric
    * skeleton — a deterministic rolling-hash substitute that two engines
    * compute identically (whitespace/punct/case-insensitive exact dedup key).
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]+", ""))

  /** SHARD STITCHING: directed pairs (a → b) where a's LAST k characters
    * equal b's FIRST k — the content-only signal that two rows are
    * consecutive shards of one original document (a crawler or exporter
    * that split long pages with overlap; re-chunked corpora). Adjacency
    * is reconstructed purely from content: no ordering metadata needed.
    *
    * Scale shape: ONE equi-join on the k-char boundary key — hash
    * partitioned, no quadratic anywhere. A boilerplate boundary shared
    * by many shards (a common footer) makes a hot key whose output IS
    * quadratic in its multiplicity; cap it the q80 way (WindowGroupLimit
    * per key) or pre-filter keys by an approx frequency sketch when a
    * corpus has that shape. Emits the boundary's md5, not the raw text —
    * join-result rows stay fixed-width.
    */
  def stitchPairs(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0, "k must be positive")
    val eligible = df.filter(length(col(textCol)) >= k)
    val tails = eligible.select(col(idCol).as("id_a"),
      substring(col(textCol), -k, k).as("__key"))
    val heads = eligible.select(col(idCol).as("id_b"),
      substring(col(textCol), 1, k).as("__key"))
    tails.join(heads, Seq("__key"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), md5(col("__key")).as("boundary"))
  }

  /** WINNOWED fingerprints (Schleimer/Wilkerson/Aiken, "Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD'03 — public result,
    * re-derived in Spark idiom): hash every word k-gram, slide a w-gram
    * window over the ordered hash sequence, keep each window's MINIMUM.
    * The selected set has ~2/(w+1) the grams' density yet GUARANTEES any
    * shared run of >= w+k-1 tokens between two documents shares at least
    * one fingerprint — the position-robust middle ground between the
    * whole-document `fingerprint` (brittle to any edit) and carrying
    * every gram (q50's contamination set, w·denser). Docs with fewer
    * than w grams emit the global minimum so every doc with >= k tokens
    * has >= 1 fingerprint.
    *
    * Scale shape: posexplode + lead/min windows = ONE exchange on doc_id
    * (both window passes and the gram construction share it), then the
    * per-doc distinct's shuffle dedupes map-side on already-clustered
    * rows. No HOF lambdas (doctrine above): grams ride lead() columns,
    * the window min is a codegen aggregate.
    */
  def winnowedFingerprints(df: org.apache.spark.sql.DataFrame, idCol: String,
                           textCol: String, k: Int = 4,
                           w: Int = 4): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val byPos = Window.partitionBy("id").orderBy("pos")
    val toks = df.select(col(idCol).as("id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val withLeads = (1 until k).foldLeft(toks) { (acc, j) =>
      acc.withColumn(s"__t$j", lead(col("tok"), j).over(byPos))
    }
    val grams = withLeads
      .filter(if (k > 1) col(s"__t${k - 1}").isNotNull else lit(true))
      .select(col("id"), col("pos"),
        gramHash64(df.sparkSession, concat_ws(" ",
          col("tok") +: (1 until k).map(j => col(s"__t$j")): _*)).as("gh"))
    grams
      .withColumn("mn", min(col("gh")).over(byPos.rowsBetween(-(w - 1), 0)))
      // last-gram detection via lead-is-null shares the ONE ordered
      // window exec with the min (a partition-only max(pos) would add a
      // second WindowExec pass over every row)
      .withColumn("last", lead(col("pos"), 1).over(byPos).isNull)
      // full windows only — except a short doc's last row, whose frame
      // covers every gram (= the global min)
      .filter(col("pos") >= w - 1 || col("last"))
      .select(col("id").as(idCol), col("mn").as("fp"))
      .dropDuplicates(idCol, "fp")
  }

  /** CONTENT-DEFINED CHUNKING (the rolling-window idiom of rsync and
    * LBFS — Muthitacharoen et al., SOSP'01; public result): position i
    * ends a chunk when the hash of the `window`-char span ENDING at i
    * satisfies `h ≡ 0 (mod 2^modBits)`, giving expected `2^modBits`-char
    * chunks whose boundaries move WITH the content — an insertion
    * re-chunks only its own neighborhood, where fixed-width blocks shift
    * every later boundary and destroy downstream dedup. Chunk-hash dedup
    * over CDC chunks is the storage-level complement to document
    * near-dedup: it finds byte-identical REGIONS shared across
    * otherwise-distinct documents (boilerplate headers, quoted replies,
    * license blocks).
    *
    * The window hash reuses the repo's md5-prefix family (`hashPrefix`
    * rendering: `('0x' || substr(md5(win), 1, 8))::BIGINT` in the
    * oracle) so boundaries reproduce bit-identically across engines. A
    * production deployment swaps in a true rolling polynomial (Rabin) —
    * same boundary contract, O(1) per position instead of O(window) —
    * and adds min/max chunk-size clamps; neither changes the plan shape.
    *
    * Scale shape: boundary detection and chunk slicing are PER-ROW
    * expression work (HOFs over the position sequence — no explode until
    * chunks exist), then one (source, chunk-hash) aggregate with
    * map-side combine. Nothing is corpus-quadratic and nothing shuffles
    * except the final bounded group-by.
    *
    * Returns one row per `srcCol` group: total chunks, distinct chunk
    * hashes, and the duplication ratio `1 − distinct/total`.
    */
  def cdcChunks(df: org.apache.spark.sql.DataFrame, textCol: String,
                srcCol: String, window: Int = 8,
                modBits: Int = 5): org.apache.spark.sql.DataFrame = {
    require(window >= 2 && modBits >= 1 && modBits <= 20,
      s"need window >= 2 and modBits in [1, 20], got $window/$modBits")
    val t = col(textCol)
    val ln = length(t)
    // boundary detection through the CdcBoundaries codegen kernel — the
    // declarative filter(sequence, md5-lambda) form is interpreted per
    // POSITION (r03 HOF lesson; measured 6.1 s of q105's 6.7 s at sf0.1,
    // ~10× the kernel). Short docs yield an empty array by construction.
    val bs = graft.plans.ArrayOps.cdcBoundaries(
      df.sparkSession, t, window, modBits)
    val starts = concat(array(lit(1)), transform(bs, b => b + 1))
    val ends = concat(bs, array(ln))
    // boundary at the last position ⇒ an empty final chunk: sliced here,
    // dropped by the length filter below
    val chunks = zip_with(starts, ends, (s, e) => t.substr(s, e - s + lit(1)))
    df.select(col(srcCol).as("source"), posexplode(chunks).as(Seq("ord", "chunk")))
      .filter(length(col("chunk")) > 0)
  }

  def cdcChunkStats(df: org.apache.spark.sql.DataFrame, textCol: String,
                    srcCol: String, window: Int = 8,
                    modBits: Int = 5): org.apache.spark.sql.DataFrame =
    cdcChunks(df, textCol, srcCol, window, modBits)
      .groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(md5(col("chunk"))).as("n_distinct"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_chunks"), 4)
          .as("dup_ratio"))

  /** Shared-passage pairs from winnowed fingerprints — MOSS's actual
    * use-case: two documents sharing >= `minShared` selected fingerprints
    * very likely share passages (each shared fp witnesses a common
    * >= k-token run), which catches PARTIAL duplication/containment that
    * whole-document similarity (MinHash Jaccard) dilutes away on long
    * docs. Fingerprints appearing in more than `maxDocFreq` documents are
    * dropped first — MOSS's boilerplate filter, and the scale guard: the
    * fp self-join's per-key blowup is then <= maxDocFreq^2 rows, so no
    * quadratic term survives (same bounded-equi-join shape as q49).
    */
  def fingerprintOverlapPairs(df: org.apache.spark.sql.DataFrame,
                              idCol: String, textCol: String,
                              k: Int = 4, w: Int = 4,
                              maxDocFreq: Int = 10,
                              minShared: Int = 2): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxDocFreq >= 2 && minShared >= 1,
      s"need maxDocFreq >= 2 and minShared >= 1, got $maxDocFreq/$minShared")
    val fps = winnowedFingerprints(df, idCol, textCol, k, w)
    // document frequency rides the fp-keyed layout (window, not a join)
    val rare = fps
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("__df") <= maxDocFreq)
      .select(col(idCol), col("fp"))
    rare.as("a").join(rare.as("b"),
        col("a.fp") === col("b.fp") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Count of tokens in `toks` that appear in `markers` (language stopword
    * scoring) — OCCURRENCE semantics (duplicates counted), fully codegen:
    * `size(toks)` minus the size after chaining one `array_remove` per
    * marker. The obvious `filter(toks, t => t.isin(...))` is a higher-order
    * function → CodegenFallback, re-evaluating its child per element with
    * no subexpression sharing (the r03 q33/q34 regression, 4× per-row
    * cost); `array_intersect` is codegen but DEDUPS, which would change
    * the score semantics. The remove-chain keeps both properties.
    *
    * Takes an already-built token array so one `tokens(lower(text))`
    * subtree is shared (via codegen common-subexpression elimination)
    * across every marker set that scores the same text.
    */
  def markerCount(toks: Column, markers: Seq[String]): Column =
    size(toks) - size(markers.foldLeft(toks)((a, m) => array_remove(a, lit(m))))

  /** Gopher/MassiveText-style rule battery (Rae et al. 2021, public —
    * table A1's repetition-free document filters, re-expressed over this
    * engine's whitespace token rule): per-doc counts plus one 0/1 flag
    * per rule plus the conjunction, ALL integer arithmetic — every
    * threshold is a cross-multiplied rational comparison (3n ≤ chars ≤
    * 10n, not chars/n ∈ [3,10]), so the output is hash-exact across
    * engines with no double in sight.
    *
    * Rules: 50 ≤ words ≤ 100k; mean word length in [3,10]; symbol-to-
    * word ratio ('#' chars + '...' runs) ≤ 0.1; ≤ 90% of lines bullet-
    * led; ≤ 30% of lines ellipsis-ended; ≥ 80% of words contain an
    * alphabetic character; ≥ 2 distinct stop words present.
    *
    * Scale: ONE partial-aggregated exchange keyed by doc_id — the
    * row-level counts (chars, lines, symbols, distinct-stopword
    * presence) are computed before the token explode and ride through
    * `first()`, so the shuffle carries one row per (doc, partition).
    * The per-token alpha test is codegen `rlike`, not a lambda (HOFs
    * are CodegenFallback). Zero-token documents drop with the explode —
    * same contract as the oracle's unnest.
    */
  def gopherStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String,
                  stopwords: Seq[String] = EN_MARKERS): org.apache.spark.sql.DataFrame = {
    // the row-level battery is GUARDED by pos = 0: Catalyst collapses
    // projections through Generate, so an unguarded select would
    // re-evaluate every regex/translate/intersect per exploded TOKEN
    // (measured 5× on q89 — the pruning-blow-up trap, PLANS.md). The
    // when() short-circuits in codegen: heavy expressions run once per
    // document, first(ignoreNulls) lifts the single struct out.
    def rowStats(t: Column) = struct(
      length(translate(t, " ", "")).cast("long").as("sum_chars"),
      ((length(t) - length(translate(t, "#", ""))) +
        (length(t) - length(replace(t, lit("..."), lit("")))) / lit(3))
        .cast("long").as("n_symbols"),
      (length(t) - length(translate(t, "\n", "")) + 1).cast("long").as("n_lines"),
      size(regexp_extract_all(t, lit("(?m)^[ \\t]*[-*\\u2022]"), lit(0)))
        .cast("long").as("n_bullet_lines"),
      size(regexp_extract_all(t, lit("(?m)\\.\\.\\.$"), lit(0)))
        .cast("long").as("n_ellipsis_lines"),
      size(array_intersect(tokens(lower(t)),
        array(stopwords.map(lit): _*))).cast("long").as("n_stop"))
    val exploded = df
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("tok"),
        when(col("pos") === 0, rowStats(col("__t"))).as("rs"))
    val stats = exploded.groupBy("doc_id").agg(
      count(lit(1)).as("n_words"),
      count(when(col("tok").rlike("[A-Za-z]"), 1)).as("n_alpha"),
      first(col("rs"), ignoreNulls = true).as("rs"))
      .select(col("doc_id"), col("n_words"), col("n_alpha"),
        col("rs.sum_chars").as("sum_chars"), col("rs.n_symbols").as("n_symbols"),
        col("rs.n_lines").as("n_lines"),
        col("rs.n_bullet_lines").as("n_bullet_lines"),
        col("rs.n_ellipsis_lines").as("n_ellipsis_lines"),
        col("rs.n_stop").as("n_stop"))
    val flags = Seq(
      "f_word_count" ->
        (col("n_words") >= 50L && col("n_words") <= 100000L),
      "f_mean_word_len" ->
        (lit(3L) * col("n_words") <= col("sum_chars") &&
         col("sum_chars") <= lit(10L) * col("n_words")),
      "f_symbol_ratio" -> (lit(10L) * col("n_symbols") <= col("n_words")),
      "f_bullet_lines" ->
        (lit(10L) * col("n_bullet_lines") <= lit(9L) * col("n_lines")),
      "f_ellipsis_lines" ->
        (lit(10L) * col("n_ellipsis_lines") <= lit(3L) * col("n_lines")),
      "f_alpha_words" -> (lit(5L) * col("n_alpha") >= lit(4L) * col("n_words")),
      "f_stop_words" -> (col("n_stop") >= 2L))
    val withFlags = flags.foldLeft(stats) { case (acc, (name, cond)) =>
      acc.withColumn(name, cond.cast("int"))
    }
    withFlags.withColumn("pass",
      flags.map(f => col(f._1)).reduce(_ * _).cast("int"))
  }

  val EN_MARKERS = Seq("the", "a", "of", "and", "is")
  val DE_MARKERS = Seq("der", "die", "das", "und", "ist")
  val ES_MARKERS = Seq("el", "la", "los", "de", "es")
  val FR_MARKERS = Seq("le", "les", "et", "est", "une")

  /** n-gram-heuristic language ID: marker-token scores with a fixed,
    * deterministic tie-break chain (zh wins on any CJK presence, then
    * en >= de >= es >= fr). Adds `out` to `df`.
    *
    * TWO projections, deliberately: subexpression elimination only hoists
    * expressions evaluated UNCONDITIONALLY, and a single-Column form puts
    * every score inside a CASE WHEN branch *condition* — a conditional
    * context, so nothing is shared and the text is re-split once per score
    * reference (~16×/row; measured 5.4 s vs 0.9 s for the score work
    * itself at sf0.1, r04 probe). Projection 1 computes the four scores +
    * the CJK flag unconditionally inside one struct (CSE binds one token
    * array for all four); projection 2 is the tie-break chain over bound
    * attribute fields (O(1) refs). CollapseProject leaves the split alone
    * because the struct alias is non-cheap and referenced many times.
    *
    * CJK presence is `rlike` (a find), not `length(regexp_replace(...))>0`
    * (which builds the stripped string just to measure it) — same
    * predicate, ~2× cheaper (probe: 0.18 s vs 0.34 s).
    */
  def withLangId(df: org.apache.spark.sql.DataFrame, textCol: String,
                 out: String): org.apache.spark.sql.DataFrame = {
    val toks = tokens(lower(col(textCol)))
    // temp name carries the output column so an input that already has a
    // column by this name can't be silently clobbered-then-dropped; a
    // genuine collision is a caller error worth failing on
    val tmp = s"__lang_s_$out"
    require(!df.columns.contains(tmp), s"column $tmp already exists")
    val s = col(tmp)
    df.withColumn(tmp, struct(
        markerCount(toks, EN_MARKERS).as("en"),
        markerCount(toks, DE_MARKERS).as("de"),
        markerCount(toks, ES_MARKERS).as("es"),
        markerCount(toks, FR_MARKERS).as("fr"),
        col(textCol).rlike("[\\u4e00-\\u9fff]").as("cjk")))
      .withColumn(out,
        when(s.getField("cjk"), "zh")
          .when(s.getField("en") >= s.getField("de") &&
                s.getField("en") >= s.getField("es") &&
                s.getField("en") >= s.getField("fr"), "en")
          .when(s.getField("de") >= s.getField("es") &&
                s.getField("de") >= s.getField("fr"), "de")
          .when(s.getField("es") >= s.getField("fr"), "es")
          .otherwise("fr"))
      .drop(tmp)
  }

  /** Heuristic quality score in [0,1]: length, punctuation density and
    * stopword density (the standard pre-training quality gates, each a
    * deterministic closed form).
    */
  def qualityScore(text: Column): Column = {
    // Lowercasing never changes token COUNT, so the stopword ratio and
    // the length gate can share a single lowercased token array (one
    // split per row via codegen CSE, vs two in r03).
    val toksLower = tokens(lower(text))
    val nTok = size(toksLower).cast("double")
    val punct = (length(text) - length(regexp_replace(text, "[.,;:!?'\"]", ""))).cast("double")
    val punctRatio = punct / greatest(length(text).cast("double"), lit(1.0))
    val stopRatio = markerCount(toksLower, EN_MARKERS).cast("double") / greatest(nTok, lit(1.0))
    // RAW double, deliberately unrounded: every input is per-row
    // deterministic, so the result is bit-identical across engines;
    // rounding would reintroduce same-double midpoint divergence
    least(nTok / 100.0, lit(1.0)) * 0.4 +
      (lit(1.0) - least(punctRatio * 10.0, lit(1.0))) * 0.3 +
      least(stopRatio * 5.0, lit(1.0)) * 0.3
  }

  /** EXACT-substring benchmark decontamination: every (corpus doc,
    * benchmark span) pair where the span occurs verbatim in the doc, with
    * the 1-based position of the first occurrence — the zero-tolerance
    * complement to the gram-overlap check (q50) and the Bloom gate (q98),
    * which both tokenize first and so miss sub-token verbatim leaks.
    *
    * Scale shape: the pattern set compiles ONCE into an Aho–Corasick
    * automaton that rides the serialized plan to executors
    * (plans/StringSearch.scala — the declarative `contains` θ-join would
    * nested-loop-scan every doc once per pattern). The corpus side is one
    * shuffle-free projection pass; benchmark suites are fixed-size by
    * nature, so the driver collect is bounded by the SUITE, not the
    * corpus, and guarded by `maxPatternChars` (the sizedSemiJoin
    * doctrine: measure, fail loudly past the broadcastable regime — the
    * fallback for a pathological suite is sharding the pattern set into
    * automaton-sized slices and unioning the scans).
    *
    * `spans` must have exactly (id, pattern) columns in that order;
    * patterns must be non-empty and, for cross-engine position parity,
    * ASCII (the LevenshteinWithin unit note).
    */
  def exactDecontaminate(corpus: org.apache.spark.sql.DataFrame,
                         idCol: String, textCol: String,
                         spans: org.apache.spark.sql.DataFrame,
                         maxPatternChars: Long = 64L << 20): org.apache.spark.sql.DataFrame = {
    val spark = corpus.sparkSession
    val collected = spans.collect()
    // null or empty spans have no contains semantics worth silently
    // inventing (null matches nothing, "" matches everything) — a
    // decontamination suite containing either is malformed; fail loudly
    collected.zipWithIndex.foreach { case (r, i) =>
      require(!r.isNullAt(1) && r.getString(1).nonEmpty,
        s"span row $i has a null/empty pattern — filter the suite first")
    }
    val totalChars = collected.iterator.map(_.getString(1).length.toLong).sum
    require(totalChars <= maxPatternChars,
      s"pattern set is $totalChars chars, past the $maxPatternChars automaton " +
        "bound — shard the benchmark suite into automaton-sized slices")
    val patterns = collected.map(_.getString(1))
    val ids = collected.map(r => r.get(0) match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
      case other => other.toString.toLong
    })
    val key = java.lang.Long.toHexString(
      patterns.foldLeft(17L)((h, p) => h * 31 + p.hashCode) * 31 + patterns.length)
    val idRows = ids.zipWithIndex.map { case (id, i) => (i, id) }.toSeq
    val idDf = spark.createDataFrame(idRows).toDF("pidx", "bench_id")
    corpus
      .select(col(idCol).as("doc_id"),
        explode(graft.plans.StringSearch.multiPatternFirstMatch(
          spark, col(textCol), patterns, key)).as("m"))
      .select(col("doc_id"),
        shiftright(col("m"), 32).cast("int").as("pidx"),
        (col("m").bitwiseAND(lit(0xffffffffL))).cast("int").as("first_pos"))
      .join(broadcast(idDf), Seq("pidx"))
      .select(col("doc_id"), col("bench_id"), col("first_pos"))
  }

  /** CORPUS MANIFEST — per-(source, lang) release cell: doc/token
    * counts, id range, and an order-independent 60-bit XOR content
    * checksum (the store-checksum idiom over corpus content): any
    * dropped, duplicated or altered document flips its cell, cells
    * verify independently at any scale, and the aggregation state is
    * constant. Shared by the q129 oracle query and [[manifestMerge]]
    * so the cell definition cannot drift between the one-shot and the
    * incremental path.
    */
  def corpusManifest(df: org.apache.spark.sql.DataFrame,
                     textCol: String = "text",
                     groupCols: Seq[String] = Seq("source", "lang"))
      : org.apache.spark.sql.DataFrame =
    df.select(groupCols.map(col) ++ Seq(col("doc_id"),
        tokenCountFast(df.sparkSession, col(textCol)).cast("long").as("nt"),
        conv(substring(md5(concat_ws("|", col("doc_id"), col(textCol))), 1, 15),
          16, 10).cast("long").as("h")): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        expr("bit_xor(h)").as("content_checksum"))

  /** Incremental manifest maintenance: fold an ARRIVING batch's cells
    * into a standing manifest without re-reading the corpus — counts
    * add, id ranges widen, and the XOR checksum merges because XOR is
    * commutative and associative, so
    * `manifestMerge(corpusManifest(A), B) == corpusManifest(A ∪ B)`
    * exactly (TextSpec pins the algebra). This is what a streaming
    * corpus-ingest tick appends alongside the data: the manifest stays
    * current at per-batch cost, the mergeable-sketch doctrine (HLL/
    * count-min) applied to release bookkeeping. Removals work the same
    * way — XOR is self-inverse — as long as counts are subtracted.
    */
  def manifestMerge(standing: org.apache.spark.sql.DataFrame,
                    batch: org.apache.spark.sql.DataFrame,
                    textCol: String = "text",
                    groupCols: Seq[String] = Seq("source", "lang"))
      : org.apache.spark.sql.DataFrame = {
    val b = corpusManifest(batch, textCol, groupCols)
    val metrics = Seq("n_docs", "n_tokens", "min_id", "max_id", "content_checksum")
    standing.select((groupCols ++ metrics).map(col): _*)
      .unionByName(b)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("min_id")).as("min_id"), max(col("max_id")).as("max_id"),
        expr("bit_xor(content_checksum)").as("content_checksum"))
  }

  /** Query params dropped by URL canonicalization: click/campaign
    * trackers that vary per visit without changing the resource. One
    * regex alternation so the filter is a single codegen rlike per
    * param. */
  private val TRACKING_PARAM_RE = "^(utm_[^=]*|gclid|fbclid|ref)="

  /** Decomposed absolute http(s) URL: (scheme, host, path, params) as
    * canonical Columns. Contract: input is an absolute URL with an
    * explicit scheme (the crawl-frontier shape); no userinfo. All
    * built-ins in one map-only pass — no UDF, no shuffle; the only
    * non-codegen node is the param-filter HOF, which runs once per URL
    * at document grain (the gopher rule bars HOFs at TOKEN grain). */
  private def urlParts(url: Column): (Column, Column, Column, Column) = {
    val defrag = split_part(url, lit("#"), lit(1))
    val scheme = lower(split_part(defrag, lit("://"), lit(1)))
    val rest   = split_part(defrag, lit("://"), lit(2))
    val auth   = lower(regexp_extract(rest, "^[^/?]*", 0))
    // authority is case-only-normalized, so its length equals the
    // original's; everything after it is path[?query]
    val pq     = substr(rest, length(auth) + lit(1), length(rest))
    val host = when(scheme === "http" && auth.endsWith(":80"),
        substr(auth, lit(1), length(auth) - lit(3)))
      .when(scheme === "https" && auth.endsWith(":443"),
        substr(auth, lit(1), length(auth) - lit(4)))
      .otherwise(auth)
    val rawPath = regexp_replace(split_part(pq, lit("?"), lit(1)), "/+$", "")
    val path = when(rawPath === "", lit("/")).otherwise(rawPath)
    val params = array_join(
      array_sort(filter(split(split_part(pq, lit("?"), lit(2)), "&"),
        p => p =!= "" && !p.rlike(TRACKING_PARAM_RE))), "&")
    (scheme, host, path, params)
  }

  private def assembleUrl(scheme: Column, host: Column, path: Column,
                          params: Column): Column =
    concat(scheme, lit("://"), host, path,
      when(params === "", lit("")).otherwise(concat(lit("?"), params)))

  /** URL canonicalization (VERDICT r17 #7 — the crawl frontier's stage
    * 0): lowercase scheme+host, strip the fragment and the scheme's
    * default port (:80 http / :443 https), drop trailing path slashes
    * (root stays "/"), remove tracking params ([[TRACKING_PARAM_RE]])
    * and SORT the survivors so param order never splits a URL into two
    * frontier entries. Reference behavior class: the dischargeobs
    * staged downloads key on exact station URLs (reference
    * WSC_hourly.py builds them by string concat) — canonicalization is
    * what makes that key stable when the same resource arrives spelled
    * differently, and what a crawl pipeline runs before any fetch. */
  def canonicalizeUrl(url: Column): Column = {
    val (scheme, host, path, params) = urlParts(url)
    assembleUrl(scheme, host, path, params)
  }

  /** Canonical host of an absolute URL — [[urlParts]]' authority
    * component (lowercased, default port stripped). The crawl
    * scheduler's grouping axis: per-host budgets, politeness pools
    * (the data-side counterpart of `ingest/Fetch`'s bounded per-host
    * fetch pool), host-level mixture stats. */
  def urlHost(url: Column): Column = urlParts(url)._2

  /** Fuzzy-URL dedup key: [[canonicalizeUrl]] with the scheme forced to
    * https and a leading "www." stripped — http://www.x.com/a and
    * https://x.com/a are one page for dedup purposes even though their
    * canonical URLs differ. The KEY is fuzzy; the canonical URL kept
    * alongside it stays faithful. */
  def fuzzyUrlKey(url: Column): Column = {
    val (_, host, path, params) = urlParts(url)
    assembleUrl(lit("https"), regexp_replace(host, "^www\\.", ""), path, params)
  }

  /** Fuzzy-URL dedup: group by [[fuzzyUrlKey]], keep the smallest id
    * (NearDup.exactDedup's contract applied to URLs instead of
    * content). `canon_url` is the group's lexicographically-least
    * CANONICAL url — the stable spelling a frontier would fetch. One
    * skew-free map-side-combined shuffle on the key; at 100 TB the key
    * cardinality is the unique-page count, and no per-group state
    * exceeds a few strings. */
  def urlDedup(df: org.apache.spark.sql.DataFrame, idCol: String,
               urlCol: String): org.apache.spark.sql.DataFrame =
    df.groupBy(fuzzyUrlKey(col(urlCol)).as("canon_key"))
      .agg(min(col(idCol)).as("keeper_id"),
        min(canonicalizeUrl(col(urlCol))).as("canon_url"),
        count(lit(1)).as("n_copies"))

  /** Deterministic crawl-frontier URL fixture over doc_id — the
    * Html.fixtureSql precedent: ONE SQL fragment valid in both Spark
    * SQL and DuckDB (||, cast as string, floor + / division, CASE), so
    * the two engines synthesize bit-identical inputs. Five spellings
    * per 5-doc group; variants 0–3 collide on the fuzzy key (host
    * case, :80/:443 default ports + http scheme, utm/gclid/fbclid
    * trackers, www prefix, param order, trailing slash, fragment)
    * while variant 4 is a root-path resource of its own (exercises the
    * empty-path → "/" rule). */
  def urlFixtureSql: String = {
    val g = "cast(cast(floor(doc_id / 5) as bigint) as string)"
    s"""CASE
        WHEN doc_id % 5 = 0 THEN 'https://SiTe' || $g || '.Example.COM/a/b?id=' || $g || '&z=2'
        WHEN doc_id % 5 = 1 THEN 'http://site' || $g || '.example.com:80/a/b/?z=2&id=' || $g
        WHEN doc_id % 5 = 2 THEN 'HTTPS://site' || $g || '.example.com:443/a/b?z=2&utm_source=news&id=' || $g || '&utm_campaign=x#frag'
        WHEN doc_id % 5 = 3 THEN 'https://www.site' || $g || '.example.com/a/b?gclid=Z123&id=' || $g || '&z=2&fbclid=F1'
        ELSE 'https://site' || $g || '.example.com?id=' || $g || '&z=2'
        END"""
  }
}
