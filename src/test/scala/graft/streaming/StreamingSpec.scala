package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.storage.ObsStore

/** T1-T4 streaming semantics: AvailableNow drain, foreachBatch
  * merge-upsert precedence across ticks, source-side file tracking.
  */
class StreamingSpec extends SparkSpec {

  test("streaming dedup drops re-delivered observations across batches") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("sdedup").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    // same (station, ts, param) delivered twice within one drain
    Files.writeString(Paths.get(s"$base/in/a.csv"),
      "station,ts,param,value\ns1,2023-01-05 00:00:00,Q,1.0\n")
    Files.writeString(Paths.get(s"$base/in/b.csv"),
      "station,ts,param,value\ns1,2023-01-05 00:00:00,Q,1.0\n" +
      "s1,2023-01-05 00:05:00,Q,2.0\n")
    val out = s"$base/out"
    val q = StreamingIngest.dedupStream(
        StreamingIngest.readObsStream(spark, s"$base/in"))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt")
      .format("parquet").option("path", out)
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() === 2) // dup dropped
  }

  test("corpus ticks: in-batch exact dedup, incremental near-dedup vs corpus, only new appended") {
    import spark.implicits._
    val base = Files.createTempDirectory("corpus").toString
    val staging = s"$base/staging"
    Files.createDirectories(Paths.get(staging))
    val corpus = s"$base/corpus"

    // tick 1 into an empty corpus: doc 3 is an exact in-batch copy of doc 1
    Files.writeString(Paths.get(s"$staging/b1.csv"),
      "doc_id,text\n" +
      "1,the quick brown fox jumps over the lazy dog again and again\n" +
      "2,unrelated corpus prose about catalyst tungsten codegen shuffles\n" +
      "3,the quick brown fox jumps over the lazy dog again and again\n")
    StreamingIngest.corpusIngestTick(spark, staging, corpus, s"$base/ckpt",
      minJaccard = 0.3)
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet === Set(1L, 2L))

    // tick 2: doc 4 exact-dups doc 1, doc 5 near-dups doc 1, doc 6 is
    // new, docs 7/8 near-dup EACH OTHER (but nothing in the corpus) —
    // only the keeper 7 may enter; b1.csv is NOT re-drained
    Files.writeString(Paths.get(s"$staging/b2.csv"),
      "doc_id,text\n" +
      "4,the quick brown fox jumps over the lazy dog again and again\n" +
      "5,the quick brown fox jumps over the lazy dog again and again today\n" +
      "6,completely novel third document that matches nothing else here\n" +
      "7,a fresh pair of near duplicate documents landing in one tick\n" +
      "8,a fresh pair of near duplicate documents landing in one tick now\n")
    StreamingIngest.corpusIngestTick(spark, staging, corpus, s"$base/ckpt",
      minJaccard = 0.3)
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet === Set(1L, 2L, 6L, 7L))

    // the incrementally-folded manifest equals the one-shot manifest of
    // the corpus on disk, bit-exact (TextOps.manifestMerge algebra) —
    // two ticks of per-batch folds, never a corpus re-read
    val folded = spark.read.parquet(s"$corpus/_manifest")
      .select("n_docs", "n_tokens", "min_id", "max_id", "content_checksum")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val oneShot = graft.text.TextOps
      .corpusManifest(spark.read.parquet(corpus), groupCols = Seq.empty)
      .select("n_docs", "n_tokens", "min_id", "max_id", "content_checksum")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(folded === oneShot && folded.head._1 === 4L)
  }

  test("corpus tick crash replay: a batch appended but never folded heals " +
      "the manifest") {
    import spark.implicits._
    val base = Files.createTempDirectory("corpusreplay").toString
    val staging = s"$base/staging"
    Files.createDirectories(Paths.get(staging))
    val corpus = s"$base/corpus"
    Files.writeString(Paths.get(s"$staging/b1.csv"),
      "doc_id,text\n" +
      "1,the quick brown fox jumps over the lazy dog again and again\n" +
      "2,unrelated corpus prose about catalyst tungsten codegen shuffles\n")
    StreamingIngest.corpusIngestTick(spark, staging, corpus, s"$base/ckpt",
      minJaccard = 0.3)
    // the crash window: the next tick appended docs 3 and 4 to the corpus
    // and died before the manifest overwrite and the checkpoint commit,
    // so the replay re-delivers them together with a fresh doc 5
    Seq((3L, "completely novel third document that matches nothing else here"),
        (4L, "a fourth distinct text about parquet footers and file listings"))
      .toDF("doc_id", "text").write.mode("append").parquet(corpus)
    Files.writeString(Paths.get(s"$staging/b2.csv"),
      "doc_id,text\n" +
      "3,completely novel third document that matches nothing else here\n" +
      "4,a fourth distinct text about parquet footers and file listings\n" +
      "5,one more genuinely new arrival describing broadcast hash joins\n")
    StreamingIngest.corpusIngestTick(spark, staging, corpus, s"$base/ckpt",
      minJaccard = 0.3)
    val ids = spark.read.parquet(corpus).select("doc_id").as[Long].collect()
    assert(ids.sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L), s"got ${ids.toSeq}")
    val cols = Seq("n_docs", "n_tokens", "min_id", "max_id", "content_checksum")
    val manifest = spark.read.parquet(s"$corpus/_manifest")
      .select(cols.map(col): _*).as[(Long, Long, Long, Long, Long)].collect().toSeq
    val oneShot = graft.text.TextOps
      .corpusManifest(spark.read.parquet(corpus), groupCols = Seq.empty)
      .select(cols.map(col): _*).as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(manifest === oneShot && manifest.head._1 === 5L,
      s"manifest $manifest != corpus manifest $oneShot")
  }

  test("embedding ticks: in-batch keepers, corpus-index dedup, only new appended, " +
      "no reprocess, batch parity, corpus never repartitioned") {
    import spark.implicits._
    val base = Files.createTempDirectory("embcorpus").toString
    val staging = s"$base/staging"
    Files.createDirectories(Paths.get(staging))
    val corpus = s"$base/corpus"
    val rnd = new scala.util.Random(7)
    def unit(seed: Int): Array[Double] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def near(v: Array[Double], seed: Int): Array[Double] = {
      val r = new scala.util.Random(seed)
      val w = v.map(_ + r.nextGaussian() * 0.001)
      val n = math.sqrt(w.map(x => x * x).sum)
      w.map(_ / n)
    }
    val (e1, e2, e3, e4) = (unit(1), unit(2), unit(3), unit(4))
    // tick 1: 2 near-dups e1 (keeper 1) + one new e2
    Seq((1L, e1.toSeq), (2L, near(e1, 12).toSeq), (3L, e2.toSeq))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.embeddingIngestTick(spark, staging, corpus, s"$base/ckpt")
    assert(spark.read.parquet(corpus).select("vec_id")
      .as[Long].collect().toSet === Set(1L, 3L))
    // tick 2: 4 dups corpus e1 (dropped via the PERSISTED index), 5 new,
    // 6/7 near-dup each other in-batch (keeper 6); b1 not re-drained
    Seq((4L, near(e1, 13).toSeq), (5L, e3.toSeq),
        (6L, e4.toSeq), (7L, near(e4, 14).toSeq))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.embeddingIngestTick(spark, staging, corpus, s"$base/ckpt")
    val got = spark.read.parquet(corpus).select("vec_id")
      .as[Long].collect().toSet
    assert(got === Set(1L, 3L, 5L, 6L))
    // band index stayed current: one row per (vector, band)
    assert(spark.read.parquet(s"$corpus/_bands").count() === 4L * 4L)
    // batch parity: the streamed corpus equals the one-shot dedup
    // keepers of everything staged (fixtures arrival-order-neutral:
    // keepers are also first arrivals)
    val all = Seq((1L, e1.toSeq), (2L, near(e1, 12).toSeq), (3L, e2.toSeq),
      (4L, near(e1, 13).toSeq), (5L, e3.toSeq), (6L, e4.toSeq),
      (7L, near(e4, 14).toSeq)).toDF("vec_id", "embedding")
    val oneShot = graft.text.NearDup.dedupClusters(
      graft.sim.Similarity.lshNeighborPairs(all, "vec_id", "embedding",
        dims = 64, bands = 4, rowsPerBand = 5, minCosine = 0.9),
      "id_a", "id_b")
      .filter(col("doc_id") =!= col("keeper_id"))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(got === (1L to 7L).toSet -- oneShot, "streamed != one-shot keepers")
    // plan shape: the corpus-vs-batch flags run the corpus through
    // broadcast joins only — the single shuffle is the partial-aggregated
    // max-cosine fold, never a corpus repartition
    val flags = graft.sim.Similarity.embeddingCorpusFlags(
      spark.read.parquet(corpus), spark.read.parquet(s"$corpus/_bands"),
      Seq((9L, near(e1, 15).toSeq)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dims = 64, bands = 4, rowsPerBand = 5)
    assert(flags.collect().map(_.getLong(0)).toSet === Set(9L))
    // AQE's toString carries Final AND Initial plan sections — count
    // exchanges in the FINAL (executed) one only
    val plan = flags.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 1, s"corpus flags plan has $shuffles hash exchanges:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"corpus side must stream through broadcast joins:\n$plan")
  }

  test("embedding tick crash replay: no duplicate vectors, missing band rows healed, " +
      "full replay a no-op (ADVICE r12)") {
    import spark.implicits._
    val base = Files.createTempDirectory("embreplay").toString
    val staging = s"$base/staging"
    Files.createDirectories(Paths.get(staging))
    val corpus = s"$base/corpus"
    def unit(seed: Int): Array[Double] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    // tick 1: establish a corpus of two distinct vectors
    Seq((1L, unit(1).toSeq), (2L, unit(2).toSeq))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.embeddingIngestTick(spark, staging, corpus, s"$base/ckptA")
    assert(spark.read.parquet(s"$corpus/_bands").count() === 2L * 4L)
    // simulate the crash window: a tick appended vector 10 to the corpus
    // and DIED before the band append (and before the checkpoint commit)
    Seq((10L, unit(5).toSeq)).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(corpus)
    // the replayed batch re-delivers 10 plus a genuinely new 11; a fresh
    // checkpoint re-drains everything staged — the worst-case replay
    Seq((10L, unit(5).toSeq), (11L, unit(6).toSeq))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.embeddingIngestTick(spark, staging, corpus, s"$base/ckptB")
    val ids = spark.read.parquet(corpus).select("vec_id").as[Long].collect()
    assert(ids.sorted.toSeq === Seq(1L, 2L, 10L, 11L), s"got ${ids.toSeq}")
    assert(ids.length === ids.distinct.length, "replay duplicated corpus vectors")
    // the crash-window vector's band rows were healed, 11's were added
    val bands = spark.read.parquet(s"$corpus/_bands")
    assert(bands.count() === 4L * 4L)
    assert(bands.select("vec_id").as[Long].collect().toSet ===
      Set(1L, 2L, 10L, 11L))
    // a SECOND full replay (everything already ingested + banded):
    // every vector self-flags through the index — both appends no-op
    StreamingIngest.embeddingIngestTick(spark, staging, corpus, s"$base/ckptC")
    assert(spark.read.parquet(corpus).count() === 4L)
    assert(spark.read.parquet(s"$corpus/_bands").count() === 16L)
  }

  test("fingerprint ticks: in-batch keepers, persisted-index dedup, only new appended, " +
      "no reprocess, batch parity, full replay a no-op (VERDICT r12 #6)") {
    import spark.implicits._
    val base = Files.createTempDirectory("fpcorpus").toString
    val staging = s"$base/staging"
    Files.createDirectories(Paths.get(staging))
    val corpus = s"$base/corpus"
    // hand fingerprints: 2 is 1 bit off 1 (in-batch dup), 4 is 2 bits
    // off 1 (corpus dup via the persisted index), 7 is 1 bit off 6
    // (in-batch pair in tick 2); 3/5 are far from everything
    val f1 = 0L
    val f2 = 1L
    val f3 = 0x0F0F0F0F0F0F0F0FL
    val f4 = (1L << 10) | (1L << 40)
    val f5 = 0x123456789ABCDEFL
    val f6 = 0x00FF000000FF00FFL
    val f7 = f6 ^ (1L << 5)
    Seq((1L, f1), (2L, f2), (3L, f3)).toDF("doc_id", "fp")
      .coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.fingerprintIngestTick(spark, staging, corpus, s"$base/ckpt")
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet === Set(1L, 3L))
    Seq((4L, f4), (5L, f5), (6L, f6), (7L, f7)).toDF("doc_id", "fp")
      .coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.fingerprintIngestTick(spark, staging, corpus, s"$base/ckpt")
    val got = spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet
    assert(got === Set(1L, 3L, 5L, 6L))
    assert(spark.read.parquet(s"$corpus/_fpbands").count() === 4L * 8L)
    // batch parity: streamed corpus == one-shot keepers of all staged
    val all = Seq((1L, f1), (2L, f2), (3L, f3), (4L, f4), (5L, f5),
      (6L, f6), (7L, f7)).toDF("doc_id", "fp")
    val oneShot = graft.text.NearDup.dedupClusters(
      graft.text.NearDup.hammingPairs(all, "doc_id", "fp",
        bits = 64, bands = 8, maxHamming = 2),
      "id_a", "id_b")
      .filter(col("doc_id") =!= col("keeper_id"))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(got === (1L to 7L).toSet -- oneShot, "streamed != one-shot keepers")
    // full replay (fresh checkpoint, same staged files): every doc
    // self-flags at hamming 0 through the index — a complete no-op
    StreamingIngest.fingerprintIngestTick(spark, staging, corpus, s"$base/ckpt2")
    assert(spark.read.parquet(corpus).count() === 4L)
    assert(spark.read.parquet(s"$corpus/_fpbands").count() === 32L)
    // plan shape: the corpus index streams through ONE broadcast join;
    // the only shuffle is the per-new-id min fold
    val flags = graft.text.NearDup.hammingCorpusFlags(
      spark.read.parquet(s"$corpus/_fpbands"),
      Seq((9L, f1 ^ (1L << 3))).toDF("doc_id", "fp"), "doc_id", "fp", 64, 8)
    val rows = flags.collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((9L, 1L)))
    val plan = flags.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"hamming flags plan repartitions the corpus:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"corpus index must stream through a broadcast join:\n$plan")
  }

  test("fingerprint tick staleness guard: corpus crossing a band-count step " +
      "re-bands the index before serving (VERDICT r13 #1)") {
    import spark.implicits._
    val base = Files.createTempDirectory("fpstale").toString
    val staging = s"$base/staging"
    Files.createDirectories(Paths.get(staging))
    val corpus = s"$base/corpus"
    // deterministic well-spread hashes (splitmix64 finalizer): among
    // 600 random 64-bit points the chance of an accidental <=2-flip
    // pair is ~(600^2/2)·2081/2^64 ≈ 0 — every doc enters the corpus
    def mix(i: Long): Long = {
      var z = i + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def meta() = graft.sim.IndexMeta.read(spark, s"$corpus/_fpbands_meta",
      Seq("bits", "max_hamming", "bands", "built_n")).get
    // tick 1: 3 fps — first build lands at the floor (3>>8=0 <= 1)
    Seq((1L, mix(1)), (2L, mix(2)), (3L, mix(3))).toDF("doc_id", "fp")
      .coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.fingerprintIngestTick(spark, staging, corpus,
      s"$base/ckpt", targetOccupancy = 1L)
    assert(meta() === Map("bits" -> 64L, "max_hamming" -> 2L,
      "bands" -> 8L, "built_n" -> 3L))
    // tick 2: 600 fresh fps — guard runs at corpus=3 (not stale), so
    // the tick serves AND appends at 8 bands
    (10L until 610L).map(i => (i, mix(i))).toDF("doc_id", "fp")
      .coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.fingerprintIngestTick(spark, staging, corpus,
      s"$base/ckpt", targetOccupancy = 1L)
    assert(spark.read.parquet(corpus).count() === 603L)
    assert(spark.read.parquet(s"$corpus/_fpbands").count() === 603L * 8L)
    assert(meta()("bands") === 8L)
    // tick 3: the corpus (603 >> 8 = 2 > 1) has crossed the band-count
    // step — the guard must re-band the WHOLE index to 4 BEFORE
    // serving, flag the planted near-dup of a tick-2 fp through the
    // rebuilt index, and append the fresh fp's band rows at the NEW
    // count
    Seq((9000L, mix(42L) ^ (1L << 7) ^ (1L << 55)), (9001L, mix(9001L)))
      .toDF("doc_id", "fp")
      .coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.fingerprintIngestTick(spark, staging, corpus,
      s"$base/ckpt", targetOccupancy = 1L)
    val ids = spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet
    assert(ids.contains(9001L) && !ids.contains(9000L),
      s"near-dup must flag through the REBUILT index; fresh must enter: $ids")
    assert(meta() === Map("bits" -> 64L, "max_hamming" -> 2L,
      "bands" -> 4L, "built_n" -> 603L))
    assert(spark.read.parquet(s"$corpus/_fpbands").count() === 604L * 4L,
      "rebuilt index (603 fps) + the fresh append, all at 4 bands")
    // a fourth tick over the same corpus must NOT rebuild again (the
    // dial already matches), and a mismatched semantics contract must
    // refuse loudly
    Seq((9002L, mix(9002L))).toDF("doc_id", "fp")
      .coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.fingerprintIngestTick(spark, staging, corpus,
      s"$base/ckpt", targetOccupancy = 1L)
    assert(meta()("built_n") === 603L,
      "an un-stale tick must not rewrite the meta row")
    assert(spark.read.parquet(s"$corpus/_fpbands").count() === 605L * 4L)
    val boom = intercept[Exception] {
      graft.text.NearDup.ensureFpBandIndexFresh(
        spark.read.parquet(corpus), "doc_id", "fp", bits = 64,
        s"$corpus/_fpbands", s"$corpus/_fpbands_meta",
        floorBands = 8, maxHamming = 1, targetOccupancy = 1L)
    }
    assert(boom.getMessage.contains("max_hamming"),
      s"contract mismatch must name the invariant: ${boom.getMessage}")
  }

  test("embedding tick staleness guard: outgrown corpus rebuilds the band index " +
      "at the adaptive width (VERDICT r12 #3)") {
    import spark.implicits._
    val base = Files.createTempDirectory("embstale").toString
    val staging = s"$base/staging"
    Files.createDirectories(Paths.get(staging))
    val corpus = s"$base/corpus"
    def unit(seed: Int): Array[Double] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def near(v: Array[Double], seed: Int): Array[Double] = {
      val r = new scala.util.Random(seed)
      val w = v.map(_ + r.nextGaussian() * 0.001)
      val n = math.sqrt(w.map(x => x * x).sum)
      w.map(_ / n)
    }
    // tick 1: 40 distinct vectors enter at the floor width 2 — the
    // index freezes that width and records it in the meta row
    (1 to 40).map(i => (i.toLong, unit(i).toSeq))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.embeddingIngestTick(spark, staging, corpus, s"$base/ckpt",
      rowsPerBand = 2, targetOccupancy = 1L)
    assert(graft.sim.Similarity.readBandIndexMeta(spark, s"$corpus/_bands_meta")
      === Some((4, 2, 40L)))
    assert(spark.read.parquet(s"$corpus/_bands").count() === 40L * 4L)
    // tick 2: at targetOccupancy 1 the 40-vector corpus needs width 5
    // (adaptiveRowsPerBand(40, 2, 1)) — the guard must rebuild BEFORE
    // serving, then flag the planted dup through the rebuilt index and
    // append the two new vectors' band rows at the NEW width
    Seq((100L, unit(100).toSeq), (101L, unit(101).toSeq),
        (102L, near(unit(7), 200).toSeq))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.embeddingIngestTick(spark, staging, corpus, s"$base/ckpt",
      rowsPerBand = 2, targetOccupancy = 1L)
    val ids = spark.read.parquet(corpus).select("vec_id").as[Long].collect().toSet
    assert(ids === ((1L to 40L).toSet ++ Set(100L, 101L)),
      s"dup of vec 7 must be flagged through the REBUILT index; got $ids")
    val meta = graft.sim.Similarity.readBandIndexMeta(spark, s"$corpus/_bands_meta")
    assert(meta.map(_._1) === Some(4) && meta.map(_._2) === Some(5),
      s"meta must record the rebuilt width 5: $meta")
    assert(spark.read.parquet(s"$corpus/_bands").count() === 42L * 4L,
      "rebuilt index (40 vectors) + the two fresh appends, all at one width")
    // a third tick over the SAME corpus must not rebuild again: the
    // meta width now satisfies the occupancy rule (42 >> 5 = 1 <= 1)
    Seq((103L, unit(103).toSeq)).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.embeddingIngestTick(spark, staging, corpus, s"$base/ckpt",
      rowsPerBand = 2, targetOccupancy = 1L)
    assert(graft.sim.Similarity.readBandIndexMeta(spark, s"$corpus/_bands_meta")
      .map(_._2) === Some(5))
    assert(spark.read.parquet(s"$corpus/_bands").count() === 43L * 4L)
  }

  test("IVF-PQ ingest ticks: tick-grown index equals the one-shot build over " +
      "the union, replay a no-op, held-out recall row measured (VERDICT r13 #6)") {
    import spark.implicits._
    val base = Files.createTempDirectory("ivfpqtick").toString
    val sfDir = s"$base/sf"
    val out = s"$base/art"
    val staging = s"$base/staging"
    Files.createDirectories(Paths.get(staging))
    def unit(seed: Int): Seq[Double] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    (0L until 40L).map(i => (i, unit(i.toInt)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$sfDir/embeddings.parquet")
    graft.tools.IvfPqBuild.build(spark, sfDir, out,
      m = 4, ksub = 8, centroids = 16, buckets = 4, heldoutMod = 10)
    // the frozen eval set rode the build
    assert(spark.read.parquet(s"$out/heldout/queries").count() === 4L)
    assert(spark.read.parquet(s"$out/heldout/truth")
      .groupBy("query_id").count().collect().forall(_.getLong(1) === 10L))
    // the build-time recall baseline rode the artifact (the tick's
    // calibrated staleness floor reads it)
    val r0 = spark.read.parquet(s"$out/heldout/recall0").head()
    assert(r0.getAs[Int]("nprobe") === 2 && r0.getAs[Int]("k") === 3)
    assert(r0.getAs[Long]("recall_micro") >= 0L)
    // tick 1: ten new vectors; tick 2: ten more plus a re-delivery of
    // an ALREADY-INDEXED id (the crash-replay guard must drop it)
    (100L until 110L).map(i => (i, unit(i.toInt)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(staging)
    graft.tools.IvfPqBuild.ingestTick(spark, out, staging, s"$base/ckpt",
      recallFloorMicro = 1L, recallDropFactorMicro = 0L)
    ((110L until 120L).map(i => (i, unit(i.toInt))) :+ ((105L, unit(105))))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(staging)
    graft.tools.IvfPqBuild.ingestTick(spark, out, staging, s"$base/ckpt",
      recallFloorMicro = 1L, recallDropFactorMicro = 0L)
    // two-tick parity: the grown table IS the one-shot encode of the
    // union (formula codebooks round-trip bit-exactly)
    val grown = graft.tools.IvfPqBuild.openIndex(spark, out)
    val union = (0L until 40L) ++ (100L until 120L)
    val oneShot = graft.sim.Similarity.ivfPqIndex(
      union.map(i => (i, unit(i.toInt))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dims = 64, m = 4, ksub = 8, centroids = 16)
    assert(grown.exceptAll(oneShot).isEmpty && oneShot.exceptAll(grown).isEmpty,
      "tick-grown index must equal the one-shot build over the union")
    // the staleness meta row was measured on the grown corpus, and the
    // vector census was MAINTAINED (build wrote 40, ticks added 10+10
    // — never a per-tick corpus distinct)
    assert(graft.sim.IndexMeta.read(spark, s"$out/_meta", Seq("n_vectors"))
      === Some(Map("n_vectors" -> 60L)))
    val row = spark.read.parquet(s"$out/_heldout_recall").head()
    assert(row.getAs[Long]("n_vectors") === 60L)
    assert(row.getAs[Long]("recall_micro") > 0L)
    assert(!row.getAs[Boolean]("stale"))
    // full replay (fresh checkpoint, same staged files): the membership
    // guard self-flags every vector — zero appended code rows
    graft.tools.IvfPqBuild.ingestTick(spark, out, staging, s"$base/ckpt2",
      recallFloorMicro = 1L, recallDropFactorMicro = 0L)
    assert(graft.tools.IvfPqBuild.openIndex(spark, out).count() === 60L * 4L,
      "a replayed tick must not duplicate code rows")
    // the recall floor BINDS: an impossible floor marks the row stale
    ((200L, unit(200)) :: Nil).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(staging)
    graft.tools.IvfPqBuild.ingestTick(spark, out, staging, s"$base/ckpt2",
      recallFloorMicro = 1000001L, recallDropFactorMicro = 0L)
    val row2 = spark.read.parquet(s"$out/_heldout_recall").head()
    assert(row2.getAs[Boolean]("stale"), "floor above 1.0 must flag stale")
    assert(row2.getAs[Long]("n_vectors") === 61L)
  }

  test("IVF-PQ retrain: stale artifact → executable retrain → residual " +
      "encoding served end to end, staleness re-baselined (VERDICT r14 #2)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("ivfpqretrain").toString
    val sfDir = s"$base/sf"
    val out = s"$base/art"
    val staging = s"$base/staging"
    Files.createDirectories(Paths.get(staging))
    def unit(seed: Int): Seq[Double] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    // the fixture carries the REAL table's shape — a float embedding
    // plus an extra column (r16, found by the ×100 codebook sweep): an
    // unprojected train_sample persisted these verbatim and retrain's
    // unionByName with the 2-col double fresh sample failed; the
    // projection fix is pinned by this build → retrain round-trip
    (0L until 40L).map(i => (i, unit(i.toInt).map(_.toFloat), i % 3))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$sfDir/embeddings.parquet")
    graft.tools.IvfPqBuild.build(spark, sfDir, out,
      m = 4, ksub = 8, centroids = 16, buckets = 4, heldoutMod = 10)
    // the bounded md5-rank training sample rode the artifact (the piece
    // that makes retrain executable later; 40 < cap, so all rows),
    // projected to the retrain contract
    assert(spark.read.parquet(s"$out/train_sample").count() === 40L)
    assert(spark.read.parquet(s"$out/train_sample").columns.toSeq
      === Seq("vec_id", "embedding"),
      "train_sample must persist the retrain contract, not the source schema")
    assert(graft.tools.IvfPqBuild.loadParams(spark, out).encoding === "raw")
    // grow the corpus, then force the staleness flag (impossible floor)
    (100L until 120L).map(i => (i, unit(i.toInt)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(staging)
    graft.tools.IvfPqBuild.ingestTick(spark, out, staging, s"$base/ckpt",
      recallFloorMicro = 1000001L, recallDropFactorMicro = 0L)
    assert(spark.read.parquet(s"$out/_heldout_recall").head()
      .getAs[Boolean]("stale"), "the drill floor must flag stale")
    // RETRAIN from the current raws (original corpus + staged batches —
    // the deployment's source-of-truth table; the staged-raws contract)
    val rawsDir = s"$base/raws"
    ((0L until 40L) ++ (100L until 120L)).map(i => (i, unit(i.toInt)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(rawsDir)
    val n = graft.tools.IvfPqBuild.retrain(spark, rawsDir, out, iters = 2)
    assert(n === 60L * 4L, "retrain re-encodes every raw vector")
    val p = graft.tools.IvfPqBuild.loadParams(spark, out)
    assert(p.encoding === "residual",
      "a retrained artifact carries the residual (published-IVFADC) encoding")
    assert(graft.sim.IndexMeta.read(spark, s"$out/_meta", Seq("n_vectors"))
      === Some(Map("n_vectors" -> 60L)), "census reset to the retrained corpus")
    // the retrained artifact SERVES through the residual path, and what
    // it serves is exactly the one-shot residual composition over the
    // PERSISTED codebooks — encode + probe pinned end to end through
    // what was written to disk
    val raws = spark.read.parquet(rawsDir)
    val cents = graft.sim.Similarity.loadCentroids(
      spark, s"$out/centroids.parquet")
    val pqCb = graft.tools.IvfPqBuild.loadPqCodebook(spark, out)
    val qp = col("vec_id") % 10 === 0
    val served = graft.tools.IvfPqBuild.probe(spark, out, raws.filter(qp),
      "vec_id", "embedding", nprobe = 2, k = 3)
    val oneShot = graft.sim.Similarity.ivfPqResidualTopK(raws, "vec_id",
      "embedding", dims = 64, m = 4, ksub = 8, cents,
      (s, c) => pqCb((s, c)), nprobe = 2, k = 3, queryPred = qp)
    assert(served.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(served).isEmpty,
      "retrained-artifact probe must equal the one-shot residual IVFADC")
    // post-retrain ticks dispatch residually and measure against the
    // RE-FROZEN baseline: a small growth tick at the calibrated floor
    // is not stale (recall was re-baselined by the retrain)
    (200L until 205L).map(i => (i, unit(i.toInt)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(staging)
    graft.tools.IvfPqBuild.ingestTick(spark, out, staging, s"$base/ckpt2",
      recallFloorMicro = 0L, recallDropFactorMicro = 800000L)
    val row = spark.read.parquet(s"$out/_heldout_recall").head()
    assert(row.getAs[Long]("n_vectors") === 65L,
      "fresh-checkpoint replay drops already-indexed ids, appends the 5 new")
    assert(!row.getAs[Boolean]("stale"),
      "a 5-vector growth tick must not trip the re-frozen calibrated floor")
  }

  test("index compaction: bucketed rewrite is probe-bit-identical and the " +
      "band-dir arm preserves rows (VERDICT r14 #3)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("ivfpqcompact").toString
    val sfDir = s"$base/sf"
    val out = s"$base/art"
    val staging = s"$base/staging"
    Files.createDirectories(Paths.get(staging))
    def unit(seed: Int): Seq[Double] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    (0L until 40L).map(i => (i, unit(i.toInt)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$sfDir/embeddings.parquet")
    graft.tools.IvfPqBuild.build(spark, sfDir, out,
      m = 4, ksub = 8, centroids = 16, buckets = 4, heldoutMod = 0)
    // three tick appends fragment the table past 1 file/bucket
    for (w <- 0 until 3) {
      (100L + 10 * w until 110L + 10 * w).map(i => (i, unit(i.toInt)))
        .toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(staging)
      graft.tools.IvfPqBuild.ingestTick(spark, out, staging, s"$base/ckpt",
        recallFloorMicro = 0L, recallDropFactorMicro = 0L)
    }
    val filesBefore = graft.storage.ParquetCompact.dataFiles(spark, s"$out/index")
    assert(filesBefore > 4, s"3 appends must fragment past 1 file/bucket: $filesBefore")
    val raws = ((0L until 40L) ++ (100L until 130L)).map(i => (i, unit(i.toInt)))
      .toDF("vec_id", "embedding")
    val qp = col("vec_id") % 10 === 0
    val beforeRows = graft.tools.IvfPqBuild.probe(spark, out,
        raws.filter(qp), "vec_id", "embedding", nprobe = 2, k = 3)
      .collect().map(_.toSeq).toSet
    // a high threshold does NOT bind (no rewrite)
    val (nb0, na0) = graft.tools.IvfPqBuild.compact(spark, out,
      maxFilesPerBucket = 64)
    assert(nb0 === na0 && na0 === filesBefore)
    // the binding compaction: back to ~1 file/bucket, probe bit-identical
    val (nb, na) = graft.tools.IvfPqBuild.compact(spark, out,
      maxFilesPerBucket = 1)
    assert(nb === filesBefore && na <= 4,
      s"compaction must land ~one file per bucket: $nb -> $na")
    val afterRows = graft.tools.IvfPqBuild.probe(spark, out,
        raws.filter(qp), "vec_id", "embedding", nprobe = 2, k = 3)
      .collect().map(_.toSeq).toSet
    assert(afterRows === beforeRows,
      "compaction changed probe results — it must only change file layout")
    // a post-compaction tick still appends against the re-registered spec
    (500L until 505L).map(i => (i, unit(i.toInt)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(staging)
    graft.tools.IvfPqBuild.ingestTick(spark, out, staging, s"$base/ckpt",
      recallFloorMicro = 0L, recallDropFactorMicro = 0L)
    assert(graft.tools.IvfPqBuild.openIndex(spark, out).count() === 75L * 4L)

    // the plain-parquet arm (_bands/_fpbands tick appends): rows
    // identical, layout coalesced, threshold respected
    val bandsDir = s"$base/bands"
    for (w <- 0 until 5)
      Seq((w.toLong, s"h$w")).toDF("id", "band_hash")
        .coalesce(1).write.mode("append").parquet(bandsDir)
    assert(graft.storage.ParquetCompact.dataFiles(spark, bandsDir) === 5)
    val rowsBefore = spark.read.parquet(bandsDir).collect().map(_.toSeq).toSet
    val (db0, da0) = graft.storage.ParquetCompact.compactDir(spark, bandsDir,
      maxFiles = 8)
    assert(db0 === 5 && da0 === 5, "threshold not crossed -> no rewrite")
    val (db, da) = graft.storage.ParquetCompact.compactDir(spark, bandsDir,
      maxFiles = 4)
    assert(db === 5 && da === 1)
    assert(spark.read.parquet(bandsDir).collect().map(_.toSeq).toSet
      === rowsBefore, "band-dir compaction must preserve rows exactly")
  }

  test("compaction crash windows recover on the next open: promoted rewrite " +
      "or rolled-back original (VERDICT r15 #4)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("ivfpqswap").toString
    val sfDir = s"$base/sf"
    val out = s"$base/art"
    val staging = s"$base/staging"
    Files.createDirectories(Paths.get(staging))
    def unit(seed: Int): Seq[Double] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    (0L until 40L).map(i => (i, unit(i.toInt)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$sfDir/embeddings.parquet")
    graft.tools.IvfPqBuild.build(spark, sfDir, out,
      m = 4, ksub = 8, centroids = 16, buckets = 4, heldoutMod = 0)
    (100L until 110L).map(i => (i, unit(i.toInt)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(staging)
    graft.tools.IvfPqBuild.ingestTick(spark, out, staging, s"$base/ckpt",
      recallFloorMicro = 0L, recallDropFactorMicro = 0L)
    val raws = ((0L until 40L) ++ (100L until 110L)).map(i => (i, unit(i.toInt)))
      .toDF("vec_id", "embedding")
    val qp = col("vec_id") % 10 === 0
    def probeSet() = graft.tools.IvfPqBuild.probe(spark, out,
        raws.filter(qp), "vec_id", "embedding", nprobe = 2, k = 3)
      .collect().map(_.toSeq).toSet
    val healthy = probeSet()
    val conf = spark.sessionState.newHadoopConf()
    val idx = new org.apache.hadoop.fs.Path(s"$out/index")
    val tmp = new org.apache.hadoop.fs.Path(s"$out/index__compact")
    val old = new org.apache.hadoop.fs.Path(s"$out/index__old")
    val fs = idx.getFileSystem(conf)
    // WINDOW 1 — crash between the two swap renames: a COMPLETED
    // rewrite sits at index__compact, the original was renamed aside,
    // nothing is at the canonical path. The next open must promote the
    // rewrite, with probe parity. READERS AT MOST PROMOTE, NEVER
    // DELETE (ADVICE r16): the aside survives a reader open — a
    // concurrent writer's artifacts are not a reader's to sweep — and
    // is cleared by the next WRITER (compact's sweepStrays).
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, idx, fs, tmp, false, conf))
    assert(fs.rename(idx, old))
    assert(!fs.exists(idx))
    assert(probeSet() === healthy, "window-1 recovery must be probe-exact")
    assert(fs.exists(idx) && !fs.exists(tmp),
      "recovery must promote the rewrite to the canonical path")
    assert(fs.exists(old), "a reader open must not sweep the aside")
    fs.delete(old, true) // stage the next window (writer-role cleanup)
    // WINDOW 2 — crash mid/just-after the FIRST rename (no rewrite on
    // disk): the aside original must roll back.
    assert(fs.rename(idx, old))
    assert(probeSet() === healthy, "window-2 rollback must be probe-exact")
    assert(fs.exists(idx) && !fs.exists(old))
    // WINDOW 3 — stray rewrite, canonical intact: a READER leaves it
    // alone (for all it knows it is another process's in-progress
    // compaction — the ADVICE r16 race); the original stays the truth
    // and the stray is swept by the next writer below.
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, idx, fs, tmp, false, conf))
    assert(probeSet() === healthy)
    assert(fs.exists(tmp),
      "a reader open must not sweep a stray index__compact")
    // and a REAL compaction over the tick-fragmented table still works
    // end to end through the rename-aside path, bit-identically
    val (nb, na) = graft.tools.IvfPqBuild.compact(spark, out,
      maxFilesPerBucket = 1)
    assert(nb > na, s"compaction must bind here: $nb -> $na")
    assert(probeSet() === healthy, "rename-aside compaction changed results")
    assert(!fs.exists(tmp) && !fs.exists(old))

    // the plain-parquet arm: an embedding tick's `_bands` directory
    // shares the swap, and the tick's read of it recovers the same way
    val corpus = s"$base/corpus"
    val vecStaging = s"$base/vecstaging"
    def stageAndTick(ids: Long*): Unit = {
      ids.map(i => (i, unit(i.toInt))).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(vecStaging)
      StreamingIngest.embeddingIngestTick(spark, vecStaging, corpus,
        s"$base/vecckpt")
    }
    def bandRows() = spark.read.parquet(s"$corpus/_bands")
      .collect().map(_.toSeq).toSet
    stageAndTick(1L, 2L)
    val bIdx = new org.apache.hadoop.fs.Path(s"$corpus/_bands")
    val bTmp = new org.apache.hadoop.fs.Path(s"$corpus/_bands__compact")
    val bOld = new org.apache.hadoop.fs.Path(s"$corpus/_bands__old")
    // window 1: the completed rewrite is promoted by the next tick
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, bIdx, fs, bTmp, false, conf))
    assert(fs.rename(bIdx, bOld))
    stageAndTick(3L)
    assert(fs.exists(bIdx) && !fs.exists(bTmp) && fs.exists(bOld),
      "the tick's read must promote the _bands rewrite and keep the aside")
    assert(bandRows().size === 3 * 4)
    fs.delete(bOld, true)
    // window 2: with no rewrite on disk the aside original rolls back
    assert(fs.rename(bIdx, bOld))
    stageAndTick(4L)
    assert(fs.exists(bIdx) && !fs.exists(bOld),
      "the tick's read must roll the _bands aside back")
    assert(spark.read.parquet(corpus).count() === 4L)
    assert(bandRows().size === 4 * 4)
    // a stray rewrite is swept by the next compaction, which binds over
    // the tick-fragmented directory and preserves rows exactly
    val bandsBefore = bandRows()
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, bIdx, fs, bTmp, false, conf))
    val (bb, ba) = graft.storage.ParquetCompact.compactDir(spark,
      s"$corpus/_bands", maxFiles = 1)
    assert(bb > 1 && ba === 1, s"band-dir compaction must bind: $bb -> $ba")
    assert(!fs.exists(bTmp) && !fs.exists(bOld))
    assert(bandRows() === bandsBefore)

    // the replaced-product arm: EcccTick's grid is rewritten through the
    // same swap, so its next tick recovers either window and keeps every
    // earlier hour (f_read resume flags included) instead of reading the
    // missing grid as absent
    val swob = Paths.get(resource("swob/WAE_2024011506.xml"))
    def ecccTick(grid: String, hour: String): Unit = {
      val staged = Files.createDirectories(Paths.get(s"$grid-swob$hour"))
      Files.copy(swob, staged.resolve(s"WAE_$hour.xml"))
      graft.tools.EcccTick.run(spark, staged.toString, grid, s"$base/eccc")
    }
    def hours(grid: String) = spark.read.parquet(grid)
      .select("ts").distinct().count()
    for (window <- Seq("rewrite", "aside")) {
      val grid = s"$base/grid-$window"
      val (g, gTmp, gOld) = (new org.apache.hadoop.fs.Path(grid),
        new org.apache.hadoop.fs.Path(s"${grid}__compact"),
        new org.apache.hadoop.fs.Path(s"${grid}__old"))
      ecccTick(grid, "2024011506")
      if (window == "rewrite")
        assert(org.apache.hadoop.fs.FileUtil.copy(fs, g, fs, gTmp, false, conf))
      assert(fs.rename(g, gOld) && !fs.exists(g))
      ecccTick(grid, "2024011507")
      assert(hours(grid) === 2L,
        s"window '$window': the next EcccTick lost the earlier hour")
      assert(!fs.exists(gTmp) && !fs.exists(gOld))
    }
  }

  test("warm serve loop re-opens when a tick lands underneath " +
      "(VERDICT r15 #4)") {
    import spark.implicits._
    val base = Files.createTempDirectory("ivfpqserve").toString
    val sfDir = s"$base/sf"
    val out = s"$base/art"
    val staging = s"$base/staging"
    val reqDir = s"$base/req"
    Files.createDirectories(Paths.get(staging))
    def unit(seed: Int): Seq[Double] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    (0L until 40L).map(i => (i, unit(i.toInt)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$sfDir/embeddings.parquet")
    graft.tools.IvfPqBuild.build(spark, sfDir, out,
      m = 4, ksub = 8, centroids = 16, buckets = 4, heldoutMod = 0)
    val fs = new org.apache.hadoop.fs.Path(reqDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the probe query carries vector 999's EMBEDDING under a different
    // id (probes self-exclude on id): before the tick the index cannot
    // return 999; after the tick it must — but only if the warm loop
    // actually re-opened (the pinned cache holds the build-time file
    // listing otherwise)
    val query = Seq((5999L, unit(999))).toDF("vec_id", "embedding")
    val staged = Seq((999L, unit(999))).toDF("vec_id", "embedding")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val server = Future {
      graft.tools.IvfPqBuild.serve(spark, out, reqDir,
        "vec_id", "embedding", nprobe = 2, k = 3, pollMs = 100L)
    }
    def waitFor(path: String, ms: Long = 60000L): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      val t0 = System.currentTimeMillis()
      while (!fs.exists(p)) {
        assert(System.currentTimeMillis() - t0 < ms, s"timed out waiting for $path")
        Thread.sleep(100L)
      }
    }
    query.coalesce(1).write.mode("overwrite").parquet(s"$reqDir/in/b0")
    waitFor(s"$reqDir/out/b0/_SUCCESS")
    val before = spark.read.parquet(s"$reqDir/out/b0")
      .select($"vec_id").as[Long].collect().toSet
    assert(!before.contains(999L), "999 is not indexed yet")
    // the tick appends vector 999 and rewrites _meta — the serve loop's
    // staleness fingerprint moves
    staged.coalesce(1).write.mode("append").parquet(staging)
    graft.tools.IvfPqBuild.ingestTick(spark, out, staging, s"$base/ckpt",
      recallFloorMicro = 0L, recallDropFactorMicro = 0L)
    query.coalesce(1).write.mode("overwrite").parquet(s"$reqDir/in/b1")
    waitFor(s"$reqDir/out/b1/_SUCCESS")
    val after = spark.read.parquet(s"$reqDir/out/b1")
      .select($"vec_id").as[Long].collect().toSet
    assert(after.contains(999L),
      "the warm server answered from a stale index after a tick " +
        "landed underneath it")
    fs.create(new org.apache.hadoop.fs.Path(s"$reqDir/stop")).close()
    val served = Await.result(server, 120.seconds)
    assert(served === 2)
  }

  test("drift ticks: maintained grid + PSI equal the batch computation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("drift").toString
    val staging = s"$base/staging"
    Files.createDirectories(Paths.get(staging))
    val monitor = s"$base/monitor"

    def line(id: Long, src: String, n: Long) = s"$id,doc $id,$src,$n\n"
    // wave 1: two sources, distinct magnitudes
    Files.writeString(Paths.get(s"$staging/w1.csv"),
      "doc_id,text,source,n_chars\n" +
        line(1, "a", 10) + line(2, "a", 12) + line(3, "b", 900) +
        line(4, "b", 1000))
    StreamingIngest.driftMonitorTick(spark, staging, monitor, s"$base/ckpt")
    // wave 2 shifts source a upward; w1 is not re-drained
    Files.writeString(Paths.get(s"$staging/w2.csv"),
      "doc_id,text,source,n_chars\n" +
        line(5, "a", 800) + line(6, "a", 950) + line(7, "b", 1100))
    StreamingIngest.driftMonitorTick(spark, staging, monitor, s"$base/ckpt")

    val all = Seq((1L, "a", 10L), (2L, "a", 12L), (3L, "b", 900L),
      (4L, "b", 1000L), (5L, "a", 800L), (6L, "a", 950L), (7L, "b", 1100L))
      .toDF("doc_id", "source", "n_chars")
    val batch = graft.text.Calibrate.psiByGroup(all, "source", col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = spark.read.parquet(s"$monitor/psi")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch,
      "two per-batch folds must equal the one-shot batch PSI bit-exactly")
    val grid = spark.read.parquet(s"$monitor/_grid")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(grid.values.sum === 7L, "grid cells count every ingested doc once")
  }

  test("crawl ticks: line store + folded df index equal the one-shot " +
      "boilerplate filter; late boilerplate drops retroactively; replay " +
      "converges (VERDICT r16 #6)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val base = Files.createTempDirectory("crawl").toString
    val staging = s"$base/staging"
    Files.createDirectories(Paths.get(staging))
    val out = s"$base/corpus"
    val words = Vector("alpha", "beta", "gamma", "delta", "lorem", "ipsum",
      "verba", "scripta", "pagina", "textus", "corpus", "folium")
    def docs(ids: Seq[Long]) = ids.map(i =>
        (i, (0 until 12).map(j => words(((i + j) % 12).toInt)).mkString(" "),
          "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("html", expr(graft.text.Html.fixtureSql))
      .select(col("doc_id"), col("html"))
    def filtered() =
      graft.text.TextOps.lineFilteredCorpus(spark, out, maxDocFreq = 9L)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_lines", "n_kept", "kept_text").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet

    docs(1L to 6L).coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.crawlIngestTick(spark, staging, out, s"$base/ckpt")
    // after wave 1 the fixture's cross-document boilerplate line sits
    // at df = 6 ≤ 9 — it is KEPT, because nothing yet says it is
    // corpus-wide; frequency truth only exists after more arrivals
    assert(filtered().filter(col("kept_text").contains("subscribe"))
      .count() === 6L, "wave-1-only df must still keep the template line")

    docs(7L to 12L).coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.crawlIngestTick(spark, staging, out, s"$base/ckpt")
    val oneShot = graft.text.TextOps.lineFrequencyFilter(
      graft.text.Html.mainContent(docs(1L to 12L), "doc_id", "html")
        .select(col("doc_id"), col("main_text")),
      "doc_id", "main_text", maxDocFreq = 9L)
    assert(key(filtered()) === key(oneShot),
      "two per-batch folds must equal the one-shot line filter bit-exactly")
    // late discovery is RETROACTIVE: the wave-2 fold pushed the
    // template line to df = 12 > 9, so it now drops from the WAVE-1
    // documents' kept text too — the point of maintaining frequency
    // truth instead of per-batch verdicts
    assert(filtered().filter(col("kept_text").contains("subscribe"))
      .count() === 0L)
    // the folded df index IS the batch df over everything ingested
    val batchDf = graft.text.TextOps.lineRows(
        graft.text.Html.mainContent(docs(1L to 12L), "doc_id", "html")
          .select(col("doc_id"), col("main_text")),
        "doc_id", "main_text")
      .groupBy(col("lh"))
      .agg(org.apache.spark.sql.functions.countDistinct(col("doc_id"))
        .as("line_df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val foldedDf = spark.read.parquet(s"$out/_linedf")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(foldedDf === batchDf,
      "cell-wise folds must equal the corpus-wide df aggregate")
    val meta = graft.sim.IndexMeta.read(spark, s"$out/_meta",
      Seq("n_docs", "n_lines", "n_ticks")).get
    assert(meta("n_docs") === 12L && meta("n_ticks") === 2L)
    val linesBefore = spark.read.parquet(s"$out/_lines").count()
    assert(meta("n_lines") === linesBefore)

    // FULL REPLAY (crash-recovery shape): wipe the source checkpoint so
    // both waves re-drain — the tick must not double-append lines, must
    // rebuild (not re-fold) the df grid, and outputs must be unchanged
    val ckptPath = new org.apache.hadoop.fs.Path(s"$base/ckpt")
    ckptPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(ckptPath, true)
    StreamingIngest.crawlIngestTick(spark, staging, out, s"$base/ckpt")
    assert(spark.read.parquet(s"$out/_lines").count() === linesBefore,
      "a replayed batch must never re-append lines")
    assert(key(filtered()) === key(oneShot), "replay must converge")
    assert(spark.read.parquet(s"$out/_linedf")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap === batchDf,
      "the rebuilt df grid must equal the fold it replaced")
  }

  test("two ingest ticks: drain, upsert, no reprocessing, old-wins merge") {
    import spark.implicits._
    val base = Files.createTempDirectory("stream").toString
    val staging = s"$base/staging"
    val ckpt = s"$base/ckpt"
    Files.createDirectories(Paths.get(staging))
    val store = new ObsStore(spark, s"$base/table")

    // tick 1: two observations
    Files.writeString(Paths.get(s"$staging/batch1.csv"),
      "station,ts,param,value\n" +
      "s1,2023-01-05 00:00:00,Q,1.0\n" +
      "s1,2023-01-05 00:05:00,Q,\n")
    StreamingIngest.ingestTick(spark, staging, store, ckpt)
    assert(store.read().count() === 2)

    // tick 2: a revision (loses: old wins), a gap-fill (wins), a new row;
    // batch1.csv must NOT be reprocessed (source tracking replaces f_read)
    Files.writeString(Paths.get(s"$staging/batch2.csv"),
      "station,ts,param,value\n" +
      "s1,2023-01-05 00:00:00,Q,999.0\n" +
      "s1,2023-01-05 00:05:00,Q,1.5\n" +
      "s1,2023-02-01 00:00:00,Q,2.0\n")
    StreamingIngest.ingestTick(spark, staging, store, ckpt)

    val out = store.read()
      .select($"station", date_format($"ts", "MM-dd HH:mm").as("t"), $"value")
      .as[(String, String, Option[Double])].collect().toSet
    assert(out === Set(
      ("s1", "01-05 00:00", Some(1.0)),   // revision rejected (old wins)
      ("s1", "01-05 00:05", Some(1.5)),   // gap filled
      ("s1", "02-01 00:00", Some(2.0))))  // new month partition
  }

  test("stateful sessionization: in-batch gap close, watermark timeout, batch parity") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingSessionize.{Session, SessionEvent}
    def ev(u: Long, hhmm: String, v: Double) =
      SessionEvent(u, java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00"), v)

    val in = { implicit val sqlCtx = spark.sqlContext; MemoryStream[SessionEvent] }
    val q = StreamingSessionize.sessions(in.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // batch 1: two events 10 min apart (one open session), then an
      // 11:00 event whose 50-min gap CLOSES it within the same batch
      in.addData(ev(1, "10:00", 1.0), ev(1, "10:10", 2.0), ev(1, "11:00", 4.0))
      q.processAllAvailable()
      val afterB1 = spark.table("sessions").as[Session].collect()
      assert(afterB1.map(s => (s.user_id, s.session_start.toString,
        s.n_events, s.sum_value)).toSet ===
        Set((1L, "2026-01-01 10:00:00.0", 2L, 3.0)))

      // batch 2: a far-future event pushes the watermark (13:00 - 1h =
      // 12:00) past the open session's 11:30 timeout -> it emits; the
      // new event opens user 2's session (still held)
      in.addData(ev(2, "13:00", 8.0))
      q.processAllAvailable()
      val afterB2 = spark.table("sessions").as[Session].collect()
      assert(afterB2.length === 2)
      assert(afterB2.map(s => (s.user_id, s.session_start.toString, s.n_events,
        s.sum_value)).toSet ===
        Set((1L, "2026-01-01 10:00:00.0", 2L, 3.0),
            (1L, "2026-01-01 11:00:00.0", 1L, 4.0)))

      // the drained prefix must equal the BATCH gaps-and-islands shape
      // (q25's window logic) over the same closed events
      val batch = Seq(ev(1, "10:00", 1.0), ev(1, "10:10", 2.0), ev(1, "11:00", 4.0))
        .toDF("user_id", "ts", "value")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
      val batchSessions = batch
        .withColumn("gap", when(unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(w)) > 30L * 60 * 1000000, 1L)
          .otherwise(0L))
        .withColumn("sid", sum(col("gap")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"),
             sum(col("value")).as("sum_value"))
        .select(col("user_id"), col("session_start").cast("string"),
          col("n_events"), col("sum_value"))
        .as[(Long, String, Long, Double)].collect().toSet
      val streamed = afterB2.filter(_.user_id == 1L)
        .map(s => (s.user_id, s.session_start.toString.stripSuffix(".0"),
          s.n_events, s.sum_value)).toSet
      assert(streamed === batchSessions.map(t =>
        (t._1, t._2.stripSuffix(".0"), t._3, t._4)))
    } finally q.stop()
  }

  test("cardinality sketch maintains streaming registers == batch registers") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.text.Sketch
    // registers are a max-aggregate — associative, order-insensitive, so
    // the SAME operator runs unmodified as a streaming Complete-mode
    // aggregation: the incremental corpus-statistics path (per-batch
    // state is m registers, never the stream)
    // ONE long-lived query, default trigger (addData after start is the
    // supported pattern there — the sessionize test above relies on the
    // same), drained with processAllAvailable between adds so BOTH
    // microbatch boundaries are asserted: the incremental max-merge
    // state path, not just a single drain
    val in = { implicit val sqlCtx = spark.sqlContext; MemoryStream[String] }
    val q = Sketch.registers(in.toDF().withColumnRenamed("value", "tok"), "tok", m = 16)
      .writeStream.format("memory").queryName("sketch_regs")
      .outputMode("complete").start()
    try {
      in.addData((0 until 120).map(i => s"s$i"): _*)
      q.processAllAvailable()
      def sketch(nUpTo: Int) = Sketch.registers(
        (0 until nUpTo).map(i => s"s$i").toDF("tok"), "tok", m = 16)
        .as[(Long, Int)].collect().toMap
      assert(spark.table("sketch_regs").as[(Long, Int)].collect().toMap
        === sketch(120), "first drain must equal its batch build")
      in.addData((100 until 240).map(i => s"s$i"): _*) // overlap re-delivers
      q.processAllAvailable()
      assert(spark.table("sketch_regs").as[(Long, Int)].collect().toMap
        === sketch(240), "incremental registers must equal the full batch build")
    } finally q.stop()
  }

  test("exact decontamination runs as a streaming stateless projection") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the Aho–Corasick match is per-row projection work with the
    // automaton riding the plan — no state, no watermark, so the SAME
    // kernel column drops flagged docs in a streaming ingest gate (the
    // arrival-time decontamination path: filter before anything is
    // persisted), microbatch boundaries included
    val pats = Array("leak me", "benchmark answer")
    val in = { implicit val sqlCtx = spark.sqlContext; MemoryStream[(Long, String)] }
    val flagged = in.toDF().toDF("doc_id", "text")
      .withColumn("hits", org.apache.spark.sql.functions.size(
        graft.plans.StringSearch.multiPatternFirstMatch(
          spark, org.apache.spark.sql.functions.col("text"), pats, "stream1")))
    val q = flagged.filter("hits = 0").drop("hits")
      .writeStream.format("memory").queryName("decontam_pass")
      .outputMode("append").start()
    try {
      in.addData((1L, "clean doc"), (2L, "please leak me now"), (3L, "also fine"))
      q.processAllAvailable()
      assert(spark.table("decontam_pass").as[(Long, String)].collect()
        .map(_._1).sorted.toSeq === Seq(1L, 3L), "first batch gate")
      in.addData((4L, "the benchmark answer is 42"), (5L, "ok"))
      q.processAllAvailable()
      assert(spark.table("decontam_pass").as[(Long, String)].collect()
        .map(_._1).sorted.toSeq === Seq(1L, 3L, 5L), "second batch gate")
    } finally q.stop()
  }

  test("streaming heavy hitters: exact below capacity, space-saving invariants above") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingHeavyHitters.{HeavyHitter, Item}

    // tier 1: capacity covers the vocabulary — counts are EXACT across
    // triggers, errors all 0, Σ counts == N
    val in = { implicit val sqlCtx = spark.sqlContext; MemoryStream[Item] }
    val q = StreamingHeavyHitters.heavyHitters(in.toDS(), capacity = 8)
      .writeStream.format("memory").queryName("hh_exact")
      .outputMode("update").start()
    try {
      in.addData(Item(0, "a", 1), Item(0, "a", 1), Item(0, "b", 1))
      q.processAllAvailable()
      in.addData(Item(0, "a", 1), Item(0, "c", 1))
      q.processAllAvailable()
      val all = spark.table("hh_exact").as[HeavyHitter].collect()
      val lastN = all.map(_.shard_n).max
      val snap = all.filter(_.shard_n == lastN)
        .map(h => h.item -> (h.count, h.err)).toMap
      assert(lastN === 5L)
      assert(snap === Map("a" -> (3L, 0L), "b" -> (1L, 0L), "c" -> (1L, 0L)))
    } finally q.stop()

    // tier 2: capacity 2 under a skewed stream — the paper's invariants:
    // the guaranteed-heavy item is tracked with true ≤ count ≤ true+err,
    // and Σ counts == N exactly (every arrival incremented one counter)
    val in2 = { implicit val sqlCtx = spark.sqlContext; MemoryStream[Item] }
    val q2 = StreamingHeavyHitters.heavyHitters(in2.toDS(), capacity = 2)
      .writeStream.format("memory").queryName("hh_evict")
      .outputMode("update").start()
    try {
      val heavy = Seq.fill(6)(Item(0, "hot", 1))
      val tail = Seq(Item(0, "x", 1), Item(0, "y", 1), Item(0, "z", 1))
      in2.addData(heavy ++ tail: _*)
      q2.processAllAvailable()
      val all = spark.table("hh_evict").as[HeavyHitter].collect()
      val lastN = all.map(_.shard_n).max
      val snap = all.filter(_.shard_n == lastN)
        .map(h => h.item -> (h.count, h.err)).toMap
      assert(lastN === 9L && snap.size === 2)
      val (hotC, hotE) = snap("hot")
      assert(hotC >= 6L && hotC - hotE <= 6L,
        s"true ≤ count ≤ true + err must hold for the heavy item: $snap")
      assert(snap.values.map(_._1).sum === 9L,
        s"space-saving conserves N exactly: $snap")
    } finally q2.stop()

    // determinism: the victim tie-break is (count, item) — replaying the
    // identical arrivals rebuilds the identical sketch
    val s1 = StreamingHeavyHitters.step(
      StreamingHeavyHitters.HHState(Map.empty, 0L),
      Iterator(Item(0, "b", 1), Item(0, "a", 1), Item(0, "c", 1)), 2)
    val s2 = StreamingHeavyHitters.step(
      StreamingHeavyHitters.HHState(Map.empty, 0L),
      Iterator(Item(0, "b", 1), Item(0, "a", 1), Item(0, "c", 1)), 2)
    assert(s1 === s2)
    assert(!s1.counts.contains("a"),
      s"ties evict the lexicographically smallest item: $s1")
    // the stable shard function spreads and is engine-stable
    val sh = (0 until 100).map(i => StreamingHeavyHitters.shardOf(s"t$i", 8))
    assert(sh.forall(s => s >= 0 && s < 8) && sh.distinct.size > 1)
  }

  test("line-df grid as streaming state: state ticks equal the parquet " +
      "fold and the batch aggregate; wiped checkpoint rebuilds bit-exact " +
      "(the §13 fold-bound answer)") {
    import spark.implicits._
    val base = Files.createTempDirectory("dfstate").toString
    val staging = s"$base/staging"
    Files.createDirectories(Paths.get(staging))
    val out = s"$base/corpus"
    val grid = s"$base/gridckpt"
    val words = Vector("alpha", "beta", "gamma", "delta", "lorem", "ipsum",
      "verba", "scripta", "pagina", "textus", "corpus", "folium")
    def docs(ids: Seq[Long]) = ids.map(i =>
        (i, (0 until 12).map(j => words(((i + j) % 12).toInt)).mkString(" "),
          "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("html", expr(graft.text.Html.fixtureSql))
      .select(col("doc_id"), col("html"))
    def stateGrid() = StreamingIngest.lineDfFromState(spark, grid)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // two waves through BOTH the fold tick (lines + _linedf) and the
    // state tick (same staging, separate checkpoints)
    docs(1L to 6L).coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.crawlIngestTick(spark, staging, out, s"$base/ckpt")
    StreamingIngest.dfStateTick(spark, staging, grid)
    docs(7L to 12L).coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.crawlIngestTick(spark, staging, out, s"$base/ckpt")
    StreamingIngest.dfStateTick(spark, staging, grid)

    val folded = spark.read.parquet(s"$out/_linedf")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stateGrid() === folded,
      "state-maintained grid must equal the parquet fold cell for cell")
    // filtered-corpus read face through the STATE grid ≡ the fold face
    def face(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_lines", "n_kept", "kept_text").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet
    assert(
      face(StreamingIngest.lineFilteredCorpusFromState(spark,
        s"$out/_lines", grid, 9L)) ===
      face(graft.text.TextOps.lineFilteredCorpus(spark, out, 9L)),
      "the state-grid read face must reproduce the fold read face")

    // wiped checkpoint: state and source progress die TOGETHER, so the
    // full replay rebuilds the identical grid — the fold design's
    // lines-landed/counts-unfolded crash window cannot exist here
    val ckptPath = new org.apache.hadoop.fs.Path(grid)
    ckptPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(ckptPath, true)
    StreamingIngest.dfStateTick(spark, staging, grid)
    assert(stateGrid() === folded, "replay-from-nothing must converge")

    // the tick pins the RocksDB provider itself (VERDICT r18 #6) —
    // grid-scale key spaces must never land on the on-heap default
    // (measured OOM at 14M keys, SCALE.md §13)
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"),
      "grid ticks must pin the RocksDB state store provider")

    // RE-STAGED DOC DETECTION (ADVICE r18): a clean grid reports no
    // violations; staging doc 3 a SECOND time (a new file — the file
    // source dedups files, not doc ids) must be detected loudly via
    // its marker cell instead of silently inflating frequency truth
    assert(StreamingIngest.restagedDocs(spark, grid).count() === 0L,
      "a contract-clean grid must report no re-staged docs")
    docs(Seq(3L)).coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.dfStateTick(spark, staging, grid)
    val bad = StreamingIngest.restagedDocs(spark, grid)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bad === Map(3L -> 2L),
      s"the double-staged doc must surface with its staging count: $bad")
  }

  test("curated-crawl ticks: two waves equal the one-shot q226 capstone " +
      "bit-exactly; late boilerplate re-curates wave-1 docs; replay " +
      "converges (VERDICT r17 #2)") {
    import spark.implicits._
    import graft.pipeline.CrawlCurate
    val base = Files.createTempDirectory("curated").toString
    val staging = s"$base/staging"
    Files.createDirectories(Paths.get(staging))
    val out = s"$base/corpus"
    // Quality-passing bodies (stopwords present, no symbol noise) with
    // deliberate dedup structure ACROSS waves: 5=1 and 11=3 exact dups,
    // 6≈2 and 12≈4 near dups — the read face must catch the cross-wave
    // ones even though the waves never met in one batch. The fixture's
    // planted template line crosses df = 9 only once BOTH waves landed.
    def body(i: Long): String = {
      val uniq = (0 until 24).map(j => s"w${(i * 7 + j) % 997}").mkString(" ")
      s"the corpus of and is doc $uniq"
    }
    val texts: Map[Long, String] =
      ((1L to 4L) ++ (7L to 10L)).map(i => i -> body(i)).toMap ++ Map(
        5L -> body(1L), 11L -> body(3L),
        6L -> (body(2L) + " extra trailing words appended here"),
        12L -> (body(4L) + " extra trailing words appended here"))
    def docs(ids: Seq[Long]) = ids.map(i => (i, texts(i), "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("html", expr(graft.text.Html.fixtureSql))
      .select(col("doc_id"), col("html"))
    def curated() = CrawlCurate.fromStores(spark, out)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "shard", "n_tokens", "start_tok", "chunk")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet

    docs(1L to 6L).coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.curatedCrawlTick(spark, staging, out, s"$base/ckpt")
    // wave 1 alone: the one-shot over wave-1 docs IS the curated corpus
    assert(key(curated()) === key(CrawlCurate.oneShot(docs(1L to 6L))),
      "after one wave the tick must equal the one-shot over that wave")
    val tick1Rows = spark.read.parquet(s"$out/_docs").count()

    docs(7L to 12L).coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.curatedCrawlTick(spark, staging, out, s"$base/ckpt")
    val oneShot = key(CrawlCurate.oneShot(docs(1L to 12L)))
    assert(key(curated()) === oneShot,
      "two per-batch ticks must equal the one-shot capstone bit-exactly")
    // non-vacuous: the cross-wave duplicates are caught by the read
    // face even though their waves never met in one batch (5=1, 11=3
    // exact; 6≈2, 12≈4 near at J ≥ 0.5 — keepers are the min ids)
    assert(oneShot.map(_._1) === Set(1L, 2L, 3L, 4L, 7L, 8L, 9L, 10L),
      s"dedup verdicts drifted: ${oneShot.map(_._1).toSeq.sorted}")
    // RETROACTIVITY: wave 2 pushed the planted template line over
    // maxDocFreq, so wave-1 docs are in the dirty set and carry a
    // SECOND attrs version — their kept text changed after the fact
    val versions = spark.read.parquet(s"$out/_docs")
      .filter(col("doc_id") <= 6L)
      .groupBy("doc_id").count().collect()
    assert(versions.nonEmpty && versions.forall(_.getLong(1) === 2L),
      "late boilerplate must re-version every wave-1 doc, not re-ingest it")
    // tick 2 appended versions, never rewrote tick-1 rows
    assert(spark.read.parquet(s"$out/_docs").count() > tick1Rows)

    // FULL REPLAY (crash-recovery shape): wipe the source checkpoint so
    // both waves re-drain — lines must not double-append, the df grid
    // rebuilds, _docs gains only higher versions, and the read face is
    // unchanged
    val linesBefore = spark.read.parquet(s"$out/_lines").count()
    val ckptPath = new org.apache.hadoop.fs.Path(s"$base/ckpt")
    ckptPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(ckptPath, true)
    StreamingIngest.curatedCrawlTick(spark, staging, out, s"$base/ckpt")
    assert(spark.read.parquet(s"$out/_lines").count() === linesBefore,
      "a replayed batch must never re-append lines")
    assert(key(curated()) === oneShot, "replay must converge")

    // WIPED GRID CHECKPOINT (the state-grid crash shape, r19): the
    // whole staging replays through the grid drain — state rebuilds
    // from nothing, every doc lands in `_pending`, the full dirty
    // recompute appends higher versions, and the read face is
    // unchanged. No restaged-doc flags: marker counts rebuilt with
    // the state.
    val gridPath = new org.apache.hadoop.fs.Path(s"$out/_gridckpt")
    gridPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(gridPath, true)
    StreamingIngest.curatedCrawlTick(spark, staging, out, s"$base/ckpt")
    assert(key(curated()) === oneShot,
      "a rebuilt-from-nothing state grid must converge bit-exactly")
    assert(StreamingIngest.restagedDocs(spark, s"$out/_gridckpt")
      .count() === 0L,
      "a full state replay must not self-flag as re-staging")
  }

  test("curated-crawl ticks with URL frontier: fuzzy-URL keepers dedup " +
      "at ingest across waves, two ticks equal the one-shot q230 " +
      "composition bit-exactly (VERDICT r18 #2)") {
    import spark.implicits._
    import graft.pipeline.CrawlCurate
    val base = Files.createTempDirectory("frontier").toString
    val staging = s"$base/staging"
    Files.createDirectories(Paths.get(staging))
    val out = s"$base/corpus"
    // quality-passing bodies; urls from the shared q229/q230 fixture
    // (5 spellings per 5-doc group: variants 0–3 fuzzy-collide, 4 is
    // its own resource). Waves arrive in doc-id order, so
    // first-arrival-wins ≡ the one-shot's min-id keeper — the
    // bit-exact-parity contract (the corpusIngestTick precedent).
    def body(i: Long): String = {
      val uniq = (0 until 24).map(j => s"w${(i * 11 + j) % 997}").mkString(" ")
      s"the corpus of and is doc $uniq"
    }
    def docs(ids: Seq[Long]) = ids.map(i => (i, body(i), "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("url", expr(graft.text.TextOps.urlFixtureSql))
      .withColumn("html", expr(graft.text.Html.fixtureSql))
      .select(col("doc_id"), col("url"), col("html"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "shard", "n_tokens", "start_tok", "chunk")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet

    docs(1L to 6L).coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.curatedCrawlTick(spark, staging, out, s"$base/ckpt",
      urlCol = Some("url"))
    docs(7L to 12L).coalesce(1).write.mode("append").parquet(staging)
    StreamingIngest.curatedCrawlTick(spark, staging, out, s"$base/ckpt",
      urlCol = Some("url"))

    // frontier truth: ids 1–3 share group 0's fuzzy key (keeper 1), 4
    // is its own resource; 5–8 share group 1's key ACROSS THE WAVES
    // (keeper 5 — docs 7/8 arrive in wave 2 and must be dropped by the
    // persisted index, the non-vacuous cross-wave case), 9 its own;
    // 10–12 share group 2's key (keeper 10)
    val keepers = spark.read.parquet(s"$out/_urls")
      .select("keeper_id").as[Long].collect().toSet
    assert(keepers === Set(1L, 4L, 5L, 9L, 10L),
      s"frontier keepers drifted: $keepers")
    assert(spark.read.parquet(s"$out/_lines")
      .select("doc_id").distinct().as[Long].collect().toSet
      .subsetOf(keepers),
      "non-keeper docs must never be ingested")

    // the q230 composition as one shot: urlDedup keepers → full
    // capstone — the tick faces must equal it bit-exactly
    val all = docs(1L to 12L)
    val oneShotKeep = graft.text.TextOps.urlDedup(all, "doc_id", "url")
      .select(col("keeper_id").as("doc_id"))
    val oneShot = key(CrawlCurate.oneShot(
      all.join(oneShotKeep, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("html"))))
    assert(key(CrawlCurate.fromStores(spark, out)) === oneShot,
      "frontier ticks must equal the one-shot q230 composition")

    // torn-index guard: a frontier keyed under a different fuzzy-key
    // formula version must refuse loudly, never silently re-group
    graft.sim.IndexMeta.write(spark, s"$out/_urls-meta",
      Seq("fuzzy_v" -> 2L, "built_n" -> 0L))
    docs(Seq(13L)).coalesce(1).write.mode("append").parquet(staging)
    intercept[Exception] {
      StreamingIngest.curatedCrawlTick(spark, staging, out,
        s"$base/ckpt", urlCol = Some("url"))
    }
  }
}
