package graft.storage

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.Merge

/** T2 merge-upsert: partition layout, pruning-driven read, old-wins cell
  * precedence, untouched-partition preservation.
  */
class StoreSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)
  private type Obs = (String, Timestamp, String, Option[Double])

  test("mergeUpsert: old non-null wins, gaps fill, other partitions intact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("obsstore").toString + "/table"
    val store = new ObsStore(spark, dir)

    val initial = Seq(
      ("s1", ts("2023-01-05 00:00:00"), "Q", Some(1.0)),
      ("s1", ts("2023-01-05 00:05:00"), "Q", None: Option[Double]),
      ("s1", ts("2023-02-05 00:00:00"), "Q", Some(2.0)),
      ("s1", ts("2023-01-05 00:00:00"), "H", Some(9.0)))
      .toDF("station", "ts", "param", "value")
    store.write(initial)

    // batch touches only 2023-01/Q: overwrites the null cell, conflicts on
    // the non-null cell (old wins), adds a new ts
    val batch = Seq(
      ("s1", ts("2023-01-05 00:00:00"), "Q", Some(100.0)), // conflict → old 1.0
      ("s1", ts("2023-01-05 00:05:00"), "Q", Some(1.5)),   // fills gap
      ("s1", ts("2023-01-05 00:10:00"), "Q", Some(1.7)))   // new row
      .toDF("station", "ts", "param", "value")
    store.mergeUpsert(batch)

    val out = store.read()
      .select($"station", date_format($"ts", "yyyy-MM-dd HH:mm").as("t"),
        $"param", $"value")
      .as[(String, String, String, Option[Double])].collect().toSet
    assert(out === Set(
      ("s1", "2023-01-05 00:00", "Q", Some(1.0)),
      ("s1", "2023-01-05 00:05", "Q", Some(1.5)),
      ("s1", "2023-01-05 00:10", "Q", Some(1.7)),
      ("s1", "2023-02-05 00:00", "Q", Some(2.0)),   // untouched partition
      ("s1", "2023-01-05 00:00", "H", Some(9.0)))) // untouched param

    // physical layout: hive-style (yyyymm, param) directories
    val parts = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("yyyymm")).sorted
    assert(parts.toSeq === Seq("yyyymm=202301", "yyyymm=202302"))
  }

  /** Every file under `dir` (relative path → mtime). */
  private def files(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => root.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis).toMap
    finally walk.close()
  }

  private def storeWithTwoMonths(): (String, ObsStore) = {
    import spark.implicits._
    val dir = Files.createTempDirectory("obsstore").toString + "/table"
    val store = new ObsStore(spark, dir)
    store.write(Seq(
      ("s1", ts("2023-01-05 00:00:00"), "Q", Some(1.0)),
      ("s1", ts("2023-01-05 00:05:00"), "Q", None: Option[Double]),
      ("s1", ts("2023-02-05 00:00:00"), "Q", Some(2.0)),
      ("s1", ts("2023-01-05 00:00:00"), "H", Some(9.0)))
      .toDF("station", "ts", "param", "value"))
    (dir, store)
  }

  test("mergeUpsert: a batch that changes no cell leaves every store file in place") {
    import spark.implicits._
    val (dir, store) = storeWithTwoMonths()
    val before = files(dir)
    // conflicts the store wins, a null over a null, a null over a value:
    // the merged content equals the stored content
    store.mergeUpsert(Seq(
      ("s1", ts("2023-01-05 00:00:00"), "Q", Some(100.0)),
      ("s1", ts("2023-01-05 00:05:00"), "Q", None: Option[Double]),
      ("s1", ts("2023-01-05 00:00:00"), "H", None),
      ("s1", ts("2023-02-05 00:00:00"), "Q", Some(3.0)))
      .toDF("station", "ts", "param", "value"))
    assert(files(dir) === before)
    assert(store.read().count() === 4)
  }

  test("mergeUpsert: partitions the merge did not change keep their files") {
    import spark.implicits._
    val (dir, store) = storeWithTwoMonths()
    val before = files(dir)
    // fills the one null of (202301, Q) and loses a conflict in (202301, H)
    store.mergeUpsert(Seq(
      ("s1", ts("2023-01-05 00:05:00"), "Q", Some(1.5)),
      ("s1", ts("2023-01-05 00:00:00"), "H", Some(99.0)))
      .toDF("station", "ts", "param", "value"))
    val after = files(dir)
    def under(fs: Map[String, Long], part: String) = fs.filter(_._1.startsWith(part))
    for (part <- Seq("yyyymm=202301/param=H/", "yyyymm=202302/param=Q/")) {
      assert(under(before, part).nonEmpty)
      assert(under(after, part) === under(before, part), part)
    }
    assert(under(after, "yyyymm=202301/param=Q/").keySet !=
      under(before, "yyyymm=202301/param=Q/").keySet)
    val out = store.read().select($"param", $"value").as[(String, Option[Double])]
      .collect().toSet
    assert(out === Set(("Q", Some(1.0)), ("Q", Some(1.5)), ("Q", Some(2.0)), ("H", Some(9.0))))
  }

  test("mergeUpsert content equals Merge.combineFirst(whole store, batch) over a seeded mix") {
    import spark.implicits._
    val dir = Files.createTempDirectory("obsstore").toString + "/table"
    val store = new ObsStore(spark, dir)
    val rnd = new scala.util.Random(20230105L)
    def batch(months: Seq[String], params: Seq[String], n: Int): Seq[Obs] =
      Seq.fill(n) {
        val key = (s"s${rnd.nextInt(3)}",
          ts(s"2023-${months(rnd.nextInt(months.size))}-0${1 + rnd.nextInt(2)} " +
            f"00:${5 * rnd.nextInt(4)}%02d:00"),
          params(rnd.nextInt(params.size)))
        key -> (if (rnd.nextInt(3) == 0) None else Some(rnd.nextInt(100).toDouble))
      }.toMap.toSeq.map { case ((s, t, p), v) => (s, t, p, v) }
    def rows(df: org.apache.spark.sql.DataFrame): Set[Obs] =
      df.select("station", "ts", "param", "value").as[Obs].collect().toSet
    val keys = Seq("station", "ts", "param")

    store.write(batch(Seq("01", "02"), Seq("Q", "H"), 30).toDF("station", "ts", "param", "value"))
    // each batch is drawn from the store as it stands before the merge
    val mix: Seq[(String, Set[Obs] => Seq[Obs])] = Seq(
      "new keys, fills, conflicts" -> (_ => batch(Seq("01", "02"), Seq("Q", "H"), 30)),
      "fills only" -> (_.toSeq.collect { case (s, t, p, None) => (s, t, p, Some(-1.0)) }),
      "conflicts only" -> (_.toSeq.map { case (s, t, p, v) => (s, t, p, v.map(_ + 1)) }),
      "one partition" -> (_ => batch(Seq("01"), Seq("Q"), 12)),
      "empty batch" -> (_ => Seq.empty[Obs]),
      "a new month" -> (_ => batch(Seq("02", "03"), Seq("Q"), 20)),
      "a new param" -> (_ => batch(Seq("01"), Seq("Q", "T"), 20)),
      "mixed again" -> (_ => batch(Seq("01", "02"), Seq("Q", "H"), 30)))
    for ((what, draw) <- mix) {
      val priorRows = rows(store.read())
      val drawn = draw(priorRows)
      assert(drawn.nonEmpty || what == "empty batch", what)
      val prior = priorRows.toSeq.toDF("station", "ts", "param", "value")
      val batchDf = drawn.toDF("station", "ts", "param", "value")
      val expected = rows(Merge.combineFirst(prior, batchDf, keys, Seq("value")))
      store.mergeUpsert(batchDf)
      val got = store.read()
      assert(got.count() === expected.size, what)
      assert(rows(got) === expected, what)
    }
  }

  test("K5 putWithVersionPurgeRetry: purge unblocks a failing put, layered versions drain") {
    // fake store mirroring the reference failure mode: put fails while
    // non-current versions exist; versions sit in layers that only become
    // visible as the previous layer is deleted (discharge_obs_pd.py:281-330)
    class FakeStore extends VersionedObjectStore {
      var layers = List(Seq("v3", "v2"), Seq("v1")) // stacked versions
      var puts = 0
      var putLog = List.empty[String]
      override def put(localPath: String, storePath: String): Unit = {
        puts += 1
        if (layers.nonEmpty) throw new RuntimeException("S3Error: version bloat")
        putLog ::= s"$localPath->$storePath"
      }
      override def listNonCurrentVersions(storePath: String): Seq[String] =
        layers.headOption.getOrElse(Seq.empty)
      override def deleteVersions(storePath: String, versionIds: Seq[String]): Unit = {
        assert(versionIds === layers.head, "must delete the visible layer")
        layers = layers.tail
      }
    }
    val store = new FakeStore
    StoreMaintenance.putWithVersionPurgeRetry(store, "/tmp/a.parquet", "obs/a.parquet")
    assert(store.puts === 2)                       // fail, purge, retry once
    assert(store.layers.isEmpty)                   // both layers drained
    assert(store.putLog === List("/tmp/a.parquet->obs/a.parquet"))

    // healthy store: single put, no purge
    val ok = new FakeStore { layers = Nil }
    StoreMaintenance.putWithVersionPurgeRetry(ok, "/tmp/b.parquet", "obs/b.parquet")
    assert(ok.puts === 1)

    // a store that never converges hits the round guard instead of hanging
    val stuck = new FakeStore {
      override def listNonCurrentVersions(p: String): Seq[String] = Seq("ghost")
      override def deleteVersions(p: String, v: Seq[String]): Unit = ()
    }
    intercept[IllegalStateException] {
      StoreMaintenance.purgeNonCurrentVersions(stuck, "obs/c.parquet", maxRounds = 5)
    }
  }
}
