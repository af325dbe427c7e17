package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Merge, MergeWriter, Ops}

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.builder("4")
    .appName("graft-test")
    .getOrCreate()

  /** A session config the rewrites must not depend on: ANSI mode with
    * a DST time zone. */
  val AnsiLosAngeles: Seq[(String, String)] = Seq(
    "spark.sql.ansi.enabled" -> "true",
    "spark.sql.session.timeZone" -> "America/Los_Angeles")

  /** Run `body` with `confs` set on the shared session, restoring the
    * previous values afterwards. */
  def withConf[T](confs: Seq[(String, String)])(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("latestPerKey picks the greatest row per key with tie-break") {
    val df = Seq(
      ("a", ts("2024-01-01 00:00:00"), 1L, 10.0),
      ("a", ts("2024-01-02 00:00:00"), 2L, 20.0),
      ("a", ts("2024-01-02 00:00:00"), 3L, 30.0), // ts tie → id 3 wins
      ("b", ts("2024-01-01 00:00:00"), 4L, 40.0)
    ).toDF("k", "ts", "id", "v")
    val got = Ops.latestPerKey(df, Seq("k"), Seq(col("ts"), col("id")))
      .select("k", "v").as[(String, Double)].collect().toMap
    assert(got == Map("a" -> 30.0, "b" -> 40.0))
  }

  test("latestPerKeyAgg agrees with window form") {
    val df = Seq(
      ("a", ts("2024-01-01 00:00:00"), 1L, 10.0),
      ("a", ts("2024-01-03 00:00:00"), 2L, 20.0),
      ("b", ts("2024-01-02 00:00:00"), 3L, 30.0)
    ).toDF("k", "ts", "id", "v")
    val a = Ops.latestPerKeyAgg(df, Seq("k"), struct(col("ts"), col("id")),
      Seq("ts", "id", "v")).select("k", "v").as[(String, Double)].collect().toSet
    val b = Ops.latestPerKey(df, Seq("k"), Seq(col("ts"), col("id")))
      .select("k", "v").as[(String, Double)].collect().toSet
    assert(a == b)
  }

  test("asofJoin: latest at-or-before per row, inclusive tie, null when no prior right row") {
    val left = Seq(
      (100L, 1L, ts("2024-01-01 02:00:00")), // between right rows -> picks 01:00's value
      (101L, 1L, ts("2024-01-01 03:00:00")), // EXACT tie with a right row -> inclusive
      (102L, 1L, ts("2024-01-01 00:30:00")), // before any right row -> null
      (103L, 2L, ts("2024-01-01 05:00:00"))  // other key: its own series only
    ).toDF("id", "k", "ts")
    val right = Seq(
      (1L, ts("2024-01-01 01:00:00"), 10.0),
      (1L, ts("2024-01-01 03:00:00"), 30.0),
      (1L, ts("2024-01-01 04:00:00"), 40.0), // after every left row: never picked
      (2L, ts("2024-01-01 01:00:00"), 99.0)
    ).toDF("k", "ts", "v")
    val got = graft.ops.Ops.asofJoin(left, right, "k", "ts", Seq("v"))
      .orderBy("id").select("id", "v").as[(Long, Option[Double])].collect().toSeq
    assert(got == Seq(
      (100L, Some(10.0)), (101L, Some(30.0)), (102L, None), (103L, Some(99.0))))
  }

  test("asofJoin: a matched NULL observation yields NULL (never an older non-null fallback)") {
    // merge_asof/ASOF JOIN semantics: the MATCH is by time, the value
    // comes from the matched row even when it is null. A null right
    // TIMESTAMP, by contrast, matches nothing and must not become a
    // fallback payload.
    val left = Seq((100L, 1L, ts("2024-01-01 03:00:00"))).toDF("id", "k", "ts")
    val right = Seq(
      (1L, Some(ts("2024-01-01 01:00:00")), Some(10.0)),
      (1L, Some(ts("2024-01-01 02:00:00")), None), // matched: its null wins
      (1L, None, Some(777.0))                      // null ts: never matchable
    ).toDF("k", "ts", "v")
    val got = graft.ops.Ops.asofJoin(left, right, "k", "ts", Seq("v"))
      .select("id", "v").as[(Long, Option[Double])].collect().toSeq
    assert(got == Seq((100L, None)),
      s"matched null observation must surface as null, got $got")
  }

  test("asOfAtOrBefore takes the latest row at-or-before the cutoff, inclusive") {
    val df = Seq(
      ("a", ts("2024-01-01 00:00:00"), 1L, 10.0),
      ("a", ts("2024-01-02 00:00:00"), 2L, 20.0), // == cutoff → kept
      ("a", ts("2024-01-03 00:00:00"), 3L, 30.0), // after cutoff
      ("b", ts("2024-01-05 00:00:00"), 4L, 40.0)  // key entirely after
    ).toDF("k", "ts", "id", "v")
    val got = Ops.asOfAtOrBefore(df, Seq("k"), col("ts"),
        lit("2024-01-02 00:00:00").cast("timestamp"), Seq(col("id")))
      .select("k", "v").as[(String, Double)].collect().toMap
    assert(got == Map("a" -> 20.0)) // b absent: left-join callers keep it as null
  }

  test("ohlc invariants: low <= open,close <= high; open/close by time order") {
    val df = Seq(
      ("a", ts("2024-01-01 01:00:00"), 1L, 15.0),
      ("a", ts("2024-01-01 02:00:00"), 2L, 5.0),
      ("a", ts("2024-01-01 03:00:00"), 3L, 25.0),
      ("a", ts("2024-01-01 04:00:00"), 4L, 18.0),
      ("a", ts("2024-01-02 01:00:00"), 5L, 7.0)
    ).toDF("k", "ts", "id", "v")
    val rows = Ops.ohlc(df, Seq("k"), date_trunc("day", col("ts")), col("ts"),
        col("v"), col("id"))
      .orderBy("date")
      .select("open", "high", "low", "close", "n_points")
      .as[(Double, Double, Double, Double, Long)].collect()
    assert(rows(0) == ((15.0, 25.0, 5.0, 18.0, 4L)))
    assert(rows(1) == ((7.0, 7.0, 7.0, 7.0, 1L)))
    rows.foreach { case (o, h, l, c, _) =>
      assert(l <= o && o <= h && l <= c && c <= h)
    }
  }

  test("empty input produces no OHLC rows (P7: empty series emits nothing)") {
    val df = Seq.empty[(String, java.sql.Timestamp, Long, Double)]
      .toDF("k", "ts", "id", "v")
    assert(Ops.ohlc(df, Seq("k"), date_trunc("day", col("ts")), col("ts"),
      col("v"), col("id")).count() == 0)
  }

  test("gapFillHourly interpolates planted gaps linearly; observed hours pass through") {
    import graft.ops.TimeSeries
    // user 1: hours 00,01,02,03,04 with 02 and 03 missing between
    // knowns 10.0 (01:00) and 40.0 (04:00) -> interp 20.0, 30.0
    val ev = Seq(
      (1L, ts("2024-03-01 00:30:00"), 5.0),
      (1L, ts("2024-03-01 01:15:00"), 10.0),
      (1L, ts("2024-03-01 01:45:00"), 10.0), // later event same hour wins (equal here)
      (1L, ts("2024-03-01 04:10:00"), 40.0),
      (2L, ts("2024-03-01 06:00:00"), 7.0) // single point: 1-row grid, no gap
    ).toDF("user_id", "ts", "value")
    val got = TimeSeries.gapFillHourly(ev, "user_id", "ts", "value")
      .orderBy($"user_id", $"hour")
      .select($"user_id", $"value_filled", $"was_gap")
      .as[(Long, Double, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 5.0, false), (1L, 10.0, false), (1L, 20.0, true), (1L, 30.0, true),
      (1L, 40.0, false), (2L, 7.0, false)))
  }

  test("rollingAvg24h frame holds exactly the trailing-24h hourly closes") {
    import graft.ops.TimeSeries
    // hours 0..30 for one user, value = hour index; at hour h the frame
    // is hours max(0, h-24)..h  ->  sum of an integer ramp
    val rows = (0 to 30).map { h =>
      (9L, new java.sql.Timestamp(ts("2024-03-01 00:00:00").getTime + h * 3600L * 1000), h.toDouble)
    }
    val got = TimeSeries.rollingAvg24h(rows.toDF("user_id", "ts", "value"),
        "user_id", "ts", "value")
      .orderBy($"hour").select($"sum_e6", $"n_24h").as[(Long, Long)].collect()
    (0 to 30).foreach { h =>
      val lo = math.max(0, h - 24)
      val expSum = (lo to h).map(_.toLong * 1000000L).sum
      assert(got(h) == ((expSum, (h - lo + 1).toLong)), s"hour $h")
    }
  }

  test("sessionize on real events equals a sequential reference implementation") {
    val gap = 30L * 60 * 1000000
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"))
    val rows = ev.as[(Long, Long, Long)].collect()
    val assigned: Seq[((Long, Long), Long)] = rows.groupBy(_._1).toSeq.flatMap {
      case (u, rs) =>
        var sid = 0L
        var prev = Long.MinValue
        rs.sortBy(r => (r._3, r._2)).toSeq.map { case (_, _, ts) =>
          if (prev == Long.MinValue || ts - prev > gap) sid += 1
          prev = ts
          ((u, sid), ts)
        }
    }
    val expected = assigned.groupBy(_._1).map { case ((u, sid), ts) =>
      (u, sid, ts.size.toLong, ts.map(_._2).min, ts.map(_._2).max)
    }.toSet
    val got = graft.ops.Ops.sessionize(ev, "user_id", "ts_us", "event_id", gapUs = gap)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("sessionize splits on gaps over the threshold, per user") {
    val us = 1000000L
    val ev = Seq(
      (1L, 1L, 0L), (1L, 2L, 10L * us), (1L, 3L, 100L * us), // 90 s gap > 60 s → new session
      (2L, 4L, 5L * us)
    ).toDF("user_id", "event_id", "ts_us")
    val got = Ops.sessionize(ev, "user_id", "ts_us", "event_id", gapUs = 60L * us)
      .orderBy("user_id", "session_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 2L, 0L, 10L * us),
      (1L, 2L, 1L, 100L * us, 100L * us),
      (2L, 1L, 1L, 5L * us, 5L * us)))
  }
}

class MergeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val existing = Seq(
    (1L, "a", 100.0),
    (2L, "b", 200.0),
    (3L, "c", 300.0)
  ).toDF("id", "name", "bal")

  test("upsert: incoming wins on key collision, new keys inserted") {
    val incoming = Seq((2L, "B2", 999.0), (4L, "d", 400.0)).toDF("id", "name", "bal")
    val got = Merge.upsert(existing, incoming, Seq("id"))
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "a", 100.0), (2L, "B2", 999.0), (3L, "c", 300.0), (4L, "d", 400.0)))
  }

  test("upsert preserves designated columns from existing (first_seen_at contract)") {
    val incoming = Seq(
      (2L, "B2", Option.empty[Double]),   // existing bal must survive
      (4L, "d", Option(400.0))            // new key: incoming bal kept
    ).toDF("id", "name", "bal")
    val got = Merge.upsert(existing, incoming, Seq("id"), preserveExisting = Seq("bal"))
      .orderBy("id").as[(Long, String, Option[Double])].collect().toSeq
    assert(got == Seq((1L, "a", Some(100.0)), (2L, "B2", Some(200.0)),
      (3L, "c", Some(300.0)), (4L, "d", Some(400.0))))
  }

  test("upsert is idempotent: applying the same batch twice equals once") {
    val incoming = Seq((2L, "B2", 999.0), (4L, "d", 400.0)).toDF("id", "name", "bal")
    val once = Merge.upsert(existing, incoming, Seq("id"))
    val twice = Merge.upsert(once, incoming, Seq("id"))
    assert(once.orderBy("id").collect().toSeq == twice.orderBy("id").collect().toSeq)
  }

  test("dedupKeepLast: later batch-order row wins within one batch (executemany order)") {
    val batch = Seq((1L, "x", 0L), (1L, "y", 1L), (2L, "z", 2L))
      .toDF("id", "name", "ord")
    val got = Merge.dedupKeepLast(batch, Seq("id"), col("ord"))
      .orderBy("id").select("id", "name").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "y"), (2L, "z")))
  }

  test("mergeIntoPartitioned rewrites only affected partitions and is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge").toString
    val path = s"$dir/t"
    val day1 = ts("2024-01-01")
    val day2 = ts("2024-01-02")
    val base = Seq((1L, day1, 10.0), (2L, day1, 20.0), (3L, day2, 30.0))
      .toDF("id", "day", "v")
    MergeWriter.mergeIntoPartitioned(spark, path, base, Seq("id"), "day")
    // batch touches only day2
    val batch = Seq((3L, day2, 99.0), (4L, day2, 40.0)).toDF("id", "day", "v")
    MergeWriter.mergeIntoPartitioned(spark, path, batch, Seq("id"), "day")
    MergeWriter.mergeIntoPartitioned(spark, path, batch, Seq("id"), "day") // idempotent
    val got = spark.read.parquet(path).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10.0), (2L, 20.0), (3L, 99.0), (4L, 40.0)))
  }

  test("mergeIntoPartitioned commit: crash states roll back / roll forward correctly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-crash").toString
    val path = s"$dir/t"
    val day1 = ts("2024-01-01")
    val day2 = ts("2024-01-02")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)

    val base = Seq((1L, day1, 10.0), (2L, day2, 20.0)).toDF("id", "day", "v")
    MergeWriter.mergeIntoPartitioned(spark, path, base, Seq("id"), "day")
    val partDir = new java.io.File(path).listFiles()
      .map(_.getName).find(_.startsWith("day=")).get

    // Crash point A — mid-swap: the live partition was moved to __old
    // but the staged one never moved in. Recovery must restore the
    // pre-merge state, and a re-run of the merge must then succeed.
    fs.mkdirs(hp(s"${path}__old"))
    assert(fs.rename(hp(s"$path/$partDir"), hp(s"${path}__old/$partDir")))
    val batch = Seq((1L, day1, 99.0)).toDF("id", "day", "v")
    MergeWriter.mergeIntoPartitioned(spark, path, batch, Seq("id"), "day")
    val got = spark.read.parquet(path).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 99.0), (2L, 20.0)),
      "mid-swap residue must roll back, then the merge applies")
    assert(!fs.exists(hp(s"${path}__old")) && !fs.exists(hp(s"${path}__swap")))

    // Crash point B — post-commit: live partition exists AND a stale
    // __old copy remains. The live (merged) data must win.
    fs.mkdirs(hp(s"${path}__old/$partDir"))
    // stale __swap from an uncommitted run must also be discarded
    fs.mkdirs(hp(s"${path}__swap/$partDir"))
    MergeWriter.mergeIntoPartitioned(spark, path, batch, Seq("id"), "day")
    val got2 = spark.read.parquet(path).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq
    assert(got2 == Seq((1L, 99.0), (2L, 20.0)))
    assert(!fs.exists(hp(s"${path}__old")) && !fs.exists(hp(s"${path}__swap")))
  }

  test("ManifestTable: merge/read roundtrip, partition pruning, idempotence") {
    val path = java.nio.file.Files.createTempDirectory("graft-manifest").toString + "/t"
    val day1 = ts("2024-01-01")
    val day2 = ts("2024-01-02")
    val base = Seq((1L, day1, 10.0), (2L, day1, 20.0), (3L, day2, 30.0))
      .toDF("id", "day", "v")
    graft.ops.ManifestTable.merge(spark, path, base, Seq("id"), "day")
    val batch = Seq((3L, day2, 99.0), (4L, day2, 40.0)).toDF("id", "day", "v")
    graft.ops.ManifestTable.merge(spark, path, batch, Seq("id"), "day")
    graft.ops.ManifestTable.merge(spark, path, batch, Seq("id"), "day") // idempotent
    val got = graft.ops.ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10.0), (2L, 20.0), (3L, 99.0), (4L, 40.0)))
    // dir-level pruning: the day1 filter reads only day1's directory
    val pruned = graft.ops.ManifestTable.read(spark, path,
      partitionFilter = _.startsWith("2024-01-01"))
    assert(pruned.select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("ManifestTable commit is ONE rename: reader sees wholly-old or wholly-new, never mixed") {
    // Replays the commit sequence by hand around a live reader: after
    // the batch data dirs are fully written (the torn window of the
    // two-rename swap commit, which had already moved partition A
    // when partition B was still old) the table must still read
    // WHOLLY OLD, because nothing references the new dirs until the
    // single manifest rename — which is the only step that changes
    // what a reader resolves.
    val path = java.nio.file.Files.createTempDirectory("graft-manifest-atomic").toString + "/t"
    val day1 = ts("2024-01-01")
    val day2 = ts("2024-01-02")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = Seq((1L, day1, 10.0), (2L, day2, 20.0)).toDF("id", "day", "v")
    graft.ops.ManifestTable.merge(spark, path, base, Seq("id"), "day")
    def snapshot() = graft.ops.ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq
    val old = snapshot()

    // Simulate a MULTI-partition merge crashed (or paused) after its
    // data write but before its manifest rename: write both updated
    // partitions as a new batch dir, reader-checks in between.
    val merged = Seq((1L, day1, 11.0), (2L, day2, 22.0)).toDF("id", "day", "v")
    merged.withColumn("__pdir", col("day").cast("string"))
      .write.partitionBy("__pdir").parquet(s"$path/data/batch-crashsim")
    assert(snapshot() == old,
      "new data dirs are invisible until the manifest rename")

    // The commit: one rename of a manifest listing BOTH new dirs.
    val entries = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/data/batch-crashsim"))
      .filter(_.getPath.getName.startsWith("__pdir="))
      .map { st =>
        val n = st.getPath.getName
        graft.ops.ManifestTable.unescapePathName(n.stripPrefix("__pdir=")) ->
          s"data/batch-crashsim/$n"
      }.toSeq
    val tmp = new org.apache.hadoop.fs.Path(s"$path/_manifests/m000000000002.crash.tmp")
    val out = fs.create(tmp, false)
    out.write(entries.map { case (k, d) => s"$k\t$d" }.mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
    assert(snapshot() == old, "a manifest tmp is not a commit")
    assert(fs.rename(tmp, new org.apache.hadoop.fs.Path(s"$path/_manifests/m000000000002")))
    assert(snapshot() == Seq((1L, 11.0), (2L, 22.0)),
      "after the single rename the table is wholly new")
  }

  test("ManifestTable: a crashed merge's orphan batch dir is swept by the next merge") {
    val path = java.nio.file.Files.createTempDirectory("graft-manifest-orphan").toString + "/t"
    val day1 = ts("2024-01-01")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = Seq((1L, day1, 10.0)).toDF("id", "day", "v")
    graft.ops.ManifestTable.merge(spark, path, base, Seq("id"), "day")
    // crash residue: a fully-written batch dir + a manifest tmp that
    // never committed
    Seq((1L, day1, 666.0)).toDF("id", "day", "v")
      .withColumn("__pdir", col("day").cast("string"))
      .write.partitionBy("__pdir").parquet(s"$path/data/batch-orphan")
    fs.create(new org.apache.hadoop.fs.Path(s"$path/_manifests/m000000000002-x.tmp"), false).close()
    // table unaffected by the residue
    assert(graft.ops.ManifestTable.read(spark, path)
      .select("v").as[Double].collect().toSeq == Seq(10.0))
    // a FRESH never-referenced dir is NOT swept — it could be a
    // concurrent writer's in-flight batch (the orphan grace window)
    graft.ops.ManifestTable.merge(spark, path,
      Seq((3L, day1, 30.0)).toDF("id", "day", "v"), Seq("id"), "day")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/data/batch-orphan")))
    // age the residue past the grace window; the next merge sweeps it
    val old = System.currentTimeMillis() - graft.ops.ManifestTable.OrphanGraceMs - 1000L
    fs.setTimes(new org.apache.hadoop.fs.Path(s"$path/data/batch-orphan"), old, old)
    fs.setTimes(new org.apache.hadoop.fs.Path(s"$path/_manifests/m000000000002-x.tmp"),
      old, old)
    graft.ops.ManifestTable.merge(spark, path,
      Seq((2L, day1, 20.0)).toDF("id", "day", "v"), Seq("id"), "day")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/data/batch-orphan")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_manifests/m000000000002-x.tmp")))
    assert(graft.ops.ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
  }

  test("ManifestTable time travel: retained versions pin their snapshot; horizon cleans") {
    val path = java.nio.file.Files.createTempDirectory("graft-manifest-tt").toString + "/t"
    val day1 = ts("2024-01-01")
    def mergeV(v: Double) = graft.ops.ManifestTable.merge(spark, path,
      Seq((1L, day1, v)).toDF("id", "day", "v"), Seq("id"), "day", retainVersions = 2)
    def readV(ver: Long) = graft.ops.ManifestTable.readVersion(spark, path, ver)
      .select("v").as[Double].collect().toSeq
    mergeV(10.0); mergeV(20.0)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.ops.ManifestTable.versions(fs, path) == Seq(1L, 2L))
    assert(readV(1L) == Seq(10.0), "the previous snapshot is pinnable")
    assert(readV(2L) == Seq(20.0))
    mergeV(30.0) // v1 falls off the retain-2 horizon
    assert(graft.ops.ManifestTable.versions(fs, path) == Seq(2L, 3L))
    assert(readV(2L) == Seq(20.0) && readV(3L) == Seq(30.0))
    intercept[IllegalArgumentException](readV(1L))
  }

  test("ManifestTable schema evolution: a merge adding a nullable column widens the " +
    "committed schema; untouched partitions and pinned old versions still resolve") {
    val path = java.nio.file.Files.createTempDirectory("graft-manifest-evo").toString + "/t"
    val day1 = ts("2024-01-01")
    val day2 = ts("2024-01-02")
    val base = Seq((1L, day1, 10.0), (2L, day2, 20.0)).toDF("id", "day", "v")
    graft.ops.ManifestTable.merge(spark, path, base, Seq("id"), "day")
    // The widening merge touches ONLY day2; day1's data dir keeps its
    // old-schema files and must resolve the new column as null.
    val widened = Seq((2L, day2, 22.0, "api"), (3L, day2, 30.0, "csv"))
      .toDF("id", "day", "v", "src")
    graft.ops.ManifestTable.merge(spark, path, widened, Seq("id"), "day")
    val got = graft.ops.ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v", "src").as[(Long, Double, Option[String])].collect().toSeq
    assert(got == Seq((1L, 10.0, None), (2L, 22.0, Some("api")), (3L, 30.0, Some("csv"))))
    val schema = graft.ops.ManifestTable.read(spark, path).schema
    assert(schema.fieldNames.toSeq == Seq("id", "day", "v", "src"))
    assert(schema("src").nullable, "a column old data dirs lack must commit as nullable")
    // A pinned pre-widening version reads under ITS schema — no src.
    val v1 = graft.ops.ManifestTable.readVersion(spark, path, 1L)
    assert(v1.schema.fieldNames.toSeq == Seq("id", "day", "v"))
    assert(v1.orderBy("id").select("v").as[Double].collect().toSeq == Seq(10.0, 20.0))
    // A later merge under the widened schema upserts against day2's
    // MIXED history correctly (old rows resolve src via the committed
    // schema, not a footer sweep).
    graft.ops.ManifestTable.merge(spark, path,
      Seq((3L, day2, 33.0, "fix")).toDF("id", "day", "v", "src"), Seq("id"), "day")
    assert(graft.ops.ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v", "src").as[(Long, Double, Option[String])].collect().toSeq ==
      Seq((1L, 10.0, None), (2L, 22.0, Some("api")), (3L, 33.0, Some("fix"))))
    // Non-additive evolution (batch missing a table column) refuses loudly.
    intercept[IllegalArgumentException](graft.ops.ManifestTable.merge(spark, path,
      Seq((4L, day2, 40.0)).toDF("id", "day", "v"), Seq("id"), "day"))
    // ... including on a NEW-partition-only batch (no touched dirs):
    // committing the narrowed schema would silently project `src` away
    // from every untouched partition.
    val day3 = ts("2024-01-03")
    intercept[IllegalArgumentException](graft.ops.ManifestTable.merge(spark, path,
      Seq((5L, day3, 50.0)).toDF("id", "day", "v"), Seq("id"), "day"))
    // ... and RETYPING a column refuses loudly too: untouched
    // partitions' parquet could not be read under the new type.
    intercept[IllegalArgumentException](graft.ops.ManifestTable.merge(spark, path,
      Seq((5L, day3, "oops", "x")).toDF("id", "day", "v", "src"), Seq("id"), "day"))
    // the refusals left the table untouched
    assert(graft.ops.ManifestTable.read(spark, path).count() == 3)
  }

  test("ManifestTable.mergeMany: one write job lands N tables with per-table " +
    "upsert semantics identical to single-table merge; staging is swept") {
    import graft.ops.ManifestTable
    import graft.ops.ManifestTable.TableMerge
    val base = java.nio.file.Files.createTempDirectory("graft-manifest-many").toString
    val day1 = ts("2024-01-01")
    val day2 = ts("2024-01-02")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def run(aRows: Seq[(Long, java.sql.Timestamp, Double)],
            bRows: Seq[(Long, java.sql.Timestamp, String)]) =
      ManifestTable.mergeMany(spark, base, Seq(
        TableMerge("ta", aRows.toDF("id", "day", "v"), Seq("id"), "day"),
        TableMerge("tb", bRows.toDF("id", "day", "w"), Seq("id"), "day")))
    run(Seq((1L, day1, 10.0), (2L, day2, 20.0)), Seq((1L, day1, "x")))
    run(Seq((2L, day2, 22.0), (3L, day2, 30.0)), Seq((2L, day2, "y")))
    assert(ManifestTable.read(spark, base + "/ta").orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 22.0), (3L, 30.0)))
    assert(ManifestTable.read(spark, base + "/tb").orderBy("id")
      .select("id", "w").as[(Long, String)].collect().toSeq ==
      Seq((1L, "x"), (2L, "y")))
    // per-table manifests advanced independently and atomically
    assert(ManifestTable.versions(fs, base + "/ta") == Seq(1L, 2L))
    assert(ManifestTable.versions(fs, base + "/tb") == Seq(1L, 2L))
    // the shared staging dir is gone
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .exists(_.getPath.getName.startsWith("_staging-")))
    // a column a data file carries for ANOTHER union'd table never
    // leaks: each table reads back under its own committed schema
    assert(ManifestTable.read(spark, base + "/ta").schema.fieldNames.toSeq ==
      Seq("id", "day", "v"))
    // an EMPTY batch for one table still commits (a no-data version)
    run(Seq((3L, day2, 33.0)), Seq.empty)
    assert(ManifestTable.read(spark, base + "/tb").count() == 2)
    assert(ManifestTable.versions(fs, base + "/tb") == Seq(2L, 3L))
    // same-named columns with conflicting dtypes across tables refuse loudly
    intercept[IllegalArgumentException](ManifestTable.mergeMany(spark, base, Seq(
      TableMerge("ta", Seq((9L, day1, 9.0)).toDF("id", "day", "v"), Seq("id"), "day"),
      TableMerge("tc", Seq((9L, "2024-01-01", "s")).toDF("id", "day", "v"),
        Seq("id"), "day"))))
    // duplicate table names refuse loudly
    intercept[IllegalArgumentException](ManifestTable.mergeMany(spark, base, Seq(
      TableMerge("ta", Seq((9L, day1, 9.0)).toDF("id", "day", "v"), Seq("id"), "day"),
      TableMerge("ta", Seq((9L, day1, 9.0)).toDF("id", "day", "v"), Seq("id"), "day"))))
  }

  test("ManifestTable.expireVersions: vacuums unreferenced files, keeps retained " +
    "time travel, refuses keepLast < 1, expired reads fail loudly") {
    import graft.ops.ManifestTable
    val path = java.nio.file.Files.createTempDirectory("graft-manifest-exp").toString + "/t"
    val day1 = ts("2024-01-01")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mergeV(v: Double) = ManifestTable.merge(spark, path,
      Seq((1L, day1, v)).toDF("id", "day", "v"), Seq("id"), "day", retainVersions = 3)
    mergeV(10.0); mergeV(20.0); mergeV(30.0)
    assert(ManifestTable.versions(fs, path) == Seq(1L, 2L, 3L))
    def batchDirs() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/data"))
      .map(_.getPath.getName).toSet
    assert(batchDirs().size == 3, "each version's batch dir is retained pre-expire")
    ManifestTable.expireVersions(spark, path, keepLast = 2)
    // (a) retained versions still time-travel
    assert(ManifestTable.readVersion(spark, path, 2L)
      .select("v").as[Double].collect().toSeq == Seq(20.0))
    assert(ManifestTable.read(spark, path)
      .select("v").as[Double].collect().toSeq == Seq(30.0))
    // (b) unreferenced files are gone from disk
    assert(ManifestTable.versions(fs, path) == Seq(2L, 3L))
    assert(batchDirs().size == 2, "v1's unreferenced batch dir was vacuumed")
    // (c) expired-version reads fail with the named error
    val e = intercept[IllegalArgumentException](
      ManifestTable.readVersion(spark, path, 1L))
    assert(e.getMessage.contains("not retained"))
    // the current version can never be expired
    intercept[IllegalArgumentException](
      ManifestTable.expireVersions(spark, path, keepLast = 0))
    // idempotent
    ManifestTable.expireVersions(spark, path, keepLast = 2)
    assert(ManifestTable.versions(fs, path) == Seq(2L, 3L))
  }

  test("ManifestTable zone-map skipping: footer stats prune dirs, untouched " +
    "partitions carry stats forward, statless columns never prune") {
    import graft.ops.ManifestTable
    val path = java.nio.file.Files.createTempDirectory("graft-manifest-stats").toString + "/t"
    val day1 = ts("2024-01-01")
    val day2 = ts("2024-01-02")
    val day3 = ts("2024-01-03")
    // value ranges: day1 [1,5], day2 [10,15], day3 [100,200]
    val base = Seq(
      (1L, day1, 1.0, "a"), (2L, day1, 5.0, "b"),
      (3L, day2, 10.0, "c"), (4L, day2, 15.0, "d"),
      (5L, day3, 100.0, "e"), (6L, day3, 200.0, "f")).toDF("id", "day", "v", "s")
    ManifestTable.merge(spark, path, base, Seq("id"), "day",
      statsColumns = Seq("v", "s", "id"))
    // range [12, 50] intersects only day2's [10,15]
    val r1 = ManifestTable.readSkipping(spark, path, "v", BigDecimal(12), BigDecimal(50))
    assert(r1.dirsScanned == 1 && r1.dirsTotal == 3)
    assert(r1.df.select("id").as[Long].collect().toSet == Set(3L, 4L))
    // long column stats work too (INT64)
    val r2 = ManifestTable.readSkipping(spark, path, "id", BigDecimal(5), BigDecimal(5))
    assert(r2.dirsScanned == 1, "per-dir id ranges are [1,2], [3,4], [5,6]: only day3's " +
      s"intersects id=5; got ${r2.dirsScanned}")
    // string column: unsupported physical ordering -> no stats -> never pruned
    val r3 = ManifestTable.readSkipping(spark, path, "s", BigDecimal(0), BigDecimal(0))
    assert(r3.dirsScanned == 3, "a statless column must read every dir (fail-safe)")
    // a later merge touching ONLY day3 narrows its range; day1/day2
    // entries carry their stats forward and still prune
    ManifestTable.merge(spark, path,
      Seq((5L, day3, 100.0, "e"), (6L, day3, 120.0, "f")).toDF("id", "day", "v", "s"),
      Seq("id"), "day", statsColumns = Seq("v"))
    val r4 = ManifestTable.readSkipping(spark, path, "v", BigDecimal(150), BigDecimal(300))
    assert(r4.dirsScanned == 0 && r4.dirsTotal == 3,
      s"day3 re-written as [100,120] must now prune for [150,300]; got ${r4.dirsScanned}")
    assert(r4.df.count() == 0 &&
      r4.df.schema.fieldNames.toSeq == Seq("id", "day", "v", "s"),
      "the all-pruned read returns an empty frame under the committed schema")
    val r5 = ManifestTable.readSkipping(spark, path, "v", BigDecimal(0), BigDecimal(3))
    assert(r5.dirsScanned == 1 && r5.df.select("id").as[Long].collect().toSet == Set(1L, 2L),
      "day1's carried-forward stats still prune after an unrelated commit")
    // a reader that ignores stats sees the identical table
    assert(ManifestTable.read(spark, path).count() == 6)
  }

  test("ManifestTable.readAsOf resolves the version live at a wall-clock instant; " +
    "under-declared knownTouched refuses before any commit") {
    import graft.ops.ManifestTable
    import graft.ops.ManifestTable.TableMerge
    val path = java.nio.file.Files.createTempDirectory("graft-manifest-asof").toString + "/t"
    val day1 = ts("2024-01-01")
    def mergeV(v: Double) = ManifestTable.merge(spark, path,
      Seq((1L, day1, v)).toDF("id", "day", "v"), Seq("id"), "day")
    val t0 = System.currentTimeMillis()
    Thread.sleep(5); mergeV(10.0); Thread.sleep(5)
    val t1 = System.currentTimeMillis()
    Thread.sleep(5); mergeV(20.0); Thread.sleep(5)
    def vAt(ms: Long) = ManifestTable.readAsOf(spark, path, ms)
      .select("v").as[Double].collect().toSeq
    assert(vAt(t1) == Seq(10.0), "the snapshot live between the commits is v1")
    assert(vAt(System.currentTimeMillis()) == Seq(20.0))
    intercept[IllegalArgumentException](vAt(t0)) // before the first commit
    // knownTouched safety: a batch carrying rows for an UNDECLARED
    // partition must refuse loudly BEFORE committing anything
    val day2 = ts("2024-01-02")
    val base2 = java.nio.file.Files.createTempDirectory("graft-manifest-kt").toString
    val fs = new org.apache.hadoop.fs.Path(base2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // partition-value strings are Spark's cast-to-string form (no
    // fractional tail, unlike Timestamp.toString)
    val (p1, p2) = ("2024-01-01 00:00:00", "2024-01-02 00:00:00")
    intercept[IllegalArgumentException](ManifestTable.mergeMany(spark, base2, Seq(
      TableMerge("tt", Seq((1L, day1, 1.0), (2L, day2, 2.0)).toDF("id", "day", "v"),
        Seq("id"), "day",
        knownTouched = Some(Set(p1))))))  // day2 written, undeclared
    assert(ManifestTable.versions(fs, base2 + "/tt").isEmpty,
      "the refused merge must not have committed a version")
    // over-declaring a partition with no data and no history is a no-op
    ManifestTable.mergeMany(spark, base2, Seq(
      TableMerge("tt", Seq((1L, day1, 1.0)).toDF("id", "day", "v"),
        Seq("id"), "day",
        knownTouched = Some(Set(p1, p2)))))
    assert(ManifestTable.read(spark, base2 + "/tt").count() == 1)
  }

  test("IncrementalAgg: delta refresh equals full recompute, retracted groups " +
    "vanish, the base-version watermark commits atomically with the data") {
    import graft.ops.{IncrementalAgg, ManifestTable}
    val base = java.nio.file.Files.createTempDirectory("graft-iagg").toString
    val (bPath, aPath) = (s"$base/b", s"$base/agg")
    val day1 = ts("2024-01-01")
    val day2 = ts("2024-01-02")
    def agg() = IncrementalAgg.read(spark, aPath).orderBy("g")
      .select("g", "n", "sum_v").as[(String, Long, Long)].collect().toSeq
    // m1: initial two days
    ManifestTable.merge(spark, bPath,
      Seq((1L, day1, "a", 10L), (2L, day1, "b", 5L), (3L, day2, "a", 7L))
        .toDF("id", "day", "g", "v"), Seq("id"), "day")
    IncrementalAgg.refresh(spark, bPath, aPath, Seq("g"), Seq("v"))
    assert(agg() == Seq(("a", 2L, 17L), ("b", 1L, 5L)))
    assert(ManifestTable.readProps(spark, aPath) ==
      Map(IncrementalAgg.BaseVersionProp -> "1", IncrementalAgg.BucketsProp -> "16",
        IncrementalAgg.MinMaxProp -> ""))
    // m2: upsert rewrites day1 only (update b, insert c) -> DELTA path
    ManifestTable.merge(spark, bPath,
      Seq((2L, day1, "b", 6L), (4L, day1, "c", 1L)).toDF("id", "day", "g", "v"),
      Seq("id"), "day")
    IncrementalAgg.refresh(spark, bPath, aPath, Seq("g"), Seq("v"))
    assert(agg() == Seq(("a", 2L, 17L), ("b", 1L, 6L), ("c", 1L, 1L)),
      "the delta-maintained view must equal a full recompute")
    assert(ManifestTable.readProps(spark, aPath)(IncrementalAgg.BaseVersionProp) == "2")
    // m3: replaceTouched day1 keeps only id 1 -> b and c RETRACT to zero
    ManifestTable.merge(spark, bPath,
      Seq((1L, day1, "a", 10L)).toDF("id", "day", "g", "v"),
      Seq("id"), "day", replaceTouched = true)
    assert(ManifestTable.read(spark, bPath).count() == 2,
      "replaceTouched must DELETE the rows the batch does not carry")
    IncrementalAgg.refresh(spark, bPath, aPath, Seq("g"), Seq("v"))
    assert(agg() == Seq(("a", 2L, 17L)),
      "groups whose count retracts to zero must disappear from the view")
    // already current -> no-op (no new agg version)
    val aggFs = new org.apache.hadoop.fs.Path(aPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = ManifestTable.versions(aggFs, aPath)
    IncrementalAgg.refresh(spark, bPath, aPath, Seq("g"), Seq("v"))
    assert(ManifestTable.versions(aggFs, aPath) == vs)
    // a delta whose groups land ONLY in never-written buckets must
    // not trip the empty bucket-pruned read: probe for a group name
    // hashing outside the occupied bucket set, then ingest it
    import org.apache.spark.sql.functions.{col => c, lit => l, pmod, xxhash64}
    def bucketOf(g: String): String = Seq(g).toDF("g")
      .select(pmod(xxhash64(c("g")), l(16L)).cast("string")).head.getString(0)
    val occupied = ManifestTable.read(spark, aPath)
      .select("__gbucket").distinct().as[String].collect().toSet
    val fresh = (1 to 200).map(i => s"newgrp$i").find(g => !occupied(bucketOf(g))).get
    ManifestTable.merge(spark, bPath,
      Seq((9L, day2, fresh, 3L)).toDF("id", "day", "g", "v"), Seq("id"), "day")
    IncrementalAgg.refresh(spark, bPath, aPath, Seq("g"), Seq("v"))
    assert(agg() == Seq(("a", 2L, 17L), (fresh, 1L, 3L)))
    // changing the bucket count forces a FULL rebuild (the mapping
    // moved); values unchanged, recorded bucket prop updated
    IncrementalAgg.refresh(spark, bPath, aPath, Seq("g"), Seq("v"), buckets = 4)
    assert(agg() == Seq(("a", 2L, 17L), (fresh, 1L, 3L)))
    assert(ManifestTable.readProps(spark, aPath)(IncrementalAgg.BucketsProp) == "4")
  }

  test("ManifestTable residue and corruption: a zero-line manifest (created outside " +
    "the commit protocol) fails reads loudly; a crashed mergeMany's staging dir " +
    "is swept by the next run") {
    import graft.ops.ManifestTable
    import graft.ops.ManifestTable.TableMerge
    val day1 = ts("2024-01-01")
    // A zero-line m2 cannot come from the tmp+rename commit (writes
    // are atomic); treating it as an empty table would silently drop
    // every partition — reads must refuse with the named error.
    val path = java.nio.file.Files.createTempDirectory("graft-manifest-race").toString + "/t"
    ManifestTable.merge(spark, path,
      Seq((1L, day1, 1.0)).toDF("id", "day", "v"), Seq("id"), "day")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$path/_manifests/m000000000002"), false).close()
    val e = intercept[IllegalArgumentException](ManifestTable.read(spark, path).count())
    assert(e.getMessage.contains("zero lines"))
    // crashed-mergeMany residue: a _staging dir under base is swept by
    // the next mergeMany ONLY once it ages past OrphanGraceMs — a
    // fresh one could be a rival writer's in-flight staging and must
    // survive (the sweep shares the batch-orphan grace window).
    val base = java.nio.file.Files.createTempDirectory("graft-manifest-stg").toString
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/_staging-fresh/__tbl=x"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/_staging-dead/__tbl=x"))
    val stale = System.currentTimeMillis() - ManifestTable.OrphanGraceMs - 1000L
    fs.setTimes(new org.apache.hadoop.fs.Path(s"$base/_staging-dead"), stale, stale)
    ManifestTable.mergeMany(spark, base, Seq(
      TableMerge("tt", Seq((1L, day1, 1.0)).toDF("id", "day", "v"), Seq("id"), "day")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/_staging-dead")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/_staging-fresh")))
    assert(ManifestTable.read(spark, s"$base/tt").count() == 1)
  }

  test("applyChangeFeed: deletes drop keys, highest version wins, re-insert resurrects") {
    val existing = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")
    val feed = Seq(
      (2L, "B", "update", 1L),   // plain update
      (3L, "x", "delete", 1L),   // delete v1 ...
      (3L, "C2", "insert", 2L),  // ... then re-insert v2: resurrects with new value
      (4L, "x", "update", 1L),
      (4L, "x", "delete", 2L),   // delete wins over the v1 update
      (5L, "E", "insert", 1L),   // brand-new key
      (9L, "x", "delete", 1L)    // delete of a key that never existed: no-op
    ).toDF("id", "v", "op", "version")
    val got = graft.ops.Merge.applyChangeFeed(existing, feed, Seq("id"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "C2"), (5L, "E")))
  }

  test("applyChangeFeed rejects unknown and NULL ops loudly instead of misapplying them") {
    // 'DELETE' (wrong case) would otherwise upsert its payload; a NULL
    // op would silently delete its key (null-propagating =!= drops it
    // from both branches).
    val existing = Seq((1L, "a")).toDF("id", "v")
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("|")
    Seq(Some("DELETE"), None).foreach { op =>
      val bad = Seq((1L, "x", op.orNull, 1L)).toDF("id", "v", "op", "version")
      val ex = intercept[Throwable] {
        graft.ops.Merge.applyChangeFeed(existing, bad, Seq("id")).collect()
      }
      assert(messages(ex).contains("applyChangeFeed"),
        s"op=$op should fail with the domain message, got: ${messages(ex)}")
    }
  }

  test("snapshotDiff classifies insert/delete/update/unchanged incl. null transitions") {
    val old = Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, None), (4L, Some(40.0)))
      .toDF("id", "v")
    val neu = Seq((1L, Some(10.0)), (2L, Some(25.0)), (3L, Some(30.0)), (5L, Some(50.0)))
      .toDF("id", "v")
    val got = Merge.snapshotDiff(old, neu, Seq("id"), Seq("v"))
      .orderBy("id").select("id", "change_type").as[(Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, "unchanged"),
      (2L, "update"),
      (3L, "update"),   // null -> value is a change, not a false unchanged
      (4L, "delete"),
      (5L, "insert")))
  }

  test("rangeJoinByDay equals the naive BETWEEN join and plans as an equi hash join") {
    val intervals = Seq(
      (100L, ts("2024-01-01"), ts("2024-01-03")),
      (200L, ts("2024-01-02"), ts("2024-01-02")), // 1-day window; overlaps 100
      (300L, ts("2024-02-01"), ts("2024-02-05"))  // no points
    ).toDF("iid", "lo", "hi")
    val points = Seq.tabulate(40)(i => (i.toLong, ts(f"2024-01-${i % 9 + 1}%02d")))
      .toDF("pid", "d")
    val got = Ops.rangeJoinByDay(points, "d", intervals, "iid", "lo", "hi")
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val naive = points.join(intervals, col("d") >= col("lo") && col("d") <= col("hi"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(got == naive && got.nonEmpty)
    // a point inside two overlapping intervals matches both
    assert(got.exists(_._2 == 100L) && got.exists(_._2 == 200L))
    val plan = Ops.rangeJoinByDay(points, "d", intervals, "iid", "lo", "hi")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join fell back to a nested-loop plan:\n$plan")
  }

  test("ManifestTable.deleteWhere: NULL-predicate rows kept, emptied partition dropped, " +
    "unmatched partition's file untouched, no-match op commits nothing") {
    import graft.ops.ManifestTable
    val path = java.nio.file.Files.createTempDirectory("graft-mt-delete").toString + "/t"
    val (d1, d2, d3) = (ts("2024-01-01"), ts("2024-01-02"), ts("2024-01-03"))
    val base = Seq(
      (1L, d1, Option(10.0)), (2L, d1, Option.empty[Double]), (3L, d1, Option(35.0)),
      (4L, d2, Option(20.0)), (5L, d2, Option(25.0)),
      (6L, d3, Option(5.0)), (7L, d3, Option(40.0))
    ).toDF("id", "day", "v")
    ManifestTable.merge(spark, path, base, Seq("id"), "day", retainVersions = 3)
    val day2FilesBefore = ManifestTable.read(spark, path,
      partitionFilter = _.startsWith("2024-01-02")).inputFiles.toSet

    val r = ManifestTable.deleteWhere(spark, path, "day",
      col("v") >= 30.0 || col("id") === 6L, retainVersions = 3)
    // ids 3, 7 match on v; id 6 matches on id; id 2's NULL predicate KEEPS it
    assert(r == ManifestTable.RowOpResult(rowsMatched = 3, partitionsRewritten = 1,
      partitionsDropped = 1, partitionsScanned = 3, partitionsTotal = 3, committed = true))
    val got = ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, Option[Double])].collect().toSeq
    assert(got == Seq((1L, Some(10.0)), (2L, None), (4L, Some(20.0)), (5L, Some(25.0))))
    // the unmatched partition (day2) was not rewritten: same physical file
    val day2FilesAfter = ManifestTable.read(spark, path,
      partitionFilter = _.startsWith("2024-01-02")).inputFiles.toSet
    assert(day2FilesAfter == day2FilesBefore)
    // time travel still reads the pre-delete snapshot
    assert(ManifestTable.readVersion(spark, path, 1L).count() == 7L)

    // partitionFilter is the replaceWhere window: v>=20 matches day2 rows,
    // but a day1-only window must not touch them — and finding no match
    // inside the window commits NOTHING (no version burned).
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versionsBefore = ManifestTable.versions(fs, path)
    val r2 = ManifestTable.deleteWhere(spark, path, "day", col("v") >= 20.0,
      partitionFilter = _.startsWith("2024-01-01"), retainVersions = 3)
    assert(!r2.committed && r2.rowsMatched == 0 && r2.partitionsScanned == 1)
    assert(ManifestTable.versions(fs, path) == versionsBefore)
    assert(ManifestTable.read(spark, path).count() == 4L)
  }

  test("ManifestTable.updateWhere: RHS sees the PRE-update row, NULL-predicate rows " +
    "unchanged, partition-column and unknown-column assignments refused") {
    import graft.ops.ManifestTable
    val path = java.nio.file.Files.createTempDirectory("graft-mt-update").toString + "/t"
    val (d1, d2) = (ts("2024-01-01"), ts("2024-01-02"))
    val base = Seq(
      (1L, d1, Option(20.0), 1.0), (2L, d1, Option.empty[Double], 2.0),
      (3L, d2, Option(5.0), 3.0)
    ).toDF("id", "day", "v", "w")
    ManifestTable.merge(spark, path, base, Seq("id"), "day", retainVersions = 3)
    val day2FilesBefore = ManifestTable.read(spark, path,
      partitionFilter = _.startsWith("2024-01-02")).inputFiles.toSet
    // v := v + w, w := v — if assignments applied sequentially, w would
    // see the NEW v (21.0); SQL UPDATE semantics require the old (20.0).
    val r = ManifestTable.updateWhere(spark, path, "day", col("v") >= 10.0,
      Map("v" -> (col("v") + col("w")), "w" -> col("v")), retainVersions = 3)
    assert(r == ManifestTable.RowOpResult(rowsMatched = 1, partitionsRewritten = 1,
      partitionsDropped = 0, partitionsScanned = 2, partitionsTotal = 2, committed = true))
    val got = ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v", "w").as[(Long, Option[Double], Double)].collect().toSeq
    assert(got == Seq((1L, Some(21.0), 20.0), (2L, None, 2.0), (3L, Some(5.0), 3.0)))
    assert(ManifestTable.read(spark, path,
      partitionFilter = _.startsWith("2024-01-02")).inputFiles.toSet == day2FilesBefore)
    intercept[IllegalArgumentException] {
      ManifestTable.updateWhere(spark, path, "day", lit(true), Map("day" -> lit(d2)))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.updateWhere(spark, path, "day", lit(true), Map("nope" -> lit(1.0)))
    }
  }

  test("Scd2.applyBatch: unchanged rows spawn no versions, changes close+reopen, " +
    "batch-absent keys untouched, non-advancing effectiveTs refused in-plan") {
    import graft.ops.Scd2
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val s1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "attr")
    val h1 = Scd2.applyBatch(Scd2.emptyHistory(s1), s1, Seq("id"), t("2024-01-01 00:00:00"))
    // batch 2: id 1 unchanged, id 2 changed, id 3 ABSENT, id 4 new
    val s2 = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "attr")
    val h2 = Scd2.applyBatch(h1, s2, Seq("id"), t("2024-02-01 00:00:00"))
    val got = h2.orderBy("id", "valid_from")
      .select("id", "attr", "valid_from", "valid_to")
      .as[(Long, String, java.sql.Timestamp, java.sql.Timestamp)].collect().toSeq
    assert(got == Seq(
      (1L, "a", t("2024-01-01 00:00:00"), Scd2.OpenEnd),  // no spurious version
      (2L, "b", t("2024-01-01 00:00:00"), t("2024-02-01 00:00:00")),
      (2L, "B", t("2024-02-01 00:00:00"), Scd2.OpenEnd),
      (3L, "c", t("2024-01-01 00:00:00"), Scd2.OpenEnd),  // absent from batch: kept
      (4L, "d", t("2024-02-01 00:00:00"), Scd2.OpenEnd)))
    // a batch whose effective ts does not advance past an open row it
    // would close must fail loudly, not write an empty interval
    val bad = Seq((2L, "B2")).toDF("id", "attr")
    val ex = intercept[Throwable] {
      Scd2.applyBatch(h2, bad, Seq("id"), t("2024-02-01 00:00:00")).collect()
    }
    def messages(th: Throwable): String =
      Iterator.iterate(th)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("|")
    assert(messages(ex).contains("does not advance"), messages(ex))
  }

  test("ManifestTable.mergeInto: delete/update/insert clause routing, untouched " +
    "partition's file identity, key/partition assignment refused") {
    import graft.ops.ManifestTable
    val path = java.nio.file.Files.createTempDirectory("graft-mt-mergeinto").toString + "/t"
    val (d1, d2) = (ts("2024-01-01"), ts("2024-01-02"))
    ManifestTable.merge(spark, path, Seq(
      (1L, d1, 10.0), (2L, d1, 20.0), (3L, d2, 30.0)
    ).toDF("id", "day", "v"), Seq("id"), "day")
    val day2Files = ManifestTable.read(spark, path,
      partitionFilter = _.startsWith("2024-01-02")).inputFiles.toSet
    val source = Seq(
      (1L, d1, 5.0),  // matched, src_v < 6 -> DELETE
      (2L, d1, 7.0),  // matched -> UPDATE v := src_v * 10
      (9L, d1, 9.0)   // unmatched -> INSERT as-is
    ).toDF("id", "day", "v")
    val r = ManifestTable.mergeInto(spark, path, source,
      keys = Seq("id"), partitionCol = "day",
      whenMatchedUpdate = Map("v" -> (col("src_v") * 10.0)),
      whenMatchedDelete = Some(col("src_v") < 6.0))
    assert(r == ManifestTable.MergeIntoResult(updated = 1, deleted = 1,
      inserted = 1, partitionsRewritten = 1))
    val got = ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq
    assert(got == Seq((2L, 70.0), (3L, 30.0), (9L, 9.0)))
    assert(ManifestTable.read(spark, path,
      partitionFilter = _.startsWith("2024-01-02")).inputFiles.toSet == day2Files)
    intercept[IllegalArgumentException] {
      ManifestTable.mergeInto(spark, path, source, Seq("id"), "day",
        whenMatchedUpdate = Map("id" -> lit(0L)))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.mergeInto(spark, path, source, Seq("id"), "day",
        whenMatchedUpdate = Map("day" -> lit(d2)))
    }
    // insertNotMatched = false: the unmatched source row is ignored
    val r2 = ManifestTable.mergeInto(spark, path,
      Seq((11L, d1, 1.0)).toDF("id", "day", "v"), Seq("id"), "day",
      insertNotMatched = false)
    assert(r2.inserted == 0 && ManifestTable.read(spark, path).count() == 3)
    // duplicate source keys fan the join out — refused loudly
    val dupEx = intercept[IllegalArgumentException] {
      ManifestTable.mergeInto(spark, path,
        Seq((2L, d1, 1.0), (2L, d1, 2.0)).toDF("id", "day", "v"), Seq("id"), "day")
    }
    assert(dupEx.getMessage.contains("duplicate key"))
  }

  test("IncrementalJoin: fact commits rewrite their own partitions, dim changes narrow " +
    "to key-bearing partitions via the CDF, no-op commits nothing") {
    import graft.ops.{IncrementalJoin, ManifestTable}
    val base = java.nio.file.Files.createTempDirectory("graft-inc-join").toString
    val (fp, dp, vp) = (s"$base/f", s"$base/d", s"$base/v")
    val (d1, d2) = (ts("2024-01-01"), ts("2024-01-02"))
    // users 10/20 appear only on day1, user 30 only on day2
    ManifestTable.merge(spark, fp, Seq(
      (1L, d1, 10L, 1.0), (2L, d1, 20L, 2.0), (3L, d2, 30L, 3.0)
    ).toDF("id", "day", "uid", "v"), Seq("id"), "day", retainVersions = 3)
    ManifestTable.merge(spark, dp, Seq(
      (10L, "a", 0L), (20L, "b", 0L), (30L, "c", 1L)
    ).toDF("uid", "name", "ub"), Seq("uid"), "ub", retainVersions = 3)
    def refresh() = IncrementalJoin.refresh(spark, fp, dp, vp,
      factKeys = Seq("id"), joinKey = "uid", factPartitionCol = "day",
      retainVersions = 3)
    val r1 = refresh()
    assert(r1.full && r1.committed && r1.partitionsRewritten == 2)
    assert(refresh() == IncrementalJoin.RefreshResult(0, full = false, committed = false))
    val day2Files = ManifestTable.read(spark, vp,
      partitionFilter = _.startsWith("2024-01-02")).inputFiles.toSet
    // dim update touching only user 10 (bucket "a" rewrites alongside
    // nothing else) -> only day1 holds uid 10 -> only day1 rewrites
    ManifestTable.merge(spark, dp, Seq((10L, "A2", 0L)).toDF("uid", "name", "ub"),
      Seq("uid"), "ub", retainVersions = 3)
    val r3 = refresh()
    assert(!r3.full && r3.partitionsRewritten == 1)
    assert(ManifestTable.read(spark, vp,
      partitionFilter = _.startsWith("2024-01-02")).inputFiles.toSet == day2Files)
    val got = IncrementalJoin.read(spark, vp).orderBy("id")
      .select("id", "name").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "A2"), (2L, "b"), (3L, "c")))
  }

  test("ManifestTable bloom dir-index: present value's dir always survives (no false " +
    "negative), absent value prunes bloom'd dirs, an unbloom'd dir is always read") {
    import graft.ops.ManifestTable
    val path = java.nio.file.Files.createTempDirectory("graft-mt-bloom").toString + "/t"
    val (d1, d2, d3) = (ts("2024-01-01"), ts("2024-01-02"), ts("2024-01-03"))
    ManifestTable.merge(spark, path,
      Seq((1L, d1, 10.0), (2L, d1, 20.0), (3L, d2, 30.0), (4L, d2, 40.0))
        .toDF("id", "day", "v"),
      Seq("id"), "day", bloomColumns = Seq("id"), bloomBits = 4096)
    // present id: its dir must survive and the row must be found
    val hit = ManifestTable.readSkippingEquals(spark, path, "id", "3")
    assert(hit.df.filter(col("id") === 3L).count() == 1L)
    assert(hit.dirsScanned >= 1 && hit.dirsTotal == 2)
    // absent id: both bloom'd dirs prune (deterministic for fixed
    // hashes/data — md5 positions of "99" miss the 8 set bits)
    val miss = ManifestTable.readSkippingEquals(spark, path, "id", "99")
    assert(miss.dirsScanned == 0 && miss.df.count() == 0)
    // a later merge WITHOUT bloomColumns adds day3: no filter recorded
    // there -> always read, while day1/day2 keep their carried-forward
    // filters and still prune
    ManifestTable.merge(spark, path, Seq((5L, d3, 50.0)).toDF("id", "day", "v"),
      Seq("id"), "day")
    val mixed = ManifestTable.readSkippingEquals(spark, path, "id", "99")
    assert(mixed.dirsScanned == 1 && mixed.dirsTotal == 3)
    assert(mixed.df.select("id").as[Long].collect().toSet == Set(5L))
  }

  test("ManifestTable.applyChanges: version LWW within a batch, delete-only partition " +
    "dropped, unknown-key delete is a no-op, table created on first call") {
    import graft.ops.ManifestTable
    val path = java.nio.file.Files.createTempDirectory("graft-mt-cdc-apply").toString + "/t"
    val (d1, d2) = (ts("2024-01-01"), ts("2024-01-02"))
    // first call creates the table from the feed payload schema
    ManifestTable.applyChanges(spark, path, Seq(
      (1L, d1, 10.0, "insert", 1L), (2L, d1, 20.0, "insert", 1L),
      (3L, d2, 30.0, "insert", 1L)
    ).toDF("id", "day", "v", "op", "version"), Seq("id"), "day")
    assert(ManifestTable.read(spark, path).count() == 3L)
    // one batch: key 2 gets update v2 THEN delete v3 (highest version
    // wins -> deleted); key 9 never existed (delete no-op); key 3's
    // delete empties day2 wholesale -> partition dropped
    ManifestTable.applyChanges(spark, path, Seq(
      (2L, d1, 99.0, "update", 2L), (2L, d1, 99.0, "delete", 3L),
      (9L, d1, 0.0, "delete", 2L),
      (3L, d2, 0.0, "delete", 2L)
    ).toDF("id", "day", "v", "op", "version"), Seq("id"), "day")
    val got = ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10.0)))
    // day2 is gone from the manifest entirely
    val e = intercept[IllegalArgumentException] {
      ManifestTable.read(spark, path, partitionFilter = _.startsWith("2024-01-02"))
    }
    assert(e.getMessage.contains("no partition"))
  }

  test("ManifestTable.changes: per-commit insert/update-pair/delete classification; " +
    "identical rewritten rows emit nothing; missing intermediate version refused") {
    import graft.ops.ManifestTable
    val path = java.nio.file.Files.createTempDirectory("graft-mt-cdf").toString + "/t"
    val (d1, d2) = (ts("2024-01-01"), ts("2024-01-02"))
    ManifestTable.merge(spark, path, Seq(
      (1L, d1, 10.0), (2L, d1, 20.0), (3L, d2, 30.0), (4L, d2, 40.0)
    ).toDF("id", "day", "v"), Seq("id"), "day", retainVersions = 4)
    // v2: id 2 rewrites with the SAME value (its partition still rewrote),
    // id 1 changes, id 5 is new — all in day1; day2 untouched.
    ManifestTable.merge(spark, path, Seq(
      (1L, d1, 11.0), (2L, d1, 20.0), (5L, d1, 50.0)
    ).toDF("id", "day", "v"), Seq("id"), "day", retainVersions = 4)
    // v3: delete id 3 (day2 rewrites) and id 5 (day1 rewrites)
    ManifestTable.deleteWhere(spark, path, "day", col("id").isin(3L, 5L),
      retainVersions = 4)
    val feed = ManifestTable.changes(spark, path, Seq("id"), 1L, 3L)
      .orderBy("_commit_version", "id", "_change_type")
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Long, Double, String, Long)].collect().toSeq
    assert(feed == Seq(
      (1L, 11.0, "update_postimage", 2L), // "_post" sorts before "_pre"
      (1L, 10.0, "update_preimage", 2L),
      (5L, 50.0, "insert", 2L),
      (3L, 30.0, "delete", 3L),
      (5L, 50.0, "delete", 3L)))
    // replaying the feed over the v1 snapshot reproduces the v3 table
    val replayed = graft.ops.Merge.applyChangeFeed(
      ManifestTable.readVersion(spark, path, 1L),
      ManifestTable.changes(spark, path, Seq("id"), 1L, 3L)
        .filter(col("_change_type") =!= "update_preimage")
        .withColumn("op", when(col("_change_type") === "delete", "delete")
          .otherwise("update"))
        .withColumnRenamed("_commit_version", "version")
        .drop("_change_type"),
      Seq("id"))
    assert(replayed.orderBy("id").select("id", "v").as[(Long, Double)].collect().toSeq ==
      ManifestTable.read(spark, path).orderBy("id").select("id", "v")
        .as[(Long, Double)].collect().toSeq)
    val e = intercept[IllegalArgumentException] {
      ManifestTable.changes(spark, path, Seq("id"), 0L, 3L)
    }
    assert(e.getMessage.contains("retained"))
    // a props-only commit (no partition changed) contributes an EMPTY
    // step — the feed through it equals the feed up to it
    val schema = ManifestTable.read(spark, path).schema
    ManifestTable.merge(spark, path,
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], schema),
      Seq("id"), "day", replaceTouched = true,
      knownTouched = Some(Set.empty), props = Map("marker" -> "v4"),
      retainVersions = 5)
    assert(ManifestTable.changes(spark, path, Seq("id"), 1L, 4L).count() ==
      ManifestTable.changes(spark, path, Seq("id"), 1L, 3L).count())
  }

  test("ManifestTable.compact: bin-packs small dirs into one shared dir with zero " +
    "logical change; filtered reads, time travel, fastCount, props all survive") {
    import graft.ops.ManifestTable
    val path = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    // 6 daily partitions, 2 keys each, with stats so per-entry rowcounts exist
    val rows = (1 to 12).map(i => (i.toLong, ts(f"2024-01-${(i - 1) / 2 + 1}%02d"), i * 10.0))
    ManifestTable.merge(spark, path, rows.toDF("id", "day", "v"), Seq("id"), "day",
      statsColumns = Seq("v"), props = Map("wm" -> "7"), retainVersions = 5)
    val before = ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq

    val r = ManifestTable.compact(spark, path, "day",
      targetBytes = Long.MaxValue, retainVersions = 5)
    assert(r.committed && r.binsWritten == 1L && r.dirsAfter == 1L &&
      r.entriesCompacted == 6L && r.dirsBefore == 6L)
    // zero logical change
    assert(ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq == before)
    // a filtered read selecting a strict SUBSET of the shared dir's
    // keys is row-filtered, not dir-granular
    assert(ManifestTable.read(spark, path, _.startsWith("2024-01-01"))
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    // compaction burned one version; the pre-compact snapshot time-travels
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(ManifestTable.versions(fs, path) == Seq(1L, 2L))
    assert(ManifestTable.readVersion(spark, path, 1L).count() == 12L)
    // table properties carried forward verbatim (transactional
    // watermarks) — plus the writer-zone certificate the timestamp
    // partition key stamps (r19, ManifestTable.PartitionTzProp)
    assert(ManifestTable.readProps(spark, path) ==
      Map("wm" -> "7", ManifestTable.PartitionTzProp -> "UTC"))
    // per-entry rowcounts carried: fastCount stays metadata-only and
    // exact, including over a subset of the shared dir's keys
    val c = ManifestTable.fastCount(spark, path, _.startsWith("2024-01-01"))
    assert(c.metadataOnly && c.rows == 2L)
    // stats carried per-key: zone-map skipping over the shared dir
    // scans it once and stays a lossless superset
    val sk = ManifestTable.readSkipping(spark, path, "v", BigDecimal(110), BigDecimal(999))
    assert(sk.dirsScanned == 1L && sk.dirsTotal == 6L)
    assert(sk.df.filter(col("v") >= 110).count() == 2L)
    // a second compact finds a single unit — no-op, no version burned
    val r2 = ManifestTable.compact(spark, path, "day",
      targetBytes = Long.MaxValue, retainVersions = 5)
    assert(!r2.committed && ManifestTable.versions(fs, path) == Seq(1L, 2L))
    // nothing packs when every dir is already at/above target
    val r3 = ManifestTable.compact(spark, path, "day", targetBytes = 1L,
      retainVersions = 5)
    assert(!r3.committed)
  }

  test("ManifestTable.compact: post-compact merge/delete/change-feed stay exact " +
    "(shared dir is row-filtered, never leaked or double-read)") {
    import graft.ops.ManifestTable
    val path = java.nio.file.Files.createTempDirectory("graft-compact2").toString + "/t"
    val rows = (1 to 12).map(i => (i.toLong, ts(f"2024-01-${(i - 1) / 2 + 1}%02d"), i * 10.0))
    ManifestTable.merge(spark, path, rows.toDF("id", "day", "v"), Seq("id"), "day",
      retainVersions = 9)
    assert(ManifestTable.compact(spark, path, "day", targetBytes = Long.MaxValue,
      retainVersions = 9).committed) // v2
    // the compaction commit is logically SILENT in the change feed
    assert(ManifestTable.changes(spark, path, Seq("id"), 1L, 2L).count() == 0L)

    // merge updates key 3 (day 2): planMerge must read ONLY day 2's
    // rows out of the shared dir — other days' keys must neither leak
    // into day 2's new dir nor vanish
    ManifestTable.merge(spark, path,
      Seq((3L, ts("2024-01-02"), 999.0)).toDF("id", "day", "v"),
      Seq("id"), "day", retainVersions = 9) // v3
    val after = ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq
    assert(after == (1 to 12).map(i => (i.toLong, if (i == 3) 999.0 else i * 10.0)))
    // the merge step's feed: pre+post for key 3 only — the shared
    // dir's OTHER keys are not phantom deletes
    val cf = ManifestTable.changes(spark, path, Seq("id"), 2L, 3L)
      .select("id", "_change_type").as[(Long, String)].collect().toSeq.sorted
    assert(cf == Seq((3L, "update_postimage"), (3L, "update_preimage")))

    // deleteWhere through the shared dir: only day 3 (keys 5, 6) is
    // touched; key 5 deletes, key 6 survives, every other day intact
    val del = ManifestTable.deleteWhere(spark, path, "day", col("id") === 5L,
      retainVersions = 9)
    assert(del.rowsMatched == 1L && del.partitionsRewritten == 1L)
    assert(ManifestTable.read(spark, path).count() == 11L)
    assert(ManifestTable.read(spark, path, _.startsWith("2024-01-03"))
      .select("id").as[Long].collect().toSet == Set(6L))

    // updateWhere through the shared dir: key 8 (day 4) doubles; the
    // other shared keys are untouched
    val upd = ManifestTable.updateWhere(spark, path, "day", col("id") === 8L,
      Map("v" -> (col("v") * 2)), retainVersions = 9)
    assert(upd.rowsMatched == 1L)
    val vs = ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toMap
    assert(vs(8L) == 160.0 && vs(7L) == 70.0 && vs.size == 11)
  }

  test("IncrementalAgg: a compaction commit on the base folds a ZERO delta " +
    "(no double-count through shared dirs)") {
    import graft.ops.{IncrementalAgg, ManifestTable}
    val base = java.nio.file.Files.createTempDirectory("graft-compact3").toString
    val basePath = base + "/base"
    val aggPath = base + "/agg"
    val rows = (1 to 12).map(i => (i.toLong, ts(f"2024-01-${(i - 1) / 2 + 1}%02d"),
      (i % 3).toString, i.toLong * 10))
    ManifestTable.merge(spark, basePath, rows.toDF("id", "day", "g", "x"),
      Seq("id"), "day", retainVersions = 9)
    IncrementalAgg.refresh(spark, basePath, aggPath, Seq("g"), Seq("x"),
      retainVersions = 9)
    val want = IncrementalAgg.read(spark, aggPath).orderBy("g")
      .select("g", "n", "sum_x").as[(String, Long, Long)].collect().toSeq
    // compact the base, then refresh: the diff sees every partition's
    // dir change, reads both sides through the keyed filter, and must
    // net to zero
    assert(ManifestTable.compact(spark, basePath, "day",
      targetBytes = Long.MaxValue, retainVersions = 9).committed)
    IncrementalAgg.refresh(spark, basePath, aggPath, Seq("g"), Seq("x"),
      retainVersions = 9)
    assert(IncrementalAgg.read(spark, aggPath).orderBy("g")
      .select("g", "n", "sum_x").as[(String, Long, Long)].collect().toSeq == want)
    // a real post-compact batch still folds incrementally and exactly:
    // key 13 lands in day 1 (rewriting it OUT of the shared dir)
    ManifestTable.merge(spark, basePath,
      Seq((13L, ts("2024-01-01"), "0", 130L)).toDF("id", "day", "g", "x"),
      Seq("id"), "day", retainVersions = 9)
    IncrementalAgg.refresh(spark, basePath, aggPath, Seq("g"), Seq("x"),
      retainVersions = 9)
    val got = IncrementalAgg.read(spark, aggPath).orderBy("g")
      .select("g", "n", "sum_x").as[(String, Long, Long)].collect().toSeq
    val wantFull = rows.map(r => (r._3, r._4)).++(Seq(("0", 130L)))
      .groupBy(_._1).map { case (g, xs) => (g, xs.size.toLong, xs.map(_._2).sum) }
      .toSeq.sortBy(_._1)
    assert(got == wantFull)
  }

  test("ManifestTable.withCommitRetry: racing writers on disjoint partitions all " +
    "land under any interleaving; conflicts retry, other failures don't") {
    import graft.ops.ManifestTable
    val path = java.nio.file.Files.createTempDirectory("graft-occ").toString + "/t"
    ManifestTable.merge(spark, path,
      Seq((1L, ts("2024-01-01"), 1.0)).toDF("id", "day", "v"),
      Seq("id"), "day", retainVersions = 9)
    val n = 4
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val futures = (2 to n + 1).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            barrier.await()
            ManifestTable.withCommitRetry() {
              ManifestTable.merge(spark, path,
                Seq((i.toLong, ts(f"2024-01-$i%02d"), i * 1.0)).toDF("id", "day", "v"),
                Seq("id"), "day", retainVersions = 9)
            }
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    // every writer's batch landed exactly once, whatever the schedule
    assert(ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq ==
      (1 to n + 1).map(i => (i.toLong, i * 1.0)))
    // each commit bumped the head exactly once: the initial load plus
    // one per writer — v(n+1) exists, v(n+2) does not
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(ManifestTable.versions(fs, path) == (1L to (n + 1).toLong))
    // a conflict that never resolves rethrows after maxAttempts tries
    var conflictCalls = 0
    intercept[ManifestTable.CommitConflictException] {
      ManifestTable.withCommitRetry(maxAttempts = 3) {
        conflictCalls += 1
        throw ManifestTable.CommitConflictException("synthetic")
      }
    }
    assert(conflictCalls == 3)
    // non-conflict failures are NOT retried
    var otherCalls = 0
    intercept[IllegalArgumentException] {
      ManifestTable.withCommitRetry(maxAttempts = 3) {
        otherCalls += 1
        throw new IllegalArgumentException("not a race")
      }
    }
    assert(otherCalls == 1)
  }

  test("ManifestTable.deepClone: independent trees — source expiry/delete cannot " +
    "touch clone files; cloning onto an existing table is refused") {
    import graft.ops.ManifestTable
    val base = java.nio.file.Files.createTempDirectory("graft-clone").toString
    val src = base + "/src"
    val dst = base + "/dst"
    val rows = (1 to 6).map(i => (i.toLong, ts(f"2024-01-0${(i - 1) / 2 + 1}%01d"), i * 1.0))
    ManifestTable.merge(spark, src, rows.toDF("id", "day", "v"), Seq("id"), "day",
      statsColumns = Seq("v"))
    val cr = ManifestTable.deepClone(spark, src, dst)
    assert(cr.dirsCopied == 3L && cr.bytesCopied > 0L)
    // carried stats: the clone fastCounts metadata-only immediately
    val fc = ManifestTable.fastCount(spark, dst)
    assert(fc.metadataOnly && fc.rows == 6L)
    // source deletes a day + expires history; clone is untouched
    ManifestTable.deleteWhere(spark, src, "day", col("day") === ts("2024-01-01"))
    ManifestTable.expireVersions(spark, src, keepLast = 1)
    assert(ManifestTable.read(spark, src).count() == 4L)
    assert(ManifestTable.read(spark, dst).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq ==
      (1 to 6).map(i => (i.toLong, i * 1.0)))
    // refuse to clone onto an existing table
    val e = intercept[RuntimeException] {
      ManifestTable.deepClone(spark, src, dst)
    }
    assert(e.getMessage.contains("refusing to overwrite"))
  }

  test("ManifestTable.repartitionTable: one-commit layout change — new-key pruning " +
    "works, old keys gone, prior version time-travels under the old layout") {
    import graft.ops.ManifestTable
    val path = java.nio.file.Files.createTempDirectory("graft-respec").toString + "/t"
    val rows = (1 to 12).map(i => (i.toLong, ts(f"2024-01-${(i - 1) / 4 + 1}%02d"), i * 1.0))
    ManifestTable.merge(spark, path, rows.toDF("id", "day", "v"), Seq("id"), "day",
      retainVersions = 3)
    ManifestTable.repartitionTable(spark, path, "bucket",
      derive = Some(col("id") % 3), retainVersions = 3)
    // logical content unchanged, new derived column present
    assert(ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq ==
      (1 to 12).map(i => (i.toLong, i * 1.0)))
    // dir-level pruning by the NEW key
    assert(ManifestTable.read(spark, path, _ == "1")
      .select("id").as[Long].collect().toSet == Set(1L, 4L, 7L, 10L))
    // old day keys are gone from the live manifest (a day filter
    // matches nothing and fails the no-partition guard loudly)
    val e = intercept[RuntimeException] {
      ManifestTable.read(spark, path, _.startsWith("2024-01-01"))
    }
    assert(e.getMessage.contains("no partition"))
    // the pre-respec version still reads under the OLD layout
    assert(ManifestTable.readVersion(spark, path, 1L,
      _.startsWith("2024-01-01")).count() == 4L)
    // guards: derive for an existing column / missing column refused
    intercept[IllegalArgumentException] {
      ManifestTable.repartitionTable(spark, path, "bucket",
        derive = Some(col("id") % 5))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.repartitionTable(spark, path, "nope")
    }
  }

  test("ManifestTable.maybeCompact: O(1) no-op while healthy, compacts past the " +
    "dir threshold; sortWithinBins clusters the bin file") {
    import graft.ops.ManifestTable
    val path = java.nio.file.Files.createTempDirectory("graft-maybec").toString + "/t"
    val rows = (1 to 12).map(i => (i.toLong, ts(f"2024-01-${(i - 1) / 2 + 1}%02d"), 13.0 - i))
    ManifestTable.merge(spark, path, rows.toDF("id", "day", "v"), Seq("id"), "day",
      retainVersions = 5)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // healthy: 6 dirs <= maxDirs -> None, no version burned
    assert(ManifestTable.maybeCompact(spark, path, "day", maxDirs = 10,
      targetBytes = Long.MaxValue, retainVersions = 5).isEmpty)
    assert(ManifestTable.versions(fs, path) == Seq(1L))
    // past the threshold: compacts, clustered by v within the bin
    val r = ManifestTable.maybeCompact(spark, path, "day", maxDirs = 3,
      targetBytes = Long.MaxValue, retainVersions = 5,
      sortWithinBins = Seq("v"))
    assert(r.exists(_.committed) && ManifestTable.versions(fs, path) == Seq(1L, 2L))
    // the single bin file is physically sorted by v (clustering): the
    // file-order read returns ascending v (ids 12..1)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/data"))
      .filter(_.getPath.getName.startsWith("compact-"))
    assert(dirs.length == 1)
    val vOrder = spark.read
      .parquet(s"$path/data/${dirs.head.getPath.getName}/__bin=0")
      .select("v").as[Double].collect().toSeq
    assert(vOrder == vOrder.sorted)
    // and the logical table is unchanged
    assert(ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq ==
      rows.map(r => (r._1, r._3)))
  }

  test("ManifestTable: an EMPTY batch under bloomColumns commits cleanly (a " +
    "wholesale partition drop has no files to bloom-index)") {
    import graft.ops.ManifestTable
    val path = java.nio.file.Files.createTempDirectory("graft-emptybloom").toString + "/t"
    val rows = Seq((1L, ts("2024-01-01"), 1.0), (2L, ts("2024-01-02"), 2.0))
    ManifestTable.merge(spark, path, rows.toDF("id", "day", "v"), Seq("id"), "day",
      bloomColumns = Seq("id"))
    // delete EVERY row of day 1: the rewrite batch is empty — the
    // bloom build used to read the file-less batch dir and die with
    // UNABLE_TO_INFER_SCHEMA
    val r = ManifestTable.deleteWhere(spark, path, "day", col("id") === 1L,
      bloomColumns = Seq("id"))
    assert(r.committed && r.partitionsDropped == 1L)
    assert(ManifestTable.read(spark, path).select("id").as[Long].collect().toSeq ==
      Seq(2L))
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
}
