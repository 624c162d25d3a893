package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{RecordGenerator, TransactionalJdbcSink}
import graft.schema.SchemaBridge
import graft.streaming.{DocRecord, FunnelEvent, FunnelProgress, KeyedEvent, NearDupPair, StreamMinhash, StreamOps, StreamingPipeline}
import graft.TempDirs.withTempDir

/** Streaming-layer tests (SURVEY §2.3.9, §5.2): watermarked windows with
  * late-data drop, session windows, stream dedup, explicit keyed state, and
  * the end-to-end exactly-once restart drill (README.md:242-276 as a test).
  * No DuckDB oracle exists for streaming — golden assertions (SURVEY §7). */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  /** Run to a memory sink, processing each feed step as its own micro-batch
    * (watermarks only advance at batch boundaries). */
  private def runToMemory(df: DataFrame, name: String, mode: String = "append")
      (feeds: (() => Unit)*): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try feeds.foreach { f => f(); q.processAllAvailable() } finally q.stop()
    spark.table(name)
  }

  // ------------------------------------------------- event-time windows

  test("tumbling window aggregates by event time and drops late rows") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamOps.tumblingAgg(
      in.toDF().toDF("ts", "k", "v"), "ts", watermark = "5 minutes", width = "10 minutes",
      keys = Seq(col("k")), aggs = Seq(count("*").as("n"), round(sum("v"), 2).as("sv")))

    val out = runToMemory(agg, "tumbling")(
      () => in.addData((ts(1), "a", 1.0), (ts(4), "a", 2.0), (ts(11), "b", 3.0)),
      // advance watermark far past the first window so it finalizes...
      () => in.addData((ts(40), "a", 9.0)),
      // ...then a VERY late row for the closed 10:00 window: must be dropped
      () => in.addData((ts(2), "a", 100.0)))
    val rows = out.select(col("window.start"), col("k"), col("n"), col("sv"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows.contains((ts(0), "a", 2L, 3.0)))   // late row NOT counted
    assert(rows.contains((ts(10), "b", 1L, 3.0)))
    assert(!rows.exists { case (_, k, _, sv) => k == "a" && sv == 103.0 })
  }

  test("sliding window assigns events to every overlapping window") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamOps.slidingAgg(
      in.toDF().toDF("ts", "k", "v"), "ts", watermark = "5 minutes",
      width = "10 minutes", slide = "5 minutes",
      keys = Seq(col("k")), aggs = Seq(count("*").as("n")))

    val out = runToMemory(agg, "sliding")(
      () => in.addData((ts(7), "a", 1.0)),   // belongs to [10:00,10:10) and [10:05,10:15)
      () => in.addData((ts(40), "z", 0.0)))  // advance watermark, finalize
    val wins = out.filter(col("k") === "a")
      .select(col("window.start")).collect().map(_.getTimestamp(0)).toSet
    assert(wins == Set(ts(0), ts(5)), s"wrong window assignment: $wins")
  }

  test("session window groups by gap, closes after inactivity") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamOps.sessionAgg(
      in.toDF().toDF("ts", "k", "v"), "ts", watermark = "5 minutes", gap = "5 minutes",
      keys = Seq(col("k")), aggs = Seq(count("*").as("n")))

    val out = runToMemory(agg, "sessions")(
      // k=a: events at 10:01, 10:03 (one session), then 10:20 (new session)
      () => in.addData((ts(1), "a", 1.0), (ts(3), "a", 1.0), (ts(20), "a", 1.0)),
      () => in.addData((ts(50), "z", 0.0))) // push watermark so sessions finalize
    val sessions = out.filter(col("k") === "a")
      .select(col("session_window.start"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    assert(sessions == Set((ts(1), 2L), (ts(20), 1L)))
  }

  test("dropDuplicatesWithinWatermark removes id-dupes across timestamps") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val in = MemoryStream[(Timestamp, String, Double)]
    val dd = StreamOps.dedupWithinWatermark(
      in.toDF().toDF("ts", "id", "v"), "ts", watermark = "10 minutes", keys = Seq("id"))

    val out = runToMemory(dd, "dedup")(
      () => in.addData((ts(1), "x", 1.0), (ts(2), "x", 2.0), (ts(3), "y", 3.0)),
      () => in.addData((ts(4), "x", 4.0)))
    val ids = out.select("id", "v").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(ids.sorted == Seq(("x", 1.0), ("y", 3.0))) // first-writer-wins
  }

  test("dedupByContent drops later copies of identical text, keeps distinct text") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val in = MemoryStream[(Timestamp, Long, String)]
    val dd = StreamOps.dedupByContent(
      in.toDF().toDF("ts", "doc_id", "text"), "ts", watermark = "10 minutes")

    val out = runToMemory(dd, "content_dedup")(
      () => in.addData((ts(1), 1L, "same words here"), (ts(2), 2L, "same words here"),
        (ts(3), 3L, "different entirely"), (ts(3), 5L, null)),
      () => in.addData((ts(4), 4L, "same words here"), (ts(4), 6L, null)))
    assert(out.columns.toSeq == Seq("ts", "doc_id", "text"), "schema must equal input")
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    // first copy of each content; BOTH null-text rows pass through un-deduped
    assert(kept == Seq(1L, 3L, 5L, 6L), s"got $kept")
  }

  test("runningPerKey keeps per-key state across micro-batches") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    // each inner Seq is one micro-batch; the last update per key wins
    def lastPerKey(name: String, batches: Seq[KeyedEvent]*): Set[(String, Long, Double)] = {
      val in = MemoryStream[KeyedEvent]
      val q = StreamOps.runningPerKey(in.toDS()).toDF()
        .writeStream.format("memory").queryName(name).outputMode("update").start()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).groupBy("key")
        .agg(max("count").as("c"), max("sum").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    }
    // a has seen 3 events (sum 7), b one (sum 10)
    assert(lastPerKey("running",
      Seq(KeyedEvent("a", ts(1), 1.0), KeyedEvent("a", ts(2), 2.0)),
      Seq(KeyedEvent("a", ts(3), 4.0), KeyedEvent("b", ts(3), 10.0))) ==
      Set(("a", 3L, 7.0), ("b", 1L, 10.0)))
    // a key in both batches (b), and a key first seen in the second (c)
    assert(lastPerKey("running2",
      Seq(KeyedEvent("a", ts(1), 1.0), KeyedEvent("a", ts(2), 2.0),
        KeyedEvent("b", ts(1), 10.0)),
      Seq(KeyedEvent("a", ts(3), 4.0), KeyedEvent("b", ts(3), 10.0),
        KeyedEvent("c", ts(4), 7.0))) ==
      Set(("a", 3L, 7.0), ("b", 2L, 20.0), ("c", 1L, 7.0)))
  }

  test("semDedupStream replays batch q152 verdicts exactly under in-order delivery") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val sfDir = "/root/testdata/sf0.001"
    // the frozen coarse quantizer: the same √n-stride centroids the batch
    // lane derives (trained "offline" here by reading the fixture once)
    val all = graft.Tables(sp, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => graft.streaming.EmbRecord(r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_.vec_id)
    val stride = math.max(2L, math.round(math.sqrt(all.size.toDouble)))
    val cents = all.filter(_.vec_id % stride == 0)
      .map(r => r.vec_id -> r.embedding.map(_.toDouble).toArray).toSeq
    val in = MemoryStream[graft.streaming.EmbRecord]
    val out = StreamOps.semDedupStream(in.toDS(), cents,
      graft.operators.Dedup.SemMemberCap, graft.operators.Dedup.SemDupTau)
    // three in-order micro-batches: verdicts must not depend on where the
    // batch boundaries land
    val (b1, rest) = all.splitAt(all.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 3)
    val got = runToMemory(out.toDF(), "semdedup")(
      () => in.addData(b1), () => in.addData(b2), () => in.addData(b3))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    val want = graft.operators.Dedup.q152SemDedup(sp, sfDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got.size == all.length)
    assert(got == want, {
      val diff = want.collect { case (k, v) if got.get(k) != Some(v) =>
        s"$k: batch $v vs stream ${got.get(k)}" }.take(5)
      s"stream/batch verdict mismatch: ${diff.mkString("; ")}"
    })
  }

  test("nbScoreStream scores arriving docs EXACTLY like batch q169 " +
      "(frozen model DEPLOYED FROM THE PERSISTED ARTIFACT, stateless, " +
      "batch-boundary independent)") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val docsTbl = graft.Tables(sp, sfDir, "documents")
    // the frozen classifier: trained "offline", PERSISTED, then loaded the
    // way an ingest job deploys it (r19 Next #3 — the artifact half); the
    // loaded model must equal the in-session one field-for-field
    withTempDir("graft_nb_stream_spec") { nbDir =>
      val path = nbDir.toString
      graft.operators.Classifier.writeModel(sp, docsTbl, path)
      val model = graft.operators.Classifier.loadModel(sp, path)
      assert(model == graft.operators.Classifier.trainModel(docsTbl),
        "artifact-loaded model diverged from the in-session trainer")
      assert(model.loq.nonEmpty && model.oovLoq != 0L)
      val all = docsTbl.select(col("doc_id"), col("text")).collect()
        .map(r => graft.streaming.DocRecord(r.getLong(0), r.getString(1)))
        .sortBy(_.doc_id)
      val in = MemoryStream[graft.streaming.DocRecord]
      val out = StreamOps.nbScoreStream(in.toDS(), model)
      // two micro-batches: scoring is stateless so the split cannot matter,
      // and a doc arriving in batch 2 must score identically to batch 1
      val (b1, b2) = all.splitAt(all.length / 2)
      val got = runToMemory(out, "nbscore")(
        () => in.addData(b1), () => in.addData(b2))
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val want = graft.operators.Classifier.nbQualityClassifier(docsTbl)
        .select("doc_id", "n_tokens", "score_micronats", "pred").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      GraftSession.releasePersisted(sp)
      assert(got.size == want.size, s"stream ${got.size} docs vs batch ${want.size}")
      assert(got == want, {
        val diff = want.collect { case (k, v) if got.get(k) != Some(v) =>
          s"$k: batch $v vs stream ${got.get(k)}" }.take(5)
        s"stream/batch score mismatch: ${diff.mkString("; ")}"
      })
    }
  }

  test("semDedupStream: NaN similarity (degenerate zero embedding) matches batch SQL semantics") {
    // r15 ADVICE #1: the batch lane's `sim >= tau` and the DuckDB oracle
    // both evaluate TRUE for NaN (SQL orders NaN above every double), so a
    // zero embedding normalizing to NaN must get is_dup=true in the
    // streaming twin too. First pin the premise against the engine itself:
    assert(spark.sql(s"SELECT double('NaN') >= ${graft.operators.Dedup.SemDupTau}")
      .collect()(0).getBoolean(0), "Spark SQL must order NaN above tau")
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    // two zero vectors: both miss every centroid (cos = NaN never beats
    // -inf, cluster -1), normalize to NaN arrays, and their pairwise dot is
    // NaN — the second must dup onto the first, as batch would verdict
    val cents = Seq(0L -> Array(1.0, 0.0, 0.0, 0.0))
    val z1 = graft.streaming.EmbRecord(10L, Seq(0f, 0f, 0f, 0f))
    val z2 = graft.streaming.EmbRecord(11L, Seq(0f, 0f, 0f, 0f))
    val in = MemoryStream[graft.streaming.EmbRecord]
    val out = StreamOps.semDedupStream(in.toDS(), cents,
      graft.operators.Dedup.SemMemberCap, graft.operators.Dedup.SemDupTau)
    val got = runToMemory(out.toDF(), "semdedupnan")(() => in.addData(Seq(z1, z2)))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(10L) == ((-1L, false)), "first arrival is the survivor")
    assert(got(11L) == ((10L, true)),
      "NaN sim must count as >= tau (batch/oracle parity), dup onto the min id")
  }

  test("semDedupStream out-of-order: first-arrival-wins stays internally consistent") {
    // the documented degraded mode: shuffled delivery pins verdicts to
    // ARRIVAL order instead of id order. The contract that must survive:
    // every vector gets exactly one verdict, dup_of (when set) names an
    // id that was CACHED at the victim's arrival (same cluster, arrived
    // earlier, within cap), and dup_of really clears the tau threshold.
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val all = graft.Tables(sp, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => graft.streaming.EmbRecord(r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_.vec_id)
    val stride = math.max(2L, math.round(math.sqrt(all.size.toDouble)))
    val cents = all.filter(_.vec_id % stride == 0)
      .map(r => r.vec_id -> r.embedding.map(_.toDouble).toArray).toSeq
    // deterministic shuffle: reverse each third so later ids arrive first
    val (b1, rest) = all.splitAt(all.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 3)
    val feeds = Seq(b3.reverse, b1.reverse, b2.reverse)
    val in = MemoryStream[graft.streaming.EmbRecord]
    val out = StreamOps.semDedupStream(in.toDS(), cents,
      graft.operators.Dedup.SemMemberCap, graft.operators.Dedup.SemDupTau)
    val got = runToMemory(out.toDF(), "semdedupooo")(
      feeds.map(f => () => { in.addData(f); () }): _*)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.length == all.length)
    assert(got.map(_._1).distinct.length == all.length, "one verdict per vector")
    val byId = got.map(v => v._1 -> v).toMap
    // within a micro-batch the group sorts by vec_id, so arrival order is
    // (batch index, vec_id); replay that to know who was cached when
    val arrivalRank: Map[Long, (Int, Long)] =
      feeds.zipWithIndex.flatMap { case (f, bi) => f.map(r => r.vec_id -> (bi, r.vec_id)) }.toMap
    implicit val ord: Ordering[(Int, Long)] = Ordering.Tuple2[Int, Long]
    got.filter(_._4).foreach { case (vid, cluster, dupOf, _) =>
      assert(dupOf >= 0, s"$vid is_dup but dup_of=$dupOf")
      val (_, dc, _, _) = byId(dupOf)
      assert(dc == cluster, s"$vid dup_of $dupOf crosses clusters")
      assert(ord.lt(arrivalRank(dupOf), arrivalRank(vid)),
        s"$vid dup_of $dupOf did not arrive earlier")
    }
    // and the flagged pairs genuinely clear tau (recompute one-sidedly)
    val vecs = all.map(r => r.vec_id -> r.embedding.map(_.toDouble).toArray).toMap
    // index-order 0.0-seeded folds — the kernel spelling, so the r4
    // boundary can't flip against the operator's own arithmetic
    def unit(a: Array[Double]) = {
      var n2 = 0.0; var i = 0
      while (i < a.length) { n2 += a(i) * a(i); i += 1 }
      val n = math.sqrt(n2); a.map(_ / n)
    }
    def dotp(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }
      d
    }
    def r4(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    got.filter(_._4).take(50).foreach { case (vid, _, dupOf, _) =>
      val s = r4(dotp(unit(vecs(vid)), unit(vecs(dupOf))))
      assert(s >= graft.operators.Dedup.SemDupTau - 1e-9,
        s"$vid~$dupOf flagged but sim $s < tau")
    }
  }

  test("semDedupStream: RocksDB + kill/restart resumes to exact batch parity") {
    // the member-cache state must survive a checkpoint restart EXACTLY:
    // a lost member silently flips later verdicts to "kept", a doubled
    // one can flip dup_of — so the resume assertion is full equality with
    // the batch q152 lane, not just row counts
    val sp = spark
    import sp.implicits._
    val sfDir = "/root/testdata/sf0.001"
    withTempDir("graftsemdd") { tmp =>
      val src = s"$tmp/src"; val ckpt = s"$tmp/ckpt"
      val all = graft.Tables(sp, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .collect()
        .map(r => graft.streaming.EmbRecord(r.getLong(0), r.getSeq[Float](1)))
        .sortBy(_.vec_id)
      val stride = math.max(2L, math.round(math.sqrt(all.size.toDouble)))
      val cents = all.filter(_.vec_id % stride == 0)
        .map(r => r.vec_id -> r.embedding.map(_.toDouble).toArray).toSeq
      // 4 in-order files → 4 in-order micro-batches under maxFilesPerTrigger=1
      all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
        sp.createDataset(chunk.toSeq).toDF()
          .coalesce(1).write.mode("append").parquet(src)
        Thread.sleep(5) // distinct mod times keep the file order stable
      }
      val schema = sp.read.parquet(src).schema
      val got = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Boolean)]
      def start() =
        StreamOps.semDedupStream(
          StreamingPipeline.fileSource(sp, src, schema, maxFilesPerTrigger = 1)
            .as[graft.streaming.EmbRecord],
          cents, graft.operators.Dedup.SemMemberCap, graft.operators.Dedup.SemDupTau)
          .toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.collect().foreach(r =>
              got.put(r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3))))
          }.start()
      // first run: stop after at least one committed batch ("kill")
      val q1 = start()
      try {
        while (q1.recentProgress.count(_.numInputRows > 0) < 1) Thread.sleep(50)
      } finally q1.stop()
      val afterKill = got.size
      assert(afterKill < all.length, "kill happened too late to prove a resume")
      // resume from checkpoint and drain
      val q2 = start()
      try {
        q2.processAllAvailable()
        val rocksMetrics = q2.lastProgress.stateOperators
          .flatMap(_.customMetrics.keySet.toArray(Array.empty[String]))
          .filter(_.startsWith("rocksdb"))
        assert(rocksMetrics.nonEmpty, "RocksDB state store did not engage")
      } finally q2.stop()
      val want = graft.operators.Dedup.q152SemDedup(sp, sfDir).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3))))
        .toMap
      assert(got.size == all.length)
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toMap == want, "kill/restart diverged from the batch lane")
    }
  }

  test("admitPerKey caps each key at k across micro-batches, first-k by event time") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val in = MemoryStream[KeyedEvent]
    val q = StreamOps.admitPerKey(in.toDS(), k = 3).toDF()
      .writeStream.format("memory").queryName("admit")
      .outputMode("append").start()
    try {
      // batch 1: a has 2 (both admitted), b has 4 (3 admitted, ts order)
      in.addData(
        KeyedEvent("a", ts(1), 1.0), KeyedEvent("a", ts(2), 2.0),
        KeyedEvent("b", ts(4), 40.0), KeyedEvent("b", ts(1), 10.0),
        KeyedEvent("b", ts(2), 20.0), KeyedEvent("b", ts(3), 30.0))
      q.processAllAvailable()
      // batch 2: a gets 1 more (cap reached), b is already full — all dropped
      in.addData(
        KeyedEvent("a", ts(3), 3.0), KeyedEvent("a", ts(4), 4.0),
        KeyedEvent("b", ts(5), 50.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("admit")
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSet
    assert(got == Set(
      ("a", 1.0), ("a", 2.0), ("a", 3.0),   // a: first 3 across batches
      ("b", 10.0), ("b", 20.0), ("b", 30.0) // b: ts order beat arrival order
    ), s"got=$got")
  }

  test("builder sessions run stateful ops on the RocksDB state store") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    // the suite's session sets no provider itself: GraftSession.builder's
    // RocksDB conf must reach the state store, which the progress metrics
    // show (without it the query fails: the HDFS-backed default cannot
    // create transformWithState's column families)
    val in = MemoryStream[KeyedEvent]
    val q = StreamOps.admitPerKey(in.toDS(), k = 2).toDF()
      .writeStream.format("memory").queryName("rocksadmit")
      .outputMode("append").start()
    try {
      in.addData(KeyedEvent("a", ts(1), 1.0), KeyedEvent("a", ts(2), 2.0),
        KeyedEvent("a", ts(3), 3.0))
      q.processAllAvailable()
      in.addData(KeyedEvent("a", ts(4), 4.0), KeyedEvent("b", ts(1), 5.0))
      q.processAllAvailable()
      val rocksMetrics = q.lastProgress.stateOperators
        .flatMap(_.customMetrics.keySet.toArray(Array.empty[String]))
        .filter(_.startsWith("rocksdb"))
      assert(rocksMetrics.nonEmpty, "RocksDB state store did not engage")
    } finally q.stop()
    val got = spark.table("rocksadmit")
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSet
    assert(got == Set(("a", 1.0), ("a", 2.0), ("b", 5.0)))
  }

  test("tws ops accept a non-empty TTL (processing-time mode engages; " +
      "un-expired results match no-TTL)") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    // r16 ADVICE #1: ttl=Some(...) used to pair TTLConfig with
    // TimeMode.None(), which Spark rejects at query start — the ttl option
    // was documented but launching with it was a runtime error. Each op
    // now derives ProcessingTime mode from the ttl; this spec actually
    // STARTS each op with a TTL (the failure was at start), and with a TTL
    // far longer than the test nothing expires, so results equal the
    // golden no-TTL expectations.
    //
    // Harness note: under processing-time mode the engine keeps scheduling
    // timer micro-batches, so `processAllAvailable` never settles (it
    // waited forever when this spec first used it — a genuine lesson, now
    // in StreamOps' scaladocs: pace TTL'd queries with a real trigger).
    // The spec therefore POLLS the sink for the expected rows.
    def pollUntil(cond: () => Boolean, what: String): Unit = {
      val deadline = System.currentTimeMillis() + 90000
      while (!cond() && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(cond(), s"timed out waiting for $what")
    }
    val ttl = Some(java.time.Duration.ofHours(1))
    // aggregate shape: state must carry across batches under the TTL mode
    val rin = MemoryStream[KeyedEvent]
    val rq = StreamOps.runningPerKey(rin.toDS(), ttl).toDF()
      .writeStream.format("memory").queryName("ttlrun")
      .outputMode("update").start()
    def runRows() = spark.table("ttlrun")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    try {
      rin.addData(KeyedEvent("a", ts(1), 1.0), KeyedEvent("b", ts(1), 10.0))
      pollUntil(() => runRows().contains(("a", 1L, 1.0)), "batch-1 running rows")
      rin.addData(KeyedEvent("a", ts(2), 2.0))
      pollUntil(() => runRows().contains(("a", 2L, 3.0)), "batch-2 running rows")
    } finally rq.stop()
    assert(runRows().contains(("b", 1L, 10.0)))
    // counter shape: the admitted count must survive batches under TTL
    val ain = MemoryStream[KeyedEvent]
    val aq = StreamOps.admitPerKey(ain.toDS(), k = 2, ttl).toDF()
      .writeStream.format("memory").queryName("ttladm")
      .outputMode("append").start()
    def admRows() = spark.table("ttladm")
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSet
    try {
      ain.addData(KeyedEvent("a", ts(1), 1.0), KeyedEvent("a", ts(2), 2.0))
      pollUntil(() => admRows() == Set(("a", 1.0), ("a", 2.0)), "admitted pair")
      ain.addData(KeyedEvent("a", ts(3), 3.0))
      // the third event must stay REJECTED: state (admitted=2) survived
      // the batch boundary under TTL mode; give the engine time to have
      // processed it, then pin the set is unchanged
      Thread.sleep(2000)
      pollUntil(() => admRows() == Set(("a", 1.0), ("a", 2.0)), "cap held")
    } finally aq.stop()
    // state-machine shape: stages fill forward across batches under TTL
    val fin = MemoryStream[FunnelEvent]
    val fq = StreamOps.funnelPerUser(fin.toDS(), ttl).toDF()
      .writeStream.format("memory").queryName("ttlfun")
      .outputMode("update").start()
    def funRows() = spark.table("ttlfun")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      fin.addData(FunnelEvent(1L, 10L, "view"))
      pollUntil(() => funRows().contains((1L, 10L, -1L)), "view stage")
      fin.addData(FunnelEvent(1L, 20L, "click"))
      pollUntil(() => funRows().contains((1L, 10L, 20L)), "click stage")
    } finally fq.stop()
  }

  // ------------------------------------ streaming MinHash near-dup ingest

  test("StreamMinhash.signature ≡ batch minhashSignatures on the fixture corpus") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val batch = graft.operators.Dedup.minhashSignatures(docs)
      .collect().map(r => r.getLong(0) ->
        (0 until graft.operators.Dedup.MinHashK).map(i => r.getLong(i + 1))).toMap
    val local = docs.select("doc_id", "text").collect().flatMap { r =>
      val words = Option(r.getString(1)).getOrElse("").trim.split("\\s+")
      if (words.length < graft.operators.Dedup.ShingleWords) None
      else Some(r.getLong(0) -> StreamMinhash.signature(words).toSeq)
    }.toMap
    assert(local.keySet == batch.keySet)
    val diff = local.collect { case (id, sig) if batch(id) != sig => id }.take(3)
    assert(diff.isEmpty, s"signatures diverge for docs $diff")
    assert(local.nonEmpty)
  }

  test("neardupStream ≡ batch confirmedNearDups on the fixture corpus " +
      "(in-order, across a micro-batch split)") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").collect()
      .map(r => DocRecord(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id)
    val expected = graft.operators.Dedup.confirmedNearDups(
        Tables(spark, "/root/testdata/sf0.001", "documents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    GraftSession.releasePersisted(spark)
    val (batch1, batch2) = docs.splitAt(docs.length / 2)
    val in = MemoryStream[DocRecord]
    val q = StreamOps.neardupStream(in.toDS()).toDF()
      .writeStream.format("memory").queryName("neardup")
      .outputMode("append").start()
    try {
      in.addData(batch1.toIndexedSeq); q.processAllAvailable()
      in.addData(batch2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("neardup")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected,
      s"stream/batch diverged: only-stream=${(got -- expected).take(3)} " +
        s"only-batch=${(expected -- got).take(3)}")
    assert(expected.nonEmpty, "vacuous parity: batch found no near-dups")
  }

  test("neardupStreamWithinWatermark emits the same confirmed pairs " +
      "(watermarked pair dedup — r17 ADVICE #4)") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").collect()
      .map(r => graft.streaming.TimedDocRecord(
        r.getLong(0), r.getString(1), r.getLong(0) * 1000000L))
      .sortBy(_.doc_id)
    val expected = graft.operators.Dedup.confirmedNearDups(
        Tables(spark, "/root/testdata/sf0.001", "documents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    GraftSession.releasePersisted(spark)
    val (batch1, batch2) = docs.splitAt(docs.length / 2)
    val in = MemoryStream[graft.streaming.TimedDocRecord]
    val q = StreamOps.neardupStreamWithinWatermark(in.toDS(), "10 seconds").toDF()
      .writeStream.format("memory").queryName("neardupwm")
      .outputMode("append").start()
    try {
      in.addData(batch1.toIndexedSeq); q.processAllAvailable()
      in.addData(batch2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("neardupwm")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected,
      s"watermarked stream diverged: only-stream=${(got -- expected).take(3)} " +
        s"only-batch=${(expected -- got).take(3)}")
    assert(expected.nonEmpty, "vacuous parity: batch found no near-dups")
  }

  test("exactSubstrStream ≡ batch q161 spans on the fixture corpus " +
      "(retro-emission across a micro-batch split)") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val k = graft.operators.Dedup.ExactSubstrK
    // the q161 lane's canary injection, replicated on the stream input so
    // both sides see the identical corpus
    val header = "shared license header text appears before many documents in the crawl corpus"
    val footer = "subscribe to our newsletter for updates and special offers"
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").collect()
      .filter(r => r.getString(1) != null && r.getString(1).trim.nonEmpty)
      .map { r =>
        val id = r.getLong(0)
        val t = (if (id % 3 == 0) header + " " else "") + r.getString(1) +
          (if (id % 5 == 0) " " + footer else "")
        DocRecord(id, t)
      }.sortBy(_.doc_id)
    val expected = graft.operators.Dedup
      .q161ExactSubstrSpans(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    GraftSession.releasePersisted(spark)
    // split mid-corpus: canary dups straddle the boundary, so the
    // second batch must retro-emit firsts recorded in the first
    val (batch1, batch2) = docs.splitAt(docs.length / 2)
    val in = MemoryStream[DocRecord]
    val q = StreamOps.exactSubstrStream(in.toDS()).toDF()
      .writeStream.format("memory").queryName("exsubstr")
      .outputMode("append").start()
    try {
      in.addData(batch1.toIndexedSeq); q.processAllAvailable()
      in.addData(batch2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val occ = spark.table("exsubstr")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // each duplicated occurrence must emit exactly once
    assert(occ.length == occ.distinct.length, "an occurrence emitted twice")
    // the batch lane's island merge, replayed driver-side over the
    // stream's occurrence set
    val spans = occ.groupBy(_._1).flatMap { case (doc, os) =>
      val ps = os.map(_._2).sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var s0 = ps.head; var last = ps.head
      ps.tail.foreach { p =>
        if (p > last + k) { out += ((doc, s0.toLong, (last + k).toLong)); s0 = p }
        last = p
      }
      out += ((doc, s0.toLong, (last + k).toLong))
      out
    }.toSet
    assert(spans == expected,
      s"stream/batch spans diverged: only-stream=${(spans -- expected).take(3)} " +
        s"only-batch=${(expected -- spans).take(3)}")
    assert(expected.nonEmpty, "vacuous parity: batch found no spans")
  }

  test("exactSubstrStreamWithinWatermark ≡ batch q161 inside the horizon " +
      "(r18 Next #3: the bounded-state variant keeps exact parity when all " +
      "occurrences are within the watermark delay)") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val k = graft.operators.Dedup.ExactSubstrK
    val header = "shared license header text appears before many documents in the crawl corpus"
    val footer = "subscribe to our newsletter for updates and special offers"
    // event times spread one second per doc — the whole corpus spans
    // ~500 s, inside the 1-hour horizon, so parity must be EXACT
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").collect()
      .filter(r => r.getString(1) != null && r.getString(1).trim.nonEmpty)
      .map { r =>
        val id = r.getLong(0)
        val t = (if (id % 3 == 0) header + " " else "") + r.getString(1) +
          (if (id % 5 == 0) " " + footer else "")
        // base epoch well past 0: a row whose event time equals the
        // uninitialized watermark (epoch 0) is dropped as late
        graft.streaming.TimedDocRecord(id, t, (1700000000L + id) * 1000000L)
      }.sortBy(_.doc_id)
    val expected = graft.operators.Dedup
      .q161ExactSubstrSpans(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    GraftSession.releasePersisted(spark)
    val (batch1, batch2) = docs.splitAt(docs.length / 2)
    val in = MemoryStream[graft.streaming.TimedDocRecord]
    val q = StreamOps.exactSubstrStreamWithinWatermark(in.toDS(), "1 hour").toDF()
      .writeStream.format("memory").queryName("exsubstrwm")
      .outputMode("append").start()
    try {
      in.addData(batch1.toIndexedSeq); q.processAllAvailable()
      in.addData(batch2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val occ = spark.table("exsubstrwm")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(occ.length == occ.distinct.length, "an occurrence emitted twice")
    val spans = occ.groupBy(_._1).flatMap { case (doc, os) =>
      val ps = os.map(_._2).sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var s0 = ps.head; var last = ps.head
      ps.tail.foreach { p =>
        if (p > last + k) { out += ((doc, s0.toLong, (last + k).toLong)); s0 = p }
        last = p
      }
      out += ((doc, s0.toLong, (last + k).toLong))
      out
    }.toSet
    assert(spans == expected,
      s"watermarked stream diverged inside the horizon: " +
        s"only-stream=${(spans -- expected).take(3)} " +
        s"only-batch=${(expected -- spans).take(3)}")
    assert(expected.nonEmpty, "vacuous parity: batch found no spans")
  }

  test("exactSubstrStreamWithinWatermark EVICTS: a re-occurrence beyond the " +
      "horizon emits nothing (the state actually expired)") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val shared = "one two three four five six seven eight"
    def rec(id: Long, text: String, sec: Long) =
      graft.streaming.TimedDocRecord(id, text, (1700000000L + sec) * 1000000L)
    val filler1 = "f1a f1b f1c f1d f1e f1f f1g f1h" // unique windows
    val filler2 = "f2a f2b f2c f2d f2e f2f f2g f2h"
    val in = MemoryStream[graft.streaming.TimedDocRecord]
    val q = StreamOps.exactSubstrStreamWithinWatermark(in.toDS(), "10 seconds").toDF()
      .writeStream.format("memory").queryName("exsubstrev")
      .outputMode("append").start()
    try {
      // batch 1: the window's first occurrence at t=0
      in.addData(rec(1, shared, 0)); q.processAllAvailable()
      // batch 2: advance the watermark far past 0+10 s (event at t=1 h);
      // the eviction timer for doc 1's window becomes expired
      in.addData(rec(2, filler1, 3600)); q.processAllAvailable()
      // batch 3: another filler batch — timers fire against the advanced
      // watermark here, so the eviction provably happens BEFORE doc 3
      in.addData(rec(3, filler2, 3601)); q.processAllAvailable()
      // batch 4: the SAME window re-occurs beyond the horizon — with the
      // first evicted it must be treated as a fresh first (no emission)
      in.addData(rec(4, shared, 3602)); q.processAllAvailable()
    } finally q.stop()
    val occ = spark.table("exsubstrev").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(occ.isEmpty,
      s"state did not expire: occurrences emitted across the horizon: ${occ.toSeq}")
    // control: the same feed with everything INSIDE the horizon does emit
    val in2 = MemoryStream[graft.streaming.TimedDocRecord]
    val q2 = StreamOps.exactSubstrStreamWithinWatermark(in2.toDS(), "10 seconds").toDF()
      .writeStream.format("memory").queryName("exsubstrev2")
      .outputMode("append").start()
    try {
      in2.addData(rec(1, shared, 0)); q2.processAllAvailable()
      in2.addData(rec(4, shared, 2)); q2.processAllAvailable()
    } finally q2.stop()
    val occ2 = spark.table("exsubstrev2").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(occ2.toSet == Set((1L, 0), (4L, 0)),
      s"control pair inside the horizon should emit both occurrences: ${occ2.toSeq}")
  }

  test("exactSubstrStreamWithinWatermark: RocksDB kill/restart resumes to " +
      "batch parity (the r18 drill on the new variant)") {
    val sp = spark
    import sp.implicits._
    val k = graft.operators.Dedup.ExactSubstrK
    val sfDir = "/root/testdata/sf0.001"
    withTempDir("graftexsub") { tmp =>
      val src = s"$tmp/src"; val ckpt = s"$tmp/ckpt"
      val header = "shared license header text appears before many documents in the crawl corpus"
      val footer = "subscribe to our newsletter for updates and special offers"
      val all = Tables(sp, sfDir, "documents")
        .select("doc_id", "text").collect()
        .filter(r => r.getString(1) != null && r.getString(1).trim.nonEmpty)
        .map { r =>
          val id = r.getLong(0)
          val t = (if (id % 3 == 0) header + " " else "") + r.getString(1) +
            (if (id % 5 == 0) " " + footer else "")
          graft.streaming.TimedDocRecord(id, t, (1700000000L + id) * 1000000L)
        }.sortBy(_.doc_id)
      val expected = graft.operators.Dedup.q161ExactSubstrSpans(sp, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      GraftSession.releasePersisted(sp)
      all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
        sp.createDataset(chunk.toSeq).toDF()
          .coalesce(1).write.mode("append").parquet(src)
        Thread.sleep(5)
      }
      val schema = sp.read.parquet(src).schema
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Int)]
      def start() =
        StreamOps.exactSubstrStreamWithinWatermark(
          StreamingPipeline.fileSource(sp, src, schema, maxFilesPerTrigger = 1)
            .as[graft.streaming.TimedDocRecord], "1 hour")
          .toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.collect().foreach(r => got.add((r.getLong(0), r.getInt(1)))): Unit
          }.start()
      val q1 = start()
      try {
        while (q1.recentProgress.count(_.numInputRows > 0) < 1) Thread.sleep(50)
      } finally q1.stop()
      val q2 = start()
      try {
        q2.processAllAvailable()
        val rocksMetrics = q2.lastProgress.stateOperators
          .flatMap(_.customMetrics.keySet.toArray(Array.empty[String]))
          .filter(_.startsWith("rocksdb"))
        assert(rocksMetrics.nonEmpty, "RocksDB state store did not engage")
      } finally q2.stop()
      import scala.jdk.CollectionConverters._
      val occ = got.asScala.toSeq
      val spans = occ.groupBy(_._1).flatMap { case (doc, os) =>
        val ps = os.map(_._2).sorted
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var s0 = ps.head; var last = ps.head
        ps.tail.foreach { p =>
          if (p > last + k) { out += ((doc, s0.toLong, (last + k).toLong)); s0 = p }
          last = p
        }
        out += ((doc, s0.toLong, (last + k).toLong))
        out
      }.toSet
      assert(spans == expected, "kill/restart diverged from the batch q161 spans")
      assert(expected.nonEmpty, "vacuous drill: no spans")
    }
  }

  test("hashed bucket state is measurably smaller than raw word-set state " +
      "(r17 verdict #4)") {
    // the compaction claim, MEASURED on the fixture corpus as the bytes the
    // state store actually persists: both shapes serialized through the
    // SAME product-encoder path transformWithState uses (UnsafeRow payload
    // — what RocksDB stores per bucket), pre-r18 shape (raw sorted word
    // strings) vs the shipped shape (sorted 64-bit word hashes)
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").collect()
      .flatMap { r =>
        val words = Option(r.getString(1)).getOrElse("").trim.split("\\s+")
        if (words.length < graft.operators.Dedup.ShingleWords) None
        else Some(r.getLong(0) -> words.distinct.sorted.toSeq)
      }.take(500)
    assert(docs.length >= 100, "fixture too small to measure")
    val ids = docs.map(_._1).toSeq
    val rawState = RawBucketMembers(ids, docs.map(_._2).toSeq)
    val hashedState = graft.streaming.BucketMembers(
      ids, ids.map(_ => 0L),
      docs.map(_._2.map(StreamMinhash.wordHash).distinct.sorted.toSeq).toSeq)
    def storedBytes[T](enc: org.apache.spark.sql.Encoder[T], v: T): Long = {
      val ee = ExpressionEncoder(
        enc.asInstanceOf[org.apache.spark.sql.catalyst.encoders.AgnosticEncoder[T]])
      val proj = UnsafeProjection.create(ee.schema)
      proj(ee.createSerializer()(v)).getSizeInBytes.toLong
    }
    val rawBytes = storedBytes(
      org.apache.spark.sql.Encoders.product[RawBucketMembers], rawState)
    val hashedBytes = storedBytes(
      org.apache.spark.sql.Encoders.product[graft.streaming.BucketMembers], hashedState)
    // measured on the fixture: 114,192 B vs 204,056 B over 500 members —
    // 1.79× smaller even though the synthetic corpus's words are SHORT
    // (~6 chars → ~16 B/word serialized vs the flat 8 B/hash). The hash
    // side is word-length-INVARIANT, so real corpora (longer words) only
    // widen the gap; the assert pins the fixture-safe 1.5× floor.
    assert(hashedBytes * 3 < rawBytes * 2,
      s"state compaction insufficient: hashed=$hashedBytes B vs raw=$rawBytes B " +
        s"over ${docs.length} members")
  }

  test("scale drill: 50k-doc neardupStream kill/restart — resumes to exact " +
      "batch parity on RocksDB, bounded state") {
    // the q50-twin's restart drill (r16 verdict #3): near-dup groups are
    // injected (11-word docs sharing a GROUP-SPECIFIC 10-word prefix
    // within each id%G group → word-set jaccard 10/12 ≈ 0.83 ≥ 0.6;
    // cross-group docs share ZERO tokens, so LSH buckets stay per-group
    // and far under the cap — a corpus-wide shared prefix would mint
    // over-cap buckets where batch retroactive-drop and streaming
    // first-cap semantics legitimately diverge), streamed as 8 file
    // micro-batches in doc_id order, killed after the first batch lands,
    // resumed from checkpoint; the emitted pair set must EQUAL the batch
    // confirmedNearDups of the same frame (kill+resume lost or doubled
    // nothing — replayed batches re-emit identical pairs, the set dedups)
    val sp = spark
    import sp.implicits._
    withTempDir("graftnd") { tmp =>
      val src = s"$tmp/src"
      val nFiles = 8
      val perFile = 6250L
      val groups = 12500L // ~4 docs/group → small buckets, far under the cap
      val g = (col("doc_id") % groups).cast("string")
      val qq = expr(s"doc_id div $groups").cast("string")
      val textExpr = concat_ws(" ",
        (('a' to 'j').map(c => concat(lit(c.toString), g)) :+
          concat(lit("x"), qq)): _*)
      (0 until nFiles).foreach { f =>
        spark.range(f * perFile, (f + 1) * perFile).select(col("id").as("doc_id"))
          .withColumn("text", textExpr)
          .coalesce(1).write.mode("append").parquet(src)
      }
      val all = spark.read.parquet(src).select("doc_id", "text")
      val expected = graft.operators.Dedup.confirmedNearDups(all)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      GraftSession.releasePersisted(spark)
      assert(expected.nonEmpty, "drill corpus produced no near-dups")
      val schema = all.schema
      val seen = java.util.concurrent.ConcurrentHashMap
        .newKeySet[(Long, Long, Double)]
      def stream(trigger: Trigger) =
        StreamOps.neardupStream(
          StreamingPipeline.fileSource(spark, src, schema, maxFilesPerTrigger = 1)
            .as[DocRecord])
          .writeStream.outputMode("append")
          .foreachBatch { (b: org.apache.spark.sql.Dataset[NearDupPair], _: Long) =>
            b.collect().foreach(p => seen.add((p.id1, p.id2, p.jaccard)))
          }
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(trigger).start()
      val q1 = stream(Trigger.ProcessingTime(100))
      try {
        val deadline = System.currentTimeMillis() + 120000
        while (seen.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
      } finally q1.stop()
      assert(!seen.isEmpty, "no near-dup batch landed before the kill")
      val q2 = stream(Trigger.AvailableNow())
      q2.awaitTermination(300000)
      val got = {
        val it = seen.iterator(); val b = Set.newBuilder[(Long, Long, Double)]
        while (it.hasNext) b += it.next(); b.result()
      }
      assert(got == expected,
        s"kill/resume diverged from batch: only-stream=${(got -- expected).take(3)} " +
          s"only-batch=${(expected -- got).take(3)} " +
          s"(|stream|=${got.size} |batch|=${expected.size})")
      // bounded state: the bucket stage holds ≤ members-per-bucket word
      // sets; with ~4-doc groups total state rows track the BUCKET count,
      // and the pair-dedup stage one row per distinct pair — both far
      // below the 50k event count × 4 bands
      val rocksMetrics = q2.recentProgress.reverse
        .flatMap(p => Option(p.stateOperators)).find(_.nonEmpty)
        .map(_.head.customMetrics.keySet.toArray(Array.empty[String])
          .filter(_.startsWith("rocksdb")))
      assert(rocksMetrics.exists(_.nonEmpty),
        "RocksDB state store did not engage in the neardup drill")
    }
  }

  test("funnelPerUser: ordered stages advance, disorder and skips don't") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val in = MemoryStream[FunnelEvent]
    val q = StreamOps.funnelPerUser(in.toDS()).toDF()
      .writeStream.format("memory").queryName("funnel")
      .outputMode("update").start()
    try {
      // u1 full funnel across TWO batches (state persists); u2's click
      // precedes its view (must not count); u3 skips click (purchase must
      // not count); u4's first click ties the view timestamp (strictly-
      // after contract: dropped), second click counts
      in.addData(
        FunnelEvent(1L, 10L, "view"), FunnelEvent(1L, 20L, "click"),
        FunnelEvent(2L, 5L, "click"), FunnelEvent(2L, 10L, "view"),
        FunnelEvent(3L, 10L, "view"), FunnelEvent(3L, 15L, "purchase"),
        FunnelEvent(4L, 10L, "view"), FunnelEvent(4L, 10L, "click"))
      q.processAllAvailable()
      in.addData(
        FunnelEvent(1L, 30L, "purchase"),
        FunnelEvent(4L, 12L, "click"))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("funnel")
      .groupBy("user_id")
      .agg(max("vt").as("vt"), max("ct").as("ct"), max("pt").as("pt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(last == Set(
      (1L, 10L, 20L, 30L),   // full funnel, stages from both batches
      (2L, 10L, -1L, -1L),   // click-before-view never counts
      (3L, 10L, -1L, -1L),   // purchase without a click never counts
      (4L, 10L, 12L, -1L)))  // tie dropped, later click accepted
  }

  test("stream-static enrichment join broadcasts the dim, keeps left rows") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val dim = Seq((0, "ASIA"), (1, "EMEA")).toDF("rk", "region")
    val in = MemoryStream[(String, Int)]
    val enriched = StreamOps.enrich(
      in.toDF().toDF("user", "rk2"), dim, col("rk2") === col("rk"), "left")
    val out = runToMemory(enriched, "enriched")(
      () => in.addData(("u1", 0), ("u2", 1), ("u3", 7))) // 7: no dim match
    val rows = out.select("user", "region").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(rows == Set(("u1", Some("ASIA")), ("u2", Some("EMEA")), ("u3", None)))
  }

  test("stream-stream interval join matches within the window only") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val clicks = MemoryStream[(Timestamp, String)]
    val buys = MemoryStream[(Timestamp, String)]
    val joined = graft.streaming.StreamOps.intervalJoin(
      clicks.toDF().toDF("cts", "cuid"), "cts", "10 minutes",
      buys.toDF().toDF("bts", "buid"), "bts", "10 minutes",
      col("cuid") === col("buid") &&
        col("bts").between(col("cts"), col("cts") + expr("interval 5 minutes")))
      .select("cuid", "cts", "bts")

    val out = runToMemory(joined, "ivjoin")(
      () => {
        clicks.addData((ts(1), "u1"), (ts(10), "u2"))
        // u1 buys 3 min after click (in window); u2 buys 20 min after (out)
        buys.addData((ts(4), "u1"), (ts(30), "u2"))
      },
      () => { clicks.addData((ts(55), "zz")); buys.addData((ts(55), "zz2")) })
    val rows = out.collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    assert(rows == Set(("u1", ts(1), ts(4)))) // only the in-window pair
  }

  test("stream-stream LEFT OUTER interval join emits watermark-proven non-matches") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val clicks = MemoryStream[(Timestamp, String)]
    val buys = MemoryStream[(Timestamp, String)]
    val joined = graft.streaming.StreamOps.intervalJoin(
      clicks.toDF().toDF("cts", "cuid"), "cts", "10 minutes",
      buys.toDF().toDF("bts", "buid"), "bts", "10 minutes",
      col("cuid") === col("buid") &&
        col("bts").between(col("cts"), col("cts") + expr("interval 5 minutes")),
      joinType = "left_outer")
      .select("cuid", "cts", "bts")

    val out = runToMemory(joined, "ivjoin_outer")(
      () => {
        clicks.addData((ts(1), "u1"), (ts(2), "u2"))
        buys.addData((ts(4), "u1")) // u1 matched in-window; u2 never buys
      },
      // advance BOTH watermarks far past u2's join window so the engine can
      // PROVE no match will arrive — only then may the null row emit
      () => { clicks.addData((ts(120), "zz")); buys.addData((ts(120), "zz2")) },
      () => { clicks.addData((ts(240), "zw")); buys.addData((ts(240), "zw2")) })
    val rows = out.collect()
      .map(r => (r.getString(0), r.getTimestamp(1), Option(r.getTimestamp(2)))).toSet
    assert(rows.contains(("u1", ts(1), Some(ts(4)))), s"matched pair missing: $rows")
    assert(rows.contains(("u2", ts(2), None)),
      s"watermark-proven non-match not emitted with NULL right side: $rows")
    // and no premature null for u1 (it HAD a match inside the interval)
    assert(!rows.contains(("u1", ts(1), None)), s"spurious outer row: $rows")
  }

  test("events.parquet file-streams through a tumbling window (real test data)") {
    val sfDir = "/root/testdata/sf0.001"
    val batch = Tables(spark, sfDir, "events")
    // file stream sources watch a DIRECTORY; stage the table through Tables
    // (NOT a raw file copy) so the staged copy carries the engine's
    // normalized bigint `ts` — the raw file's physical type is the driver's
    // choice (nanos through r6, micros since the r7 regen) and a raw copy
    // read under batch.schema would mis-type the column
    withTempDir("graftevents") { dir =>
      batch.coalesce(1).write.mode("overwrite").parquet(dir.toString)
      val stream = StreamingPipeline.fileSource(
        spark, dir.toString, batch.schema, maxFilesPerTrigger = 1)
        .withColumn("tst", StreamOps.nanosToTimestamp(col("ts")))
      val agg = StreamOps.tumblingAgg(
        stream, "tst", watermark = "1 hour", width = "1 hour",
        keys = Seq(col("event_type")), aggs = Seq(count("*").as("n")))
      val q = agg.writeStream.format("memory").queryName("ev_stream")
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
      // streaming windowed counts must reconcile with the batch groupBy total
      val streamed = spark.table("ev_stream").agg(sum("n")).collect()(0).getLong(0)
      assert(streamed == batch.count(), s"streamed $streamed != batch ${batch.count()}")
    }
  }

  test("full composition: framed Avro stream -> registry decode -> agg -> txn sink") {
    import graft.pipeline.{ConfluentAvro, RecordGenerator, SchemaRegistry, TransactionalJdbcSink}
    import graft.schema.SchemaBridge
    withTempDir("graftcompose") { tmp =>
      val ss = SchemaBridge.parseSimple(
        """[{"name":"comp","fields":{"key_field":"string","ts_field":"long","dbl_field":"double"}}]""").head
      val avro = SchemaBridge.toAvro(ss)
      val id = SchemaRegistry.register("comp-value", avro)

      // producer leg (reference 02-producer): generate + frame, landed as files
      ConfluentAvro.encode(RecordGenerator.generate(spark, ss, 600, seed = 5), avro, id, 3)
        .coalesce(2).write.mode("overwrite").parquet(s"$tmp/frames")

      // consumer leg (reference 03-consumer): stream frames, decode via the
      // registry snapshot, land rows exactly-once
      val framesSchema = spark.read.parquet(s"$tmp/frames").schema
      val stream = graft.streaming.StreamingPipeline.fileSource(
        spark, s"$tmp/frames", framesSchema, maxFilesPerTrigger = 1)
      val decoded = ConfluentAvro.decodeAuto(stream, "value", avro)
      val url = s"jdbc:derby:$tmp/db;create=true"
      val sink = new TransactionalJdbcSink(url, "comp", "compose-q")
      sink.ensureTables(decoded.schema)
      graft.streaming.StreamingPipeline.toJdbc(decoded, sink, s"$tmp/ckpt")
        .awaitTermination(60000)
      assert(sink.dataCount() == 600, s"lost/duplicated rows: ${sink.dataCount()}")

      // landed values must equal the generated source exactly (serde fidelity)
      val landed = spark.read.format("jdbc")
        .option("url", url).option("dbtable", """"comp"""").load()
      val src = RecordGenerator.generate(spark, ss, 600, seed = 5)
      val norm = (df: DataFrame) =>
        df.orderBy("key_field", "ts_field", "dbl_field").collect().toSeq
      assert(norm(landed.select("key_field", "ts_field", "dbl_field")) == norm(src))
    }
  }

  // -------------------------------- end-to-end exactly-once restart drill

  test("scale drill: 1M rows through content-dedup -> txn sink, kill + restart, " +
      "bounded state, on RocksDB") {
    // the restart drill at production-like volume (r03 verdict #5): ≥1M rows
    // with dedupByContent AND the exactly-once sink in the same loop, killed
    // mid-stream, resumed from checkpoint — and the dedup state store must
    // stay bounded by the WATERMARK HORIZON, not grow with the corpus.
    // r11 (r10 verdict #7): the drill runs under the RocksDB state store —
    // the provider the 100 TB bounded-state claim depends on (the default
    // HDFS-backed store holds state on-heap and can't spill a production
    // dedup horizon). Same operator code, conf only; the kill+resume leg
    // now also exercises RocksDB snapshot load from the checkpoint.
    withTempDir("graftscale") { tmp =>
      val srcDir = s"$tmp/src"; val ckpt = s"$tmp/ckpt"
      val url = s"jdbc:derby:$tmp/db;create=true"
      val nFiles = 8; val rowsPerFile = 125000L; val distinctPerFile = 12500L
      val base = 1704067200L // 2024-01-01 00:00:00 UTC, epoch seconds
      // file f = one micro-batch one hour after file f-1; every content string
      // repeats 10x inside its file (dedup fodder) and never recurs across
      // files, so expected landed rows = nFiles * distinctPerFile exactly.
      // Timestamps inside a file span <10 min (the watermark), so each file's
      // state lives exactly one batch and the 1h gap evicts it on the next.
      (0 until nFiles).foreach { f =>
        spark.range(rowsPerFile).select(
          (lit(base + f * 3600L) + (col("id") % 500)).cast("timestamp").as("ts"),
          (col("id") + f * rowsPerFile).as("doc_id"),
          concat(lit(s"file$f content "), col("id") % distinctPerFile).as("text"))
          .coalesce(1).write.mode("append").parquet(srcDir)
      }
      val schema = spark.read.parquet(srcDir).schema
      val sink = new TransactionalJdbcSink(url, "scale_docs", "scale-q")
      val sinkSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts_s", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
      sink.ensureTables(sinkSchema)
      def pipeline(): DataFrame =
        StreamOps.dedupByContent(
          StreamingPipeline.fileSource(spark, srcDir, schema, maxFilesPerTrigger = 1),
          "ts", watermark = "10 minutes")
          .select(col("doc_id"), col("ts").cast("long").as("ts_s"), col("text"))

      // run 1: land at least one micro-batch, then kill mid-stream
      val q1 = pipeline().writeStream
        .foreachBatch((b: DataFrame, id: Long) => sink.writeBatch(b, id))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(100))
        .start()
      try {
        val deadline = System.currentTimeMillis() + 120000
        while (sink.dataCount() < distinctPerFile && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
      } finally q1.stop()
      val afterKill = sink.dataCount()
      assert(afterKill >= distinctPerFile, s"no batch landed before the kill: $afterKill")

      // run 2: resume from checkpoint to completion — exactly-once at volume
      val q2 = StreamingPipeline.toJdbc(pipeline(), sink, ckpt, Trigger.AvailableNow())
      q2.awaitTermination(300000)
      val landed = sink.dataCount()
      assert(landed == nFiles * distinctPerFile,
        s"exactly-once + dedup violated: $landed != ${nFiles * distinctPerFile}")

      // bounded state: after the last batch the watermark sits 10 min behind
      // file 7's max event time — hours past every earlier file — so the store
      // holds only file 7's distinct fingerprints, NOT the 100k seen overall.
      // (2x slack: eviction granularity, no-data batches.)
      val stateRows = q2.recentProgress.reverse
        .flatMap(p => Option(p.stateOperators)).find(_.nonEmpty)
        .map(_.head.numRowsTotal)
      assert(stateRows.isDefined, "no state-operator progress recorded")
      assert(stateRows.get <= 2 * distinctPerFile,
        s"dedup state grew past the watermark horizon: ${stateRows.get} rows " +
          s"(horizon holds $distinctPerFile)")
      // and RocksDB must have actually carried that state (conf typos fall
      // back silently to the default provider — the metric names prove it)
      val rocksMetrics = q2.recentProgress.reverse
        .flatMap(p => Option(p.stateOperators)).find(_.nonEmpty)
        .map(_.head.customMetrics.keySet.toArray(Array.empty[String])
          .filter(_.startsWith("rocksdb")))
      assert(rocksMetrics.exists(_.nonEmpty),
        "RocksDB state store did not engage in the restart drill")
      info(s"landed=$landed stateRows=${stateRows.get} (horizon=$distinctPerFile)")
    }
  }

  test("scale drill: 1M-row funnel + admission kill/restart — bounded state, " +
      "exact resume, RocksDB (r12 verdict #6)") {
    // Extends the content-dedup kill drill to the OTHER two stateful
    // operators whose 100 TB story is bounded per-key state: the funnel
    // state machine (3 longs/user) and the admission cap (1 long/key).
    // Each runs ~1M rows as 8 file micro-batches on the RocksDB store, is
    // killed after the first batch lands, resumes from checkpoint, and must
    // show (a) final state EXACTLY matching an independent driver-side
    // replay of the same fold (kill+resume lost or doubled nothing) and
    // (b) state rows bounded by the key set, not the event count.
    val sp = spark
    import sp.implicits._
    withTempDir("graftsc2") { tmp =>
      val nFiles = 8

      // ---- funnelPerUser: 125k users × 1 event per file = 1M events.
      // etype cycles with (user+file) so users complete the funnel in
      // different orders (some never: purchase arriving before click is
      // correctly ignored by the stage rules).
      val users = 125000L
      val funSrc = s"$tmp/funnel_src"
      (0 until nFiles).foreach { f =>
        spark.range(users).select(
          col("id").as("user_id"),
          (lit(f * 1000000L) + col("id") % 997).as("tUs"),
          element_at(
            array(lit("view"), lit("click"), lit("purchase"), lit("noise")),
            ((col("id") + f) % 4 + 1).cast("int")).as("etype"))
          .coalesce(1).write.mode("append").parquet(funSrc)
      }
      // driver-side replay: each file is one micro-batch, one event per
      // user per batch, batches in file order — the operator's own rules
      val expected = new scala.collection.mutable.HashMap[Long, (Long, Long, Long)]
      (0 until nFiles).foreach { f =>
        (0L until users).foreach { u =>
          val tUs = f * 1000000L + u % 997
          val etype = Seq("view", "click", "purchase", "noise")(((u + f) % 4).toInt)
          val (vt, ct, pt) = expected.getOrElse(u, (-1L, -1L, -1L))
          val next = etype match {
            case "view" if vt < 0 => (tUs, ct, pt)
            case "click" if vt >= 0 && ct < 0 && tUs > vt => (vt, tUs, pt)
            case "purchase" if ct >= 0 && pt < 0 && tUs > ct => (vt, ct, tUs)
            case _ => (vt, ct, pt)
          }
          expected.update(u, next)
        }
      }
      val funSchema = spark.read.parquet(funSrc).schema
      val funnelState = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Long)]
      def funnelStream(trigger: Trigger) =
        StreamOps.funnelPerUser(
          StreamingPipeline.fileSource(spark, funSrc, funSchema, maxFilesPerTrigger = 1)
            .as[FunnelEvent])
          .writeStream.outputMode("update")
          .foreachBatch { (b: org.apache.spark.sql.Dataset[FunnelProgress], _: Long) =>
            // latest emission per user wins; stages only fill forward and
            // replayed batches re-emit identical states, so the merge is
            // idempotent across the kill
            b.collect().foreach(p => funnelState.put(p.user_id, (p.vt, p.ct, p.pt)))
          }
          .option("checkpointLocation", s"$tmp/funnel_ckpt")
          .trigger(trigger).start()
      val fq1 = funnelStream(Trigger.ProcessingTime(100))
      try {
        val deadline = System.currentTimeMillis() + 120000
        while (funnelState.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
      } finally fq1.stop()
      assert(!funnelState.isEmpty, "no funnel batch landed before the kill")
      val fq2 = funnelStream(Trigger.AvailableNow())
      fq2.awaitTermination(300000)
      assert(funnelState.size == users,
        s"funnel resume lost users: ${funnelState.size} != $users")
      var funnelDiverged = 0
      expected.foreach { case (u, exp) =>
        if (funnelState.get(u) != exp) funnelDiverged += 1
      }
      assert(funnelDiverged == 0,
        s"$funnelDiverged users' funnel stages diverged from the driver replay after kill+resume")
      val funnelStateRows = fq2.recentProgress.reverse
        .flatMap(p => Option(p.stateOperators)).find(_.nonEmpty)
        .map(_.head.numRowsTotal)
      assert(funnelStateRows.exists(_ <= users),
        s"funnel state grew past the user set: $funnelStateRows > $users")

      // ---- admitPerKey: 10k keys × 16 events per file × 8 files = 1.28M
      // events, cap k=7 — the first batch fills every key's quota, so
      // kill+resume must show EXACTLY 7 admitted per key (a naive
      // reprocess would admit 14).
      val keys = 10000L
      val cap = 7L
      val admSrc = s"$tmp/admit_src"
      (0 until nFiles).foreach { f =>
        spark.range(keys * 16).select(
          concat(lit("k"), col("id") % keys).as("key"),
          (lit(1704067200L) + lit(f * 3600L) + col("id") / keys).cast("timestamp").as("ts"),
          (lit(f * 1000000.0) + col("id")).as("value"))
          .coalesce(1).write.mode("append").parquet(admSrc)
      }
      val admSchema = spark.read.parquet(admSrc).schema
      val admitted = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Double)]
      def admitStream(trigger: Trigger) =
        StreamOps.admitPerKey(
          StreamingPipeline.fileSource(spark, admSrc, admSchema, maxFilesPerTrigger = 1)
            .as[KeyedEvent], cap)
          .writeStream.outputMode("append")
          .foreachBatch { (b: org.apache.spark.sql.Dataset[KeyedEvent], _: Long) =>
            // admission decisions are a pure function of restored state, so
            // a replayed batch re-emits the SAME events; the set dedups them
            b.collect().foreach(e => admitted.add((e.key, e.value)))
          }
          .option("checkpointLocation", s"$tmp/admit_ckpt")
          .trigger(trigger).start()
      val aq1 = admitStream(Trigger.ProcessingTime(100))
      try {
        val deadline = System.currentTimeMillis() + 120000
        while (admitted.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
      } finally aq1.stop()
      assert(!admitted.isEmpty, "no admission batch landed before the kill")
      val aq2 = admitStream(Trigger.AvailableNow())
      aq2.awaitTermination(300000)
      val perKey = new scala.collection.mutable.HashMap[String, Long]
      admitted.forEach { e =>
        perKey.update(e._1, perKey.getOrElse(e._1, 0L) + 1L): Unit
      }
      assert(perKey.size == keys, s"admission lost keys: ${perKey.size} != $keys")
      val wrong = perKey.filter(_._2 != cap)
      assert(wrong.isEmpty,
        s"${wrong.size} keys admitted != $cap after kill+resume (e.g. ${wrong.take(3)})")
      val admitStateRows = aq2.recentProgress.reverse
        .flatMap(p => Option(p.stateOperators)).find(_.nonEmpty)
        .map(_.head.numRowsTotal)
      assert(admitStateRows.exists(_ <= keys),
        s"admission state grew past the key set: $admitStateRows > $keys")
      info(s"funnel users=$users stateRows=$funnelStateRows; " +
        s"admitted keys=${perKey.size} stateRows=$admitStateRows")
    }
  }

  test("file stream -> txn sink: restart from checkpoint lands every row exactly once") {
    withTempDir("graftstream") { tmp =>
      val srcDir = s"$tmp/src"; val ckpt = s"$tmp/ckpt"
      val url = s"jdbc:derby:$tmp/db;create=true"

      val ss = SchemaBridge.parseSimple(
        """[{"name":"sds","fields":{"key_field":"string","ts_field":"long","dbl_field":"double"}}]""").head
      // 4 source files => 4 micro-batches at maxFilesPerTrigger=1 (rate cap R11)
      (0 until 4).foreach { i =>
        RecordGenerator.generate(spark, ss, 250, seed = i)
          .coalesce(1).write.mode("append").parquet(srcDir)
      }
      val schema = spark.read.parquet(srcDir).schema
      val sink = new TransactionalJdbcSink(url, "sds", "stream-q")
      sink.ensureTables(schema)

      // run 1: process only some batches, then stop mid-stream ("kill")
      val src1 = StreamingPipeline.fileSource(spark, srcDir, schema, maxFilesPerTrigger = 1)
      val q1 = src1.writeStream
        .foreachBatch((b: DataFrame, id: Long) => sink.writeBatch(b, id))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(100))
        .start()
      try {
        val deadline = System.currentTimeMillis() + 30000
        while (sink.dataCount() < 250 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
      } finally q1.stop()
      val afterKill = sink.dataCount()
      assert(afterKill >= 250, s"expected at least one batch landed, got $afterKill")

      // run 2: restart from the same checkpoint -> resumes, replays nothing
      val q2 = StreamingPipeline.toJdbc(
        StreamingPipeline.fileSource(spark, srcDir, schema, maxFilesPerTrigger = 1),
        sink, ckpt, Trigger.AvailableNow())
      q2.awaitTermination(60000)
      assert(sink.dataCount() == 1000, s"exactly-once violated: ${sink.dataCount()}")
    }
  }

  test("a checkpoint keeps its state partition count when the session default " +
      "changes: decodeAuto -> dedupByContent -> txn sink, 8 then 4") {
    // The session default follows the master's task slots, so a
    // checkpoint created under one default can restart under another.
    // Spark restores the count from the offset log: the restarted query
    // keeps 8 state partitions and lands every row exactly once.
    import graft.pipeline.{ConfluentAvro, SchemaRegistry}
    val partsKey = "spark.sql.shuffle.partitions"
    val sessionParts = spark.conf.get(partsKey)
    spark.conf.set(partsKey, "8")
    try {
      withTempDir("graftckparts") { tmp =>
        val srcDir = s"$tmp/src"; val ckpt = s"$tmp/ckpt"
        val url = s"jdbc:derby:$tmp/db;create=true"
        val avro = SchemaBridge.toAvro(graft.schema.SimpleSchema("ckparts",
          Seq("key" -> "string", "ts" -> "long", "text" -> "string")))
        val id = SchemaRegistry.register("ckparts-value", avro)
        val distinct = 200L; val baseMs = 1704067200000L
        // file f: `distinct` rows, each framed twice (dedup fodder), event
        // times inside 200 ms, files an hour apart
        def rows(f: Int) = spark.range(2 * distinct).select(
          concat(lit(s"k$f-"), col("id") % distinct).as("key"),
          (lit(baseMs + f * 3600000L) + col("id") % distinct).as("ts"),
          concat(lit(s"file$f doc "), col("id") % distinct).as("text"))
        def land(f: Int): Unit =
          ConfluentAvro.encode(rows(f), avro, id, 1).coalesce(1)
            .write.mode("append").parquet(srcDir)
        // (state partitions per progress, Σ numInputRows over the run)
        def run(): (Seq[Int], Long) = {
          val stream = StreamingPipeline.fileSource(
            spark, srcDir, spark.read.parquet(srcDir).schema, maxFilesPerTrigger = 1)
          val deduped = StreamOps.dedupByContent(
            ConfluentAvro.decodeAuto(stream, "value", avro)
              .withColumn("event_time", timestamp_millis(col("ts"))),
            "event_time", watermark = "10 minutes").drop("event_time")
          val sink = new TransactionalJdbcSink(url, "ckparts", "ckparts-q")
          sink.ensureTables(deduped.schema)
          val q = StreamingPipeline.toJdbc(deduped, sink, ckpt)
          try assert(q.awaitTermination(120000), "stream did not drain")
          finally q.stop()
          val progress = q.recentProgress.toSeq
          (progress.flatMap(p => Option(p.stateOperators).toSeq.flatten)
            .map(_.numShufflePartitions.toInt), progress.map(_.numInputRows).sum)
        }

        Seq(0, 1).foreach(land)
        val (first, firstRead) = run()
        assert(first.toSet == Set(8), "first run must build its state under the session's 8")
        // strict decode leaves `text` non-nullable, so dedupByContent adds no
        // NULL pass-through branch and each framed row is scanned once
        assert(firstRead == 2 * 2 * distinct, s"read $firstRead source rows for ${2 * 2 * distinct}")
        spark.conf.set(partsKey, "4")
        Seq(2, 3).foreach(land)
        val (resumed, resumedRead) = run()
        assert(resumed.nonEmpty && resumed.toSet == Set(8),
          s"restart must keep the checkpoint's 8 state partitions, saw ${resumed.distinct}")
        assert(resumedRead == 2 * 2 * distinct, s"read $resumedRead source rows for ${2 * 2 * distinct}")

        val landed = spark.read.format("jdbc")
          .option("url", url).option("dbtable", """"ckparts"""").load()
          .select("key", "ts", "text")
        val expected = (0 until 4).map(rows).reduce(_ union _).distinct()
        val n = landed.count()
        assert(n == 4 * distinct, s"lost/duplicated rows: $n")
        assert(landed.select("key").distinct().count() == 4 * distinct, "duplicate keys landed")
        assert(landed.exceptAll(expected).isEmpty && expected.exceptAll(landed).isEmpty,
          "landed set differs from the expected rows")
      }
    } finally {
      // restore, not unset: unset would drop to Spark's 200, not the builder's 4
      spark.conf.set(partsKey, sessionParts)
    }
  }

  test("kafka source spec constructs exactly the reference consumer's reader options") {
    // The sandbox ships no spark-sql-kafka jar, so the kafka branch cannot
    // execute here — but the OPTIONS it would hand the connector are the
    // reference semantics (AvroConsumer.java:61-93) and must not drift:
    // subscribe to the topic, earliest-then-checkpoint offsets (the seek-to-
    // stored-offset contract), max.poll.records as maxOffsetsPerTrigger, and
    // hard failure on lost offsets. With the jar present, open(spark, spec)
    // is the ONLY line between this spec and a live broker.
    val spec = StreamingPipeline.kafkaSource(
      "exam_ds1", "broker-1:9092,broker-2:9092", maxOffsetsPerTrigger = 10L)
    assert(spec.format == "kafka")
    assert(spec.schema.isEmpty, "kafka sources carry the connector's fixed schema")
    assert(spec.options == Map(
      "kafka.bootstrap.servers" -> "broker-1:9092,broker-2:9092",
      "subscribe" -> "exam_ds1",
      "startingOffsets" -> "earliest",
      "maxOffsetsPerTrigger" -> "10",
      "failOnDataLoss" -> "true"))
    // and the file stand-in rides the SAME seam (golden suite → seam-tested)
    val fileSpec = StreamingPipeline.fileSourceSpec("/tmp/x",
      new org.apache.spark.sql.types.StructType().add("a", "long"), 2)
    assert(fileSpec.format == "parquet" &&
      fileSpec.options("maxFilesPerTrigger") == "2" && fileSpec.schema.nonEmpty)
  }
}

/** The PRE-r18 neardupStream bucket-state shape (raw sorted word strings),
  * kept only as the baseline side of the state-compaction measurement. */
case class RawBucketMembers(ids: Seq[Long], words: Seq[Seq[String]])
