package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.{DriverManager, SQLException}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.pipeline.{ConfluentAvro, RecordGenerator, SchemaRegistry, TransactionalJdbcSink}
import graft.schema.{SchemaBridge, SimpleSchema}
import graft.streaming.{StreamOps, StreamingPipeline}

/** The reference pipeline end to end: framed-Avro files → fileSource →
  * decodeAuto → dedupByContent (RocksDB) → TransactionalJdbcSink (Derby).
  *
  * Inputs are a pure function of the seed: row `id` carries a unique key
  * and text, RecordGenerator fills the payload, and the event time is set
  * per file, so the exact landed set is known before the run. */
object Ingest {
  val Record: SimpleSchema = SimpleSchema("bench_event", Seq(
    "key" -> "string", "ts" -> "long", "text" -> "string", "qty" -> "int",
    "amount" -> "double", "score" -> "float", "flag" -> "boolean", "tag" -> "string"))
  val Cols: Seq[String] = Record.fields.map(_._1)
  val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z
  val Watermark = "10 minutes"
  val Table = "bench_events"
  val QueryId = "perfbench"
  val Slots = 32 // the sink's default slot count

  // ingest_drain: 10 k distinct rows per file, each row framed twice
  val DrainDistinct = 10000L
  val DrainRowsPerS = 8000.0 // backlog sizing only: about `seconds` of drain
  // ingest_steady: one small file every PeriodMs, all texts distinct
  val PeriodMs = 100
  val SteadyRowsPerTick = 500L
  val SetupReps = 3

  lazy val avro = SchemaBridge.toAvro(Record)
  lazy val schemaId: Int = SchemaRegistry.register("bench_event-value", avro)

  /** Distinct rows `id` in [from, until); `file` and `ts` derive from id. */
  def rows(spark: SparkSession, seed: Long, from: Long, until: Long,
           fileOf: Column => Column, tsOf: Column => Column): DataFrame = {
    def gen(t: String, name: String) = RecordGenerator.valueFor(t, seed, name)
    spark.range(from, until).select(
      concat(lit("k"), col("id")).as("key"),
      tsOf(col("id")).as("ts"),
      concat(lit("doc "), col("id"), lit(" "), gen("string", "text")).as("text"),
      gen("int", "qty").as("qty"), gen("double", "amount").as("amount"),
      gen("float", "score").as("score"), gen("boolean", "flag").as("flag"),
      gen("string", "tag").as("tag"),
      fileOf(col("id")).cast("int").as("file"))
  }

  /** Frame `df` (each row `copies` times) and write one parquet file per
    * `file` value into `dir` as name(file), mtime ascending with file. */
  def land(spark: SparkSession, df: DataFrame, copies: Int, stage: String, dir: String,
           fileOf: Column => Column, name: Int => String): Long = {
    val dup = if (copies == 1) df else df.withColumn("copy", explode(sequence(lit(1), lit(copies))))
    val framed = ConfluentAvro.encode(dup.select(Cols.map(col): _*), avro, schemaId,
      spark.sparkContext.defaultParallelism)
    framed.withColumn("file", fileOf(substring(col("key"), 2, 30).cast("long")).cast("int"))
      .repartition(col("file"))
      .write.partitionBy("file").parquet(stage)
    val out = new File(dir); out.mkdirs()
    val stamp = System.currentTimeMillis() - 3600000L
    var n = 0L
    new File(stage).listFiles().filter(_.getName.startsWith("file=")).foreach { d =>
      val f = d.getName.stripPrefix("file=").toInt
      val parts = d.listFiles().filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      require(parts.length == 1, s"expected one part file in $d, got ${parts.length}")
      parts(0).setLastModified(stamp + f * 1000L)
      Files.move(parts(0).toPath, Paths.get(dir, name(f)), StandardCopyOption.ATOMIC_MOVE)
      n += 1
    }
    PerfBench.rm(new File(stage))
    n
  }

  final case class Batch(id: Long, startMs: Double, endMs: Double, ok: Boolean)

  /** One streaming run over `src` into a fresh Derby database. */
  final class Run(spark: SparkSession, ctx: Ctx, dir: String, trace: Boolean) {
    val src = s"$dir/src"
    val ckpt = s"$dir/ckpt"
    val url = s"jdbc:derby:$dir/db;create=true"
    val sink = new TransactionalJdbcSink(url, Table, QueryId, numSlots = Slots)
    val batches = new ConcurrentLinkedQueue[Batch]()
    val progress = new ConcurrentLinkedQueue[String]()
    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.json)
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    var startMs = 0.0
    var query: StreamingQuery = _
    private var startCompile: Compile = _
    @volatile private var firstCommit: Option[(Double, Compile)] = None

    /** Stream start → first committed batch: the cold batch, with the
      * compile counters it moved. */
    def coldBatch: Option[(Double, Map[String, Double])] =
      firstCommit.map { case (t, c) => ((t - startMs) / 1e3, startCompile.to(c)) }

    def pipeline(maxFiles: Int): DataFrame = {
      val framedSchema = spark.read.parquet(src).schema
      val stream = StreamingPipeline.fileSource(spark, src, framedSchema, maxFilesPerTrigger = maxFiles)
      val decoded = ConfluentAvro.decodeAuto(stream, "value", avro)
      StreamOps.dedupByContent(decoded.withColumn("event_time", timestamp_millis(col("ts"))),
        "event_time", Watermark).drop("event_time")
    }

    def start(maxFiles: Int, trigger: Trigger): Unit = {
      val df = pipeline(maxFiles)
      sink.ensureTables(df.schema)
      if (trace) spark.streams.addListener(listener)
      val parent = ctx.spans.currentId
      startCompile = Compile.now()
      startMs = Clock.ms()
      query = df.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          val t0 = Clock.ms()
          var ok = false
          try { ctx.spans("sink.writeBatch", parent)(sink.writeBatch(b, id)); ok = true }
          finally {
            val t1 = Clock.ms()
            if (ok && firstCommit.isEmpty) firstCommit = Some((t1, Compile.now()))
            batches.add(Batch(id, t0, t1, ok))
          }
        }
        .option("checkpointLocation", ckpt)
        .trigger(trigger)
        .start()
    }

    def stop(): Option[String] = {
      try query.stop() catch { case _: Throwable => () }
      if (trace) spark.streams.removeListener(listener)
      query.exception.map(_.getMessage.take(500))
    }

    /** File name → batch id, from the file source's own metadata log. */
    def fileBatches(): Map[String, Long] = {
      val m = new ObjectMapper()
      val logDir = new File(s"$ckpt/sources/0")
      Option(logDir.listFiles()).getOrElse(Array.empty[File]).toSeq
        .filter(f => f.getName.matches("[0-9]+(\\.compact)?")).flatMap { f =>
        Files.readAllLines(f.toPath).asScala.drop(1).filter(_.startsWith("{")).map { line =>
          val n = m.readTree(line)
          new File(new java.net.URI(n.get("path").asText()).getPath).getName -> n.get("batchId").asLong
        }
      }.toMap
    }

    /** The four ingest correctness checks against the expected set. */
    def check(expected: DataFrame, fileBatch: Map[Int, Long], nFiles: Int): Map[String, Any] = {
      val landed = spark.read.format("jdbc").option("url", url)
        .option("dbtable", "\"" + Table + "\"").load()
      val types = expected.schema
      def summary(df: DataFrame) = df.select(
        count(lit(1)),
        sum(xxhash64(Cols.map(c => col(c).cast(types(c).dataType)): _*).cast("decimal(38,0)")),
        countDistinct(col("key"))).head()
      val e = summary(expected)
      val l = summary(landed.select(Cols.map(col): _*))
      import spark.implicits._
      val fb = fileBatch.toSeq.toDF("file", "batch")
      val pairs = expected
        .withColumn("slot", pmod(hash(hash(Cols.map(col): _*)), lit(Slots)))
        .join(fb, "file").select("batch", "slot").distinct().count()
      val ledger = sink.ledgerCount()
      val problems = Seq(
        (l.getLong(0) != e.getLong(0)) -> s"landed rows ${l.getLong(0)} != expected ${e.getLong(0)}",
        (l.get(1) != e.get(1)) -> s"landed content hash ${l.get(1)} != expected ${e.get(1)}",
        (l.getLong(2) != l.getLong(0)) -> s"duplicated keys: ${l.getLong(0)} rows, ${l.getLong(2)} keys",
        (ledger != pairs) -> s"ledger rows $ledger != non-empty (batch, slot) pairs $pairs",
        (fileBatch.size != nFiles) -> s"only ${fileBatch.size} of $nFiles files reached a batch")
        .collect { case (true, msg) => msg }
      Map("landed_rows" -> l.getLong(0), "expected_rows" -> e.getLong(0),
        "ledger_rows" -> ledger, "slot_pairs" -> pairs, "problems" -> problems)
    }

    def record(extra: Map[String, Any]): Map[String, Any] = Map(
      "start_ms" -> startMs,
      "cold_batch_s" -> coldBatch.map(_._1).getOrElse(Double.NaN),
      "cold_batch_compile" -> coldBatch.map(_._2).getOrElse(Map.empty),
      "batches" -> batches.asScala.toSeq.sortBy(_.id).map(b =>
        Map("id" -> b.id, "start_ms" -> b.startMs, "end_ms" -> b.endMs, "ok" -> b.ok)),
      "progress" -> progress.asScala.toSeq) ++ extra
  }

  /** Median of SetupReps timed repetitions; the last one's output stays. */
  def setupReps(ctx: Ctx, name: String)(f: Int => Unit): Seq[Double] =
    (0 until SetupReps).map { i =>
      val t0 = Clock.ms()
      ctx.spans(name)(f(i))
      (Clock.ms() - t0) / 1e3
    }

  def drainOnce(spark: SparkSession, ctx: Ctx, tag: String, traced: Boolean): Map[String, Any] = {
    val nFiles = math.max(4, math.ceil(ctx.seconds * DrainRowsPerS / (2 * DrainDistinct)).toInt + 1)
    val fileOf = (id: Column) => (id / DrainDistinct).cast("long")
    val expected = rows(spark, ctx.seed, 0, nFiles * DrainDistinct, fileOf,
      id => lit(BaseMs) + fileOf(id) * 3600000L + (id % 500) * 1000L)
    val name = (f: Int) => PerfBench.fileName("backlog", f)
    val dir = s"${ctx.runDir}/$tag"
    val setup = setupReps(ctx, "setup.land") { i =>
      PerfBench.rm(new File(s"$dir/src"))
      land(spark, expected, 2, s"$dir/stage", s"$dir/src", fileOf, name)
    }
    val run = new Run(spark, ctx, dir, traced)
    val probe = if (traced) Some(new RuntimeProbe(spark).attach()) else None
    val s0 = probe.map(_.snap())
    ctx.spans("stream.drain") {
      run.start(1, Trigger.AvailableNow())
      run.query.awaitTermination(150000L)
    }
    val streamEnd = Clock.ms()
    val s1 = probe.map(_.snap())
    val err = run.stop()
    val fb = run.fileBatches()
    val files = (0 until nFiles).map(f => Map("file" -> f, "rows" -> 2 * DrainDistinct,
      "batch" -> fb.getOrElse(name(f), -1L)))
    val checks = ctx.spans("check")(run.check(expected, (0 until nFiles).flatMap(f =>
      fb.get(name(f)).map(f -> _)).toMap, nFiles))
    val layers = probe.map { p =>
      p.detach()
      p.between(s0.get, s1.get) ++
        Probe.pipeline(spark, ctx, s"$dir/src", nFiles * 2 * DrainDistinct, expected.limit(DrainDistinct.toInt), s"$dir/iso")
    }.getOrElse(Map.empty)
    Derby.shutdown(s"$dir/db")
    run.record(Map("setup_s" -> setup, "files" -> files, "error" -> err.orNull,
      "checks" -> checks, "layers" -> layers, "published_rows" -> nFiles * 2 * DrainDistinct,
      "stream_end_ms" -> streamEnd))
  }

  def drain(spark: SparkSession, ctx: Ctx): Map[String, Any] = {
    val plain = drainOnce(spark, ctx, "drain", traced = false)
    if (!ctx.trace) Map("runs" -> Seq(plain))
    else Map("runs" -> Seq(plain, drainOnce(spark, ctx, "drain-traced", traced = true)))
  }

  def steadyOnce(spark: SparkSession, ctx: Ctx, tag: String, traced: Boolean): Map[String, Any] = {
    val ticks = math.max(100, ctx.seconds * 1000 / PeriodMs)
    val nFiles = ticks + 1 // file 0 warms the stream up and is not timed
    val fileOf = (id: Column) => (id / SteadyRowsPerTick).cast("long")
    val expected = rows(spark, ctx.seed, 0, nFiles * SteadyRowsPerTick, fileOf,
      id => lit(BaseMs) + fileOf(id) * PeriodMs.toLong)
    val name = (f: Int) => PerfBench.fileName("tick", f)
    val dir = s"${ctx.runDir}/$tag"
    val staged = s"$dir/staged"
    val setup = setupReps(ctx, "setup.stage") { _ =>
      PerfBench.rm(new File(staged))
      land(spark, expected, 1, s"$dir/stage", staged, fileOf, name)
    }
    val run = new Run(spark, ctx, dir, traced)
    new File(run.src).mkdirs()
    def publish(f: Int): Unit =
      Files.move(Paths.get(staged, name(f)), Paths.get(run.src, name(f)), StandardCopyOption.ATOMIC_MOVE)
    publish(0) // file 0 gives the source its schema and takes the cold first batch
    run.start(100000, Trigger.ProcessingTime(PeriodMs.toLong))
    run.query.processAllAvailable()
    val probe = if (traced) Some(new RuntimeProbe(spark).attach()) else None
    val s0 = probe.map(_.snap())
    val t0 = Clock.ms() + PeriodMs
    val due = new Array[Double](nFiles)
    val pub = new Array[Double](nFiles)
    ctx.spans("generator.schedule") {
      var f = 1
      while (f < nFiles) {
        due(f) = t0 + (f - 1) * PeriodMs.toDouble
        var left = due(f) - Clock.ms()
        while (left > 0) {
          if (left > 2) Thread.sleep((left - 1).toLong) else Thread.onSpinWait()
          left = due(f) - Clock.ms()
        }
        publish(f)
        pub(f) = Clock.ms()
        f += 1
      }
    }
    ctx.spans("stream.catch_up")(try run.query.processAllAvailable() catch { case _: Throwable => () })
    val s1 = probe.map(_.snap())
    val err = run.stop()
    val fb = run.fileBatches()
    val files = (1 until nFiles).map(f => Map("file" -> f, "rows" -> SteadyRowsPerTick,
      "due_ms" -> due(f), "pub_ms" -> pub(f), "batch" -> fb.getOrElse(name(f), -1L)))
    val checks = ctx.spans("check")(run.check(expected, (0 until nFiles).flatMap(f =>
      fb.get(name(f)).map(f -> _)).toMap, nFiles))
    val layers = probe.map { p =>
      p.detach()
      p.between(s0.get, s1.get) ++
        Probe.pipeline(spark, ctx, run.src, nFiles * SteadyRowsPerTick,
          expected.limit(20000), s"$dir/iso")
    }.getOrElse(Map.empty)
    Derby.shutdown(s"$dir/db")
    run.record(Map("setup_s" -> setup, "files" -> files, "error" -> err.orNull,
      "checks" -> checks, "layers" -> layers, "period_ms" -> PeriodMs,
      "published_rows" -> nFiles * SteadyRowsPerTick))
  }

  def steady(spark: SparkSession, ctx: Ctx): Map[String, Any] = {
    val plain = steadyOnce(spark, ctx, "steady", traced = false)
    if (!ctx.trace) Map("runs" -> Seq(plain))
    else Map("runs" -> Seq(plain, steadyOnce(spark, ctx, "steady-traced", traced = true)))
  }
}

object Derby {
  /** Close one embedded database so its files can be deleted; Derby
    * signals a clean database shutdown with SQLState 08006. */
  def shutdown(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true").close()
    catch { case e: SQLException if e.getSQLState == "08006" => () }
}

/** Isolated calls into the pipeline layer: encode, decode and the sink,
  * each timed outside any stream. */
object Probe {
  def pipeline(spark: SparkSession, ctx: Ctx, framedDir: String, framedRows: Long,
               sinkRows: DataFrame, dir: String): Map[String, Double] = {
    import Ingest._
    def timed(name: String)(f: => Unit): Double = {
      val t0 = Clock.ms(); ctx.spans(name)(f); (Clock.ms() - t0) / 1e3
    }
    val gen = rows(spark, ctx.seed + 1, 0, 200000L, id => lit(0), id => lit(BaseMs) + id)
      .select(Cols.map(col): _*)
    val encS = timed("probe.encode")(ConfluentAvro.encode(gen, avro, schemaId,
      spark.sparkContext.defaultParallelism).write.format("noop").mode("overwrite").save())
    val decS = timed("probe.decode")(ConfluentAvro.decodeAuto(spark.read.parquet(framedDir),
      "value", avro).write.format("noop").mode("overwrite").save())
    val rowsIn = sinkRows.select(Cols.map(col): _*).cache()
    val n = rowsIn.count()
    val sink = new TransactionalJdbcSink(s"jdbc:derby:$dir/db;create=true", Table, QueryId,
      numSlots = Slots)
    sink.ensureTables(rowsIn.schema)
    val sinkS = timed("probe.sink")(sink.writeBatch(rowsIn, 0L))
    rowsIn.unpersist(blocking = true)
    Derby.shutdown(s"$dir/db")
    Map("encode.rows_per_s" -> 200000L / encS, "decode.rows_per_s" -> framedRows / decS,
      "sink.isolated_rows_per_s" -> n / sinkS)
  }

  /** The same calls for a workload that lands no backlog of its own. */
  def pipelineStandalone(spark: SparkSession, ctx: Ctx): Map[String, Double] = {
    import Ingest._
    val dir = s"${ctx.runDir}/probe"
    val fileOf = (id: Column) => (id / 50000L).cast("long")
    val df = rows(spark, ctx.seed, 0, 200000L, fileOf, id => lit(BaseMs) + id)
    land(spark, df, 1, s"$dir/stage", s"$dir/src", fileOf, f => PerfBench.fileName("probe", f))
    pipeline(spark, ctx, s"$dir/src", 200000L, df.limit(20000), s"$dir/iso")
  }
}
