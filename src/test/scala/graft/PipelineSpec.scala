package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.schema.{SchemaBridge, SimpleSchema}
import graft.functions.JavaStringHash
import graft.pipeline.{Bootstrap, ConfluentAvro, RecordGenerator, SchemaRegistry, TransactionalJdbcSink}
import graft.TempDirs.withTempDir

/** Pipeline-layer unit tests (SURVEY §5.2): schema bridge round-trips,
  * generator determinism, hashCode parity, Confluent framing round-trip,
  * exactly-once sink idempotence (the README kill-drill, §5.1, as a test). */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Same dialect as reference schema/schema_before.json (shape replicated,
    * not copied): name + flat typed fields, `integer` alias allowed. */
  val simpleJson: String =
    """[
      |  {"name": "ds1", "fields": {"key_field": "string", "ts_field": "long",
      |                             "str_field": "string", "dbl_field": "double"}},
      |  {"name": "ds2", "fields": {"ts_field": "long", "int_field": "integer",
      |                             "flt_field": "float", "bool_field": "boolean"}}
      |]""".stripMargin

  // ---------------------------------------------------------- SchemaBridge

  test("SchemaBridge parses simple dialect with integer->int alias") {
    val ss = SchemaBridge.parseSimple(simpleJson)
    assert(ss.map(_.name) == Seq("ds1", "ds2"))
    assert(ss(1).fields.toMap.apply("int_field") == "int") // alias rewritten
    assert(ss(0).fields.head._1 == "key_field") // field order preserved
  }

  test("SchemaBridge round-trips simple -> avro -> struct -> avro") {
    val ss = SchemaBridge.parseSimple(simpleJson)
    ss.foreach { s =>
      val avro = SchemaBridge.toAvro(s)
      assert(avro.getNamespace == "com.exam") // DataPipeline.java:41
      val st = SchemaBridge.avroToStruct(avro)
      assert(st == SchemaBridge.toStructType(s))
      val back = SchemaBridge.structToAvro(s.name, st)
      assert(back.getFields == avro.getFields)
    }
  }

  test("SchemaBridge rejects unknown types") {
    intercept[IllegalArgumentException] {
      SchemaBridge.parseSimple("""[{"name":"x","fields":{"f":"decimal"}}]""")
    }
  }

  test("Bootstrap creates catalog tables + ledger") {
    val schemas = Bootstrap.fromJson(spark, simpleJson, "graft_test")
    val tables = spark.sql("SHOW TABLES IN graft_test").collect().map(_.getString(1)).toSet
    assert(Set("ds1", "ds2", "batch_ledger").subsetOf(tables))
    assert(schemas.size == 2)
  }

  // -------------------------------------------------------- JavaStringHash

  test("java_string_hash matches String#hashCode (property)") {
    val gen = org.scalacheck.Gen.asciiStr
    val unicode = org.scalacheck.Arbitrary.arbitrary[String]
    val samples = (1 to 200).flatMap(i => gen.apply(org.scalacheck.Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong))) ++
      (1 to 200).flatMap(i => unicode.apply(org.scalacheck.Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong + 1000)))
    (samples ++ Seq("", "a", "폭포", "\u0000x")).foreach { s =>
      val expr = graft.functions.JavaStringHash(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(s),
          org.apache.spark.sql.types.StringType))
      assert(expr.eval(null) == s.hashCode, s"mismatch for ${s.take(20)}")
    }
  }

  test("java_string_hash codegen path + partition parity vs reference") {
    val keys = Seq("abc", "zzzz", "Kafka", "님", "", "a b c", "0", "-1")
    val df = spark.createDataFrame(
        spark.sparkContext.parallelize(keys.map(org.apache.spark.sql.Row(_))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType))))
      .select(col("k"),
        JavaStringHash.java_string_hash(col("k")).as("h"),
        JavaStringHash.partition_for(col("k"), 3).as("p"))
    df.collect().foreach { r =>
      assert(r.getInt(1) == r.getString(0).hashCode)
      assert(r.getInt(2) == JavaStringHash.referencePartitionFor(r.getString(0), 3))
    }
  }

  test("java_string_hash is callable from SQL after registration") {
    JavaStringHash.registerSql(spark)
    val r = spark.sql("SELECT java_string_hash('kafka') AS h").collect()(0)
    assert(r.getInt(0) == "kafka".hashCode)
    // non-string args coerce to string instead of failing codegen/eval
    val n = spark.sql("SELECT java_string_hash(12345) AS h").collect()(0)
    assert(n.getInt(0) == "12345".hashCode)
  }

  test("txn sink binds SQL NULL for null values, not zero") {
    withTempDir("graftderbynull") { dbDir =>
      val url = s"jdbc:derby:$dbDir/db;create=true"
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType, nullable = true)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row("a", 7L), org.apache.spark.sql.Row("b", null)), 1), schema)
      val sink = new TransactionalJdbcSink(url, "nulls", "null-q")
      sink.ensureTables(schema)
      sink.writeBatch(df, batchId = 0)
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement().executeQuery("""SELECT "v" FROM "nulls" WHERE "k" = 'b'""")
        rs.next()
        rs.getLong(1)
        assert(rs.wasNull(), "null landed as 0, not SQL NULL")
      } finally conn.close()
    }
  }

  // ------------------------------------------------------- RecordGenerator

  test("generator is deterministic and reproduces reference distributions") {
    val ss = SchemaBridge.parseSimple(simpleJson)
    val a = RecordGenerator.generate(spark, ss(1), 500, seed = 7).collect()
    val b = RecordGenerator.generate(spark, ss(1), 500, seed = 7).collect()
    assert(a.toSeq == b.toSeq) // same seed -> identical
    val c = RecordGenerator.generate(spark, ss(1), 500, seed = 8).collect()
    assert(a.toSeq != c.toSeq) // different seed -> different stream
    a.foreach { r =>
      val i = r.getAs[Int]("int_field")
      assert(i >= 1 && i <= 100) // RANDOM.nextInt(100)+1
      val f = r.getAs[Float]("flt_field")
      assert(f >= 0f && f <= 1f && math.round(f.toDouble * 1000).toFloat / 1000f == f) // 3dp
    }
    val strs = RecordGenerator.generate(spark, ss(0), 200).collect()
    strs.foreach { r =>
      assert(r.getAs[String]("key_field").matches("[a-z]{6}")) // 6 letters
      assert(r.getAs[Long]("ts_field") >= RecordGenerator.BaseMillis)
    }
  }

  // -------------------------------------------------------- ConfluentAvro

  test("Confluent framing: header layout + round-trip through Avro body") {
    val ss = SchemaBridge.parseSimple(simpleJson).head
    val avro = SchemaBridge.toAvro(ss)
    val id = SchemaRegistry.register("ds1-value", avro)
    assert(SchemaRegistry.idFor(avro) == id) // deterministic id

    val src = RecordGenerator.generate(spark, ss, 300, seed = 11)
    val enc = ConfluentAvro.encode(src, avro, id, numPartitions = 3)
    val rows = enc.collect()
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("value")
      assert(bytes(0) == 0x00) // magic byte
      val (gotId, _) = ConfluentAvro.unframe(bytes)
      assert(gotId == id) // 4-byte BE schema id
      val k = r.getAs[String]("key")
      assert(r.getAs[Int]("partition") == JavaStringHash.referencePartitionFor(k, 3))
    }
    val dec = ConfluentAvro.decode(enc, "value", avro, expectedSchemaId = Some(id))
    val norm = (d: org.apache.spark.sql.DataFrame) =>
      d.orderBy("key_field", "ts_field", "str_field", "dbl_field").collect().toSeq
    assert(norm(dec) == norm(src))
  }

  test("decodePermissive dead-letters malformed frames instead of failing the job") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val ss = SchemaBridge.parseSimple(simpleJson).head
    val avro = SchemaBridge.toAvro(ss)
    val id = SchemaRegistry.register("dlq-value", avro)
    val good = ConfluentAvro.encode(
      RecordGenerator.generate(spark, ss, 5, seed = 21), avro, id, numPartitions = 2)
      .select("value").collect().map(_.getAs[Array[Byte]](0))

    val badMagic = good.head.clone(); badMagic(0) = 0x7f // wrong magic byte
    val truncated = good.head.take(3)                    // shorter than header
    val badBody = ConfluentAvro.frame(id, Array[Byte](1, 2)) // unparseable Avro
    val frames = (good.toSeq :+ badMagic :+ truncated :+ badBody).map(Row(_))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(frames, 2),
      StructType(Seq(StructField("value", BinaryType))))

    val out = ConfluentAvro.decodePermissive(df, "value", avro, Some(id)).collect()
    assert(out.length == 8)
    val (bad, ok) = out.partition(r => r.getString(r.length - 1) != null)
    assert(ok.length == 5 && bad.length == 3)
    ok.foreach(r => assert(!r.isNullAt(0))) // decoded fields populated
    bad.foreach { r =>
      (0 until r.length - 1).foreach(i => assert(r.isNullAt(i))) // all-null payload
      assert(r.getString(r.length - 1).nonEmpty)                 // reason recorded
    }
    // strict decode on the same input DOES fail — permissive is opt-in
    intercept[org.apache.spark.SparkException] {
      ConfluentAvro.decode(df, "value", avro, Some(id)).collect()
    }
  }

  test("decodePermissive property: survives random truncation/bit-flip/garbage frames") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val ss = SchemaBridge.parseSimple(simpleJson).head
    val avro = SchemaBridge.toAvro(ss)
    val id = SchemaRegistry.register("fuzz-value", avro)
    val good = ConfluentAvro.encode(
      RecordGenerator.generate(spark, ss, 50, seed = 31), avro, id, numPartitions = 2)
      .select("value").collect().map(_.getAs[Array[Byte]](0))
    val rnd = new scala.util.Random(4242) // fixed seed — reproducible cases

    def run(frames: Seq[Array[Byte]]): Array[Row] = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(frames.map(Row(_)), 4),
        StructType(Seq(StructField("value", BinaryType))))
      val out = ConfluentAvro.decodePermissive(df, "value", avro, Some(id)).collect()
      assert(out.length == frames.length, "permissive decode dropped rows")
      out
    }
    def corruptOf(r: Row) = Option(r.getString(r.length - 1))

    // (a) STRICT prefixes: every original byte was needed (the encoder emits
    // exact-length bodies), so any truncation must dead-letter, whether it
    // cuts the 5-byte header or the Avro body
    val truncated = Seq.fill(200) {
      val f = good(rnd.nextInt(good.length)); f.take(rnd.nextInt(f.length))
    }
    run(truncated).foreach(r => assert(corruptOf(r).isDefined,
      "a strict prefix decoded cleanly — the decoder read past the buffer"))

    // (b) single bit-flips in the HEADER: magic or schema id must mismatch
    val headerFlips = Seq.fill(100) {
      val f = good(rnd.nextInt(good.length)).clone()
      val pos = rnd.nextInt(ConfluentAvro.HeaderLen)
      f(pos) = (f(pos) ^ (1 << rnd.nextInt(8))).toByte; f
    }
    run(headerFlips).foreach(r => assert(corruptOf(r).isDefined,
      "a corrupted header passed the frame check"))

    // (c) single bit-flips in the BODY: Avro has no checksum, so a flip may
    // still parse (to different values) — the property is per-row isolation:
    // no crash, and a row is EITHER fully decoded OR fully dead-lettered
    val bodyFlips = Seq.fill(200) {
      val f = good(rnd.nextInt(good.length)).clone()
      val pos = ConfluentAvro.HeaderLen + rnd.nextInt(f.length - ConfluentAvro.HeaderLen)
      f(pos) = (f(pos) ^ (1 << rnd.nextInt(8))).toByte; f
    }
    run(bodyFlips).foreach { r =>
      if (corruptOf(r).isEmpty)
        assert(!r.isNullAt(0) && !r.isNullAt(1), "half-decoded row leaked through")
      else (0 until r.length - 1).foreach(i =>
        assert(r.isNullAt(i), "dead-lettered row kept partial fields"))
    }

    // (d) random garbage (first byte forced non-magic so none can be valid)
    val garbage = Seq.fill(100) {
      val b = new Array[Byte](rnd.nextInt(40)); rnd.nextBytes(b)
      if (b.nonEmpty) b(0) = (rnd.nextInt(255) + 1).toByte
      b
    }
    run(garbage).foreach(r => assert(corruptOf(r).isDefined, "garbage decoded cleanly"))

    // (e) corrupt rows interleaved with good ones: isolation means every
    // good frame still decodes — one poisoned record never taints neighbors
    val mixed = rnd.shuffle(good.toSeq ++ truncated.take(50) ++ garbage.take(50))
    val okRows = run(mixed).count(r => corruptOf(r).isEmpty)
    assert(okRows == good.length, s"good-frame count drifted: $okRows != ${good.length}")
  }

  test("decodeAuto resolves mixed schema versions via registry snapshot") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val v1 = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"evo","namespace":"com.exam","fields":[
        |{"name":"key_field","type":"string"},{"name":"num","type":"int"}]}""".stripMargin)
    val v2 = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"evo","namespace":"com.exam","fields":[
        |{"name":"key_field","type":"string"},{"name":"num","type":"int"},
        |{"name":"extra","type":"string","default":"?"}]}""".stripMargin)
    val id1 = SchemaRegistry.register("evo-value", v1)
    val id2 = SchemaRegistry.register("evo-value", v2)
    assert(id1 != id2)

    val df1 = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("a", 1), Row("b", 2)), 1),
      StructType(Seq(StructField("key_field", StringType), StructField("num", IntegerType))))
    val df2 = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("c", 3, "x")), 1),
      StructType(Seq(StructField("key_field", StringType), StructField("num", IntegerType),
        StructField("extra", StringType))))
    val mixed = ConfluentAvro.encode(df1, v1, id1, 3)
      .unionByName(ConfluentAvro.encode(df2, v2, id2, 3))

    // read the mixed stream with the NEWER schema: old rows get the default
    val out = ConfluentAvro.decodeAuto(mixed, "value", v2)
      .orderBy("key_field").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
    assert(out == Seq(("a", 1, "?"), ("b", 2, "?"), ("c", 3, "x")))

    // read with the OLDER schema: the added field is projected away
    val narrow = ConfluentAvro.decodeAuto(mixed, "value", v1)
      .orderBy("key_field").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(narrow == Seq(("a", 1), ("b", 2), ("c", 3)))
  }

  // ------------------------------------------- exactly-once JDBC txn sink

  test("txn sink: batch replay is exactly-once (README kill-drill)") {
    withTempDir("graftderby") { dbDir =>
      val url = s"jdbc:derby:$dbDir/db;create=true"
      val ss = SchemaBridge.parseSimple(simpleJson).head
      val df = RecordGenerator.generate(spark, ss, 1000, seed = 3).repartition(4)

      val sink = new TransactionalJdbcSink(url, "ds1", "query-A", numSlots = 4)
      sink.ensureTables(df.schema)

      sink.writeBatch(df, batchId = 0)
      assert(sink.dataCount() == 1000)
      assert(sink.ledgerCount() == 4) // one ledger row per content-hash slot

      // replay the SAME batch (crash-recovery path): must be a no-op
      sink.writeBatch(df, batchId = 0)
      assert(sink.dataCount() == 1000)

      // replay the same DATA partitioned differently upstream (AQE re-plan,
      // changed shuffle partitions after a restart): slot membership is a
      // content hash, so this must still be a no-op — keying on the runtime
      // partition id here would silently drop or duplicate rows
      sink.writeBatch(df.repartition(7), batchId = 0)
      assert(sink.dataCount() == 1000)

      // a replay under a DIFFERENT slot count can't be matched to the ledger:
      // the sink must refuse loudly BEFORE any task writes (un-ledgered slot
      // ids would otherwise commit overlapping rows and only then abort)
      val skewed = new TransactionalJdbcSink(url, "ds1", "query-A", numSlots = 8)
      intercept[IllegalStateException] { skewed.writeBatch(df, batchId = 0) }
      assert(sink.dataCount() == 1000)

      // next batch appends
      sink.writeBatch(df, batchId = 1)
      assert(sink.dataCount() == 2000)
      assert(sink.ledgerCount() == 8)

      // legacy-ledger migration: a ledger created before the n_slots column
      // existed must be ALTERed by ensureTables, not brick every write
      withTempDir("graftderbymig") { migDir =>
        val migUrl = s"jdbc:derby:$migDir/db;create=true"
        val mconn = java.sql.DriverManager.getConnection(migUrl)
        try mconn.createStatement().execute(
          """CREATE TABLE "batch_ledger" (query_id VARCHAR(100) NOT NULL,
            |batch_id BIGINT NOT NULL, partition_id INT NOT NULL, row_count BIGINT,
            |PRIMARY KEY (query_id, batch_id, partition_id))""".stripMargin)
        finally mconn.close()
        val mig = new TransactionalJdbcSink(migUrl, "mig", "mig-q", numSlots = 2)
        mig.ensureTables(df.schema)
        mig.writeBatch(df, batchId = 0)
        assert(mig.dataCount() == 1000)
        assert(mig.ledgerCount() == 2)

        // a batch with a surviving PRE-migration ledger row (NULL n_slots) must
        // refuse up front: its original slot layout is unknowable, and letting
        // the job start would commit overlapping rows on un-ledgered slot ids
        // before any per-slot check fired — the partial-commit duplicate leak
        val nconn = java.sql.DriverManager.getConnection(migUrl)
        try nconn.createStatement().execute(
          """INSERT INTO "batch_ledger" (query_id, batch_id, partition_id, row_count)
            | VALUES ('mig-q', 5, 0, 10)""".stripMargin)
        finally nconn.close()
        intercept[IllegalStateException] { mig.writeBatch(df, batchId = 5) }
        assert(mig.dataCount() == 1000) // nothing leaked before the refusal

        // JDBC SCAN (SURVEY §2.3.1 R12 read direction): Spark reads the landed
        // table back and the round-trip preserves every row.
        val back = spark.read.format("jdbc")
          .option("url", url).option("dbtable", """"ds1"""").load()
        assert(back.count() == 2000)
        assert(back.columns.sorted.toSeq == df.columns.sorted.toSeq)
        val key = df.columns.head
        assert(back.select(key).distinct().count() == df.select(key).distinct().count())
      }
    }
  }

  // ------------------------------------------------- R4 topic lifecycle

  /** Scripted fake broker: deletion is ASYNC (the Kafka behavior the
    * reference's poll loop exists for) — a deleted topic stays visible for
    * `deleteLatency` subsequent listTopics calls. Records every call. */
  private class FakeTopicAdmin(initial: Set[String], deleteLatency: Int)
      extends graft.pipeline.TopicAdmin {
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    private var topics = initial
    private var pendingDelete = Map.empty[String, Int]
    override def listTopics(): Set[String] = {
      calls += "list"
      pendingDelete = pendingDelete.map { case (t, n) => t -> (n - 1) }
      val (gone, waiting) = pendingDelete.partition(_._2 <= 0)
      topics --= gone.keySet
      pendingDelete = waiting
      topics ++ pendingDelete.keySet
    }
    override def deleteTopic(name: String): Unit = {
      calls += s"delete:$name"
      pendingDelete += name -> deleteLatency
    }
    override def createTopic(name: String, numPartitions: Int, rf: Short): Unit = {
      calls += s"create:$name:$numPartitions:$rf"
      topics += name
    }
  }

  test("TopicAdmin.recreate pins the reference's delete-poll-create contract (R4)") {
    // DataPipeline.java:80-126: existing topic -> delete, sleep 3s, poll
    // every 3s until gone, create with n x r, sleep 3s, verify present
    val admin = new FakeTopicAdmin(Set("dataset1"), deleteLatency = 2)
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    graft.pipeline.TopicAdmin.recreate(admin, Seq("dataset1", "dataset2"),
      numPartitions = 3, replicationFactor = 3, sleeper = sleeps += _)
    assert(admin.calls.toSeq == Seq(
      "list",                     // exists check (:94)
      "delete:dataset1",          // delete (:95)
      "list", "list",             // poll-until-gone (latency 2 -> 2 polls)
      "create:dataset1:3:3",      // create n x r (:108-110)
      "list",                     // creation verify (:114)
      "list",                     // dataset2: exists check (absent)
      "create:dataset2:3:3",
      "list"), s"call sequence: ${admin.calls}")
    // cadence: every wait is the reference's 3 s (one after delete, one per
    // extra poll, one before each creation verify)
    assert(sleeps.toSeq == Seq.fill(sleeps.size)(3000L) && sleeps.size == 4,
      s"sleep cadence: $sleeps")
    // a topic that never disappears must error out, not hang
    val stuck = new FakeTopicAdmin(Set("t"), deleteLatency = Int.MaxValue)
    intercept[IllegalArgumentException] {
      graft.pipeline.TopicAdmin.recreate(stuck, Seq("t"), 3, 3,
        sleeper = _ => (), maxPolls = 5)
    }
  }

  test("CatalogTopicAdmin: the same recreate loop runs against the Spark catalog") {
    val db = "graft_topic_test"
    val admin = new graft.pipeline.CatalogTopicAdmin(spark, db)
    try {
      graft.pipeline.TopicAdmin.recreate(admin, Seq("tp1", "tp2"), 3, 3, sleeper = _ => ())
      assert(admin.listTopics() == Set("tp1", "tp2"))
      // recreate over existing topics exercises the delete leg (catalog DDL
      // is synchronous -> zero polls) and converges to the same state
      graft.pipeline.TopicAdmin.recreate(admin, Seq("tp1"), 5, 1, sleeper = _ => ())
      assert(admin.listTopics() == Set("tp1", "tp2"))
      val props = spark.sql(s"SHOW TBLPROPERTIES $db.tp1").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props.get("graft.partitions").contains("5") &&
        props.get("graft.replication").contains("1"))
    } finally {
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  // ------------------------------------------- config-properties envelope

  test("PipelineConfig round-trips the three SHIPPED reference config files (r9 verdict #7)") {
    val refRoot = java.nio.file.Path.of("/root/reference")
    // without a reference checkout, read the minimal copies under
    // src/test/resources/reference (same layout, the values BASELINE.md cites)
    val root = if (java.nio.file.Files.isDirectory(refRoot)) refRoot
      else java.nio.file.Path.of(getClass.getResource("/reference").toURI)
    import graft.pipeline.PipelineConfig
    val infra = PipelineConfig.load(
      root.resolve("01-infra/src/main/resources/config.properties"))
    val producer = PipelineConfig.load(
      root.resolve("02-producer/src/main/resources/config.properties"))
    val consumer = PipelineConfig.load(
      root.resolve("03-consumer/src/main/resources/config.properties"))

    // 01-infra -> the R4 lifecycle's n x r (DataPipeline.java:82-83)
    assert(infra.topicPartitionCount == 3 && infra.topicReplicaFactor == 3.toShort)
    assert(infra.mysqlUrl == "jdbc:mysql://localhost:3306/bank")

    // 02-producer -> produce-side parallelism + generator volume
    assert(producer.threadCountPerProducer == 5)
    assert(producer.messageCountPerTopic == 300L)
    assert(producer.schemaRegistryUrl == "http://localhost:8081")

    // 03-consumer -> backpressure + trigger + sink budget
    assert(consumer.maxPollRecords == 10L)
    assert(consumer.pollInterval ==
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(100,
        java.util.concurrent.TimeUnit.MILLISECONDS))
    assert(consumer.blockingQueueSize == 300)
    assert(consumer.mysqlMaxPoolSize == 50)
    assert(consumer.kafkaTopics == Seq("dataset1", "dataset2", "dataset3"))

    // the consumer envelope drives the R9 source seam verbatim: one spec
    // per topic, max.poll.records as maxOffsetsPerTrigger
    val specs = consumer.kafkaSources
    assert(specs.map(_.options("subscribe")) == consumer.kafkaTopics)
    specs.foreach { sp =>
      assert(sp.format == "kafka")
      assert(sp.options("kafka.bootstrap.servers") ==
        "localhost:9091,localhost:9092,localhost:9093")
      assert(sp.options("maxOffsetsPerTrigger") == "10")
      assert(sp.options("failOnDataLoss") == "true")
    }
  }
}
