package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scale
import graft.TempDirs.withTempDir

/** Scale-utility tests: salted join row-parity + spread, bucketed join
  * zero-exchange plan shape. */
class ScaleSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  var spark: SparkSession = _
  var warehouse: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    warehouse = java.nio.file.Files.createTempDirectory("graftwh")
    spark = GraftSession.builder("local[4]")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (warehouse != null) TempDirs.delete(warehouse)
  }

  private def countShuffles(plan: SparkPlan): Int = {
    var n = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeExec => n += 1
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        case _ => ()
      }
      p.children.foreach(walk)
    }
    walk(plan)
    n
  }

  test("saltedJoin: identical rows to the plain join, spread across salts") {
    val o = Tables(spark, sfDir, "orders")
    val c = Tables(spark, sfDir, "customer").select("c_custkey", "c_name")
    val plain = o.join(c, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name")
    val saltedInput = o.withColumnRenamed("o_custkey", "c_custkey")
    val salted = Scale.saltedJoin(saltedInput, c, "c_custkey", salt = 8)
      .select("o_orderkey", "c_name")
    val a = plain.collect().map(_.toString).sorted
    val b = salted.collect().map(_.toString).sorted
    assert(a.length == b.length && a.sameElements(b), s"${a.length} vs ${b.length}")
  }

  test("saltedJoin spreads a pathologically hot key over the salt space") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType), StructField("x", LongType)))
    // 10k rows, ALL the same key — the worst case a groupBy shuffle can see
    val hot = spark.createDataFrame(
      spark.sparkContext.parallelize((1L to 10000L).map(i => Row(1L, i)), 4), schema)
    val dim = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, 99L)), 1), schema).toDF("k", "label")
    val salted = hot.withColumn(
      "_salt", pmod(xxhash64(spark_partition_id(), monotonically_increasing_id()), lit(8)))
    val saltCount = salted.groupBy("_salt").count().collect()
    assert(saltCount.length == 8, s"only ${saltCount.length}/8 salts used")
    assert(saltCount.map(_.getLong(1)).max < 10000, "salting did not split the hot key")
    // and the join result is still exactly one label per hot row
    assert(Scale.saltedJoin(hot, dim, "k", 8).count() == 10000)
  }

  test("hotKeys finds the skewed key") {
    val e = Tables(spark, sfDir, "events")
    val hot = Scale.hotKeys(e, "event_type", minCount = 1)
    assert(hot.count() > 0)
    val total = hot.agg(sum("n")).collect()(0).getLong(0)
    assert(total == e.count()) // histogram is complete at threshold 1
  }

  test("bucketed join plans with zero shuffle exchanges") {
    val s = spark
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      Scale.writeBucketed(
        Tables(s, sfDir, "orders"), "b_orders", "o_custkey", buckets = 4)
      Scale.writeBucketed(
        Tables(s, sfDir, "customer").withColumnRenamed("c_custkey", "o_custkey"),
        "b_customer", "o_custkey", buckets = 4)
      val j = Scale.bucketedJoin(s, "b_orders", "b_customer", "o_custkey")
      val shuffles = countShuffles(j.queryExecution.executedPlan)
      assert(shuffles == 0,
        s"bucketed join still shuffles ($shuffles):\n${j.queryExecution.executedPlan}")
      assert(j.count() > 0)
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("partitioned layout: directory pruning + sort-key pushdown + bounded file count") {
    import graft.sources.ParquetLayout
    withTempDir("graftlayout") { outPath =>
      val out = outPath.toString
      val docs = Tables(spark, sfDir, "documents")
      ParquetLayout.writePartitioned(docs, out, Seq("lang"), Seq("doc_id"))

      // bounded files: repartition-by-partCols keeps each lang in one task —
      // one file per directory, not one per (task × partition)
      val langDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("lang="))
      assert(langDirs.nonEmpty)
      langDirs.foreach { d =>
        val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1, s"${d.getName}: ${files.length} files (small-file fan-out)")
      }

      val back = ParquetLayout.read(spark, out)
      assert(back.count() == docs.count())

      // partition pruning: the lang predicate lands in PartitionFilters (file
      // skipping before I/O), NOT just PushedFilters (row-group skipping)
      val pruned = back.filter(col("lang") === "en" && col("doc_id") < 100)
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(lang"),
        s"lang filter not pruning partitions:\n$plan")
      assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)"),
        s"sort-key filter not pushed to row groups:\n$plan")
      // pruning is observable, not just printed: only the en directory is read
      val filesRead = pruned.queryExecution.executedPlan.collectLeaves()
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles }.sum
      assert(filesRead == 1L, s"expected 1 file read after pruning, got $filesRead")
      // and the rows match the unpartitioned truth
      val expect = docs.filter(col("lang") === "en" && col("doc_id") < 100).count()
      assert(pruned.count() == expect)
    }
  }

  test("z-order layout: per-file min/max stay tight on BOTH dimensions") {
    import graft.sources.ParquetLayout
    val e = Tables(spark, sfDir, "events").select("user_id", "ts", "event_id")
    withTempDir("graftz") { tmpPath =>
      val tmp = tmpPath.toString
      val zdir = s"$tmp/zorder"; val sdir = s"$tmp/sorted"
      ParquetLayout.writeZOrdered(e, zdir, "user_id", "ts", nFiles = 16)
      // the comparison layout: same file count, clustered on user_id only
      e.repartitionByRange(16, col("user_id")).sortWithinPartitions("user_id")
        .write.mode("overwrite").parquet(sdir)
      // avg per-file (max−min)/global-span — the quantity row-group min/max
      // skipping actually prunes on. No plan text: this measures the FILES.
      def avgWidth(path: String, c: String): Double = {
        val d = spark.read.parquet(path)
        val g = d.agg((max(col(c)) - min(col(c))).cast("double")).head.getDouble(0)
        d.groupBy(input_file_name())
          .agg(((max(col(c)) - min(col(c))).cast("double") / g).as("w"))
          .agg(avg("w")).head.getDouble(0)
      }
      // 16 z-tiles ⇒ each file covers ~1/√16 = 1/4 of EACH dimension (+slop
      // for range-sample boundaries and the 150-user granularity at sf0.001)
      assert(avgWidth(zdir, "user_id") < 0.6,
        "z-order: user_id not clustered within files")
      assert(avgWidth(zdir, "ts") < 0.6,
        "z-order: ts not clustered within files")
      // the single-column sort serves user_id BETTER (tighter on its one
      // dimension — that is the trade) but carries the FULL time span in
      // every file: a time predicate skips nothing there
      assert(avgWidth(sdir, "user_id") < 0.3, "sorted baseline lost its own key")
      assert(avgWidth(sdir, "ts") > 0.8,
        "single-column sort should NOT cluster ts (else the test is vacuous)")
    }
  }

  test("dynamic partition pruning: a dim-side filter prunes fact directories at runtime") {
    import graft.sources.ParquetLayout
    // AQE off for this test only: the fact-side FileSourceScanExec must be
    // reachable in the executed plan tree to read its post-execution file
    // metric (AQE wraps the tree in an opaque adaptive root). DPP itself is
    // independent of AQE (PartitionPruning is a plain optimizer rule).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      withTempDir("graftdpp") { outPath =>
        val out = outPath.toString
        val docs = Tables(spark, sfDir, "documents")
        ParquetLayout.writePartitioned(docs, out, Seq("lang"), Seq("doc_id"))
        val nLangs = new java.io.File(out).listFiles()
          .count(_.getName.startsWith("lang="))
        assert(nLangs >= 2, s"need multiple partition dirs, got $nLangs")
        val fact = ParquetLayout.read(spark, out)
        // The dim must be a SEPARATE stored table whose predicate column is
        // physically independent of the join key: a derived tier column
        // (when(lang='en',...)) gets inferred ACROSS the equi-join by
        // InferFiltersFromConstraints and statically pruned — no DPP needed.
        // Only an opaque attribute forces the runtime subquery. This is the
        // SURVEY §4.2 DPP requirement: pruning through a join.
        withTempDir("graftdppdim") { dimPath =>
          val dimDir = dimPath.toString
          docs.select("lang").distinct()
            .withColumn("tier", when(col("lang") === "en", "gold").otherwise("base"))
            .write.mode("overwrite").parquet(dimDir)
          val dim = spark.read.parquet(dimDir)
          val j = fact.join(broadcast(dim.filter(col("tier") === "gold")), Seq("lang"))
            .agg(count(lit(1)).as("n"))
          val plan = j.queryExecution.executedPlan
          assert(plan.toString.toLowerCase.contains("dynamicpruningexpression"),
            s"no dynamic pruning filter on the fact scan:\n$plan")
          // correct result…
          val expected = docs.filter(col("lang") === "en").count()
          assert(j.collect()(0).getLong(0) == expected)
          // …and OBSERVABLY pruned (files-read metric, not plan text): of the
          // nLangs directories only lang=en's single file is ever opened
          val dirTag = out.substring(out.lastIndexOf('/') + 1)
          val scans = plan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains(dirTag)) => f
          }
          assert(scans.nonEmpty, s"fact scan not found in plan:\n$plan")
          val filesRead = scans.head.metrics("numFiles").value
          assert(filesRead == 1L, s"DPP read $filesRead files; expected 1 of $nLangs")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("AQE skew join: a pathologically hot key is split into multiple reader partitions") {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec}
    // Boundary vs Scale.saltedJoin: explicit salting rewrites the PLAN (use
    // when the skew is known up front); AQE skew-split rewrites the RUNTIME
    // stage (covers the skew nobody predicted). This pins the second
    // mechanism actually firing, so the two mechanisms' division of labor
    // is documented by test, not by comment.
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> spark.conf.getOption("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> spark.conf.getOption("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> spark.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    // local[4] shuffles are tiny; lower the skew detector to match the data
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
    try {
      // one key carries 50k rows; everything else is singletons
      val left = spark.range(0, 50000).select(lit(1L).as("k"), col("id").as("x"))
        .union(spark.range(0, 1000).select((col("id") + 2).as("k"), col("id").as("x")))
      val right = spark.range(0, 1100).select(col("id").as("k"), (col("id") * 10).as("y"))
      val j = left.join(right, "k")
      // execute THIS QueryExecution (count() would build a separate one and
      // leave j's adaptive plan unfinalized)
      val got = j.collect().length
      // row parity with the logical join: 50k hot-key rows match the one
      // right row with k=1; the 1000 singleton keys 2..1001 all match too
      assert(got == 50000 + 1000, s"skew-split changed the result: $got")
      val finalPlan = j.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(finalPlan.toString.contains("skew=true"),
        s"AQE did not mark the join as skew-optimized:\n$finalPlan")
      // the hot reducer partition must be READ as multiple partial chunks —
      // the split shuffle-block evidence, not just a plan-text marker.
      // (QueryStageExec nodes are leaves: descend into their plans by hand.)
      def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val kids = p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case _ => p.children
        }
        p +: kids.flatMap(allNodes)
      }
      val partialChunks = allNodes(finalPlan)
        .collect { case r: AQEShuffleReadExec => r }
        .map(_.partitionSpecs.count(
          _.isInstanceOf[org.apache.spark.sql.execution.PartialReducerPartitionSpec]))
      assert(partialChunks.exists(_ >= 2),
        s"hot partition not split into partial-reducer chunks ($partialChunks):\n$finalPlan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bloomPrunedSemiJoin: identical rows to the plain semi-join") {
    val li = Tables(spark, sfDir, "lineitem")
    val build = Tables(spark, sfDir, "orders")
      .filter(col("o_totalprice") > 300000.0).select("o_orderkey")
    val got = Scale.bloomPrunedSemiJoin(li, build, "l_orderkey", "o_orderkey")
    val exp = li.join(build.withColumnRenamed("o_orderkey", "l_orderkey"),
      Seq("l_orderkey"), "left_semi")
    assert(got.count() == exp.count())
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)
  }

  test("bloom pre-filter prunes the probe before any join shuffle") {
    val li = Tables(spark, sfDir, "lineitem")
    val build = Tables(spark, sfDir, "orders")
      .filter(col("o_totalprice") > 450000.0).select("o_orderkey")
    val total = li.count()
    val trueMatches = li.join(build.withColumnRenamed("o_orderkey", "l_orderkey"),
      Seq("l_orderkey"), "left_semi").count()
    val admitted = li
      .filter(Scale.bloomMightContain(build, "o_orderkey", "l_orderkey"))
      .count()
    // sound: every true match passes the bloom (no false negatives)
    assert(admitted >= trueMatches)
    // effective: a ~2%-selective build side must kill most of the probe
    // (admitted ≈ matches + fpp·rest; generous bound to stay flake-proof)
    assert(admitted <= trueMatches + total / 10,
      s"bloom admitted $admitted of $total (true matches: $trueMatches)")
  }

  test("ensureParallel repartitions an under-parallel scan-rooted plan") {
    val one = spark.range(0, 1000, 1, 1).toDF("id")
    val out = Scale.ensureParallel(one)
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }

  test("ensureParallel is a strict no-op on plans that may shuffle (r6 ADVICE #3)") {
    // with AQE, .rdd on an exchange-bearing plan would EXECUTE the shuffle
    // stages eagerly — the helper must not probe such plans at all, which
    // the reference-equality assertion proves (no wrapper, no probe result)
    val agg = spark.range(0, 1000, 1, 1).toDF("id")
      .groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("n"))
    assert(Scale.ensureParallel(agg) eq agg)
    val joined = spark.range(10).toDF("a").join(spark.range(10).toDF("a"), "a")
    assert(Scale.ensureParallel(joined) eq joined)
  }

  test("ensureParallel passes streaming frames through untouched (.rdd would throw)") {
    val stream = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    assert(Scale.ensureParallel(stream) eq stream)
  }
}
