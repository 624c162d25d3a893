package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.functions.VectorOps
import graft.TempDirs.withTempDir

/** Build-once / serve-many ANN index (r16 verdict "What's missing #2"):
  *  - round trip: search against the PERSISTED index must equal the inline
  *    q153 pipeline's rerank ranking row-for-row (parquet round-trips
  *    doubles bit-exactly; same kernels on both sides);
  *  - serve-path scan contract: the serve plan reads ONLY the index
  *    artifact (codes/codebook/centroids/vectors) — never the embeddings
  *    source — and the ADC stage's codes read is partition-PRUNED to the
  *    probed clusters.
  */
class AnnIndexSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  var spark: SparkSession = _
  var idxDir: java.nio.file.Path = _
  var idxPath: String = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    idxDir = java.nio.file.Files.createTempDirectory("graft_ann_idx_spec")
    idxPath = idxDir.resolve("idx").toString
    Similarity.writeIndex(corpus, idxPath) // built ONCE for the whole spec
  }
  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (idxDir != null) TempDirs.delete(idxDir)
  }

  private def corpus: DataFrame =
    Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))

  test("saved-index search ≡ the q157 lane output (build+write+load+search)") {
    val viaLane = Similarity.q157AnnIndexServe(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // independent round trip from the spec's own artifact
    val q = corpus.filter(col("vec_id") < 20).toDF("qid", "qv")
    val viaSpec = Similarity.searchIndex(Similarity.loadIndex(spark, idxPath), q)
      .orderBy("qid", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(viaLane.toSeq == viaSpec.toSeq)
    assert(viaLane.nonEmpty && viaLane.map(_._1).distinct.length == 20)
  }

  test("index artifact layout: codes are cluster-partitioned, 4-byte codes only") {
    val codesDir = new java.io.File(s"$idxPath/codes")
    val parts = codesDir.listFiles().filter(_.getName.startsWith("cluster="))
    assert(parts.nonEmpty, "codes not hive-partitioned by cluster")
    val codes = spark.read.parquet(s"$idxPath/codes")
    // schema carries ONLY (cid, codes, cluster) — no vector payload
    assert(codes.schema.fieldNames.sorted.toSeq == Seq("cid", "cluster", "codes"))
    val cb = spark.read.parquet(s"$idxPath/codebook")
    assert(cb.count() == 1 && cb.schema.fieldNames.contains("__nlut"))
  }

  test("serve path reads only index tables — never the embeddings source — " +
      "and prunes code partitions to the probed clusters") {
    val idx = Similarity.loadIndex(spark, idxPath)
    // queries as a LOCAL frame: the serve plan then provably contains zero
    // scans of any source table — everything it reads is the artifact
    val qRows = corpus.filter(col("vec_id") < 20).toDF("qid", "qv").collect()
    val q = spark.createDataFrame(
      spark.sparkContext.parallelize(qRows.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qid",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("qv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
    val served = Similarity.searchIndex(idx, q)
    served.collect() // execute so AQE finalizes the plan
    val plan = served.queryExecution.executedPlan
    val scans = ScanAudit.walk(plan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    val scanStrings = scans.map(_.toString)
    assert(scanStrings.nonEmpty, "no file scans found — plan walk broken?")
    assert(!scanStrings.exists(_.contains("embeddings")),
      s"serve plan read the embeddings source:\n${scanStrings.mkString("\n")}")
    scanStrings.foreach(s =>
      assert(s.contains(idxPath) || !s.contains("parquet"),
        s"serve plan read a non-index parquet source: $s"))
    // partition pruning: the codes scan must carry a NON-EMPTY cluster
    // partition filter (the probe join drives it — dynamic pruning or a
    // pushed IN-list; either spells PartitionFilters on the scan node).
    // r17 ADVICE #1: isDefined alone would keep passing after a regression
    // to full-index code scans; the filter list itself is the pin.
    val codesScan = scans.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.toString.contains("codes") => f
    }
    assert(codesScan.isDefined, "no codes scan in the serve plan")
    assert(codesScan.get.partitionFilters.nonEmpty,
      s"codes scan carries no partition filter — full-index scan:\n${codesScan.get}")
  }

  test("online append lands new files only — existing shards byte-untouched — " +
      "and appended-index search ≡ the monolithic rebuild (q159)") {
    val e = corpus
    val cents = Similarity.ivfCentroids(e, Similarity.sqrtStride(e))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = Similarity.pqCodebook(e, 8, 16, 64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    withTempDir("graft_ann_append") { tmpPath =>
      val tmp = tmpPath.toString
      Similarity.writeIndexWith(e.filter(col("vec_id") % 10 =!= 7), cents, cb, s"$tmp/apx")
      // (relative path → (size, mtime)) of every data file in the artifact
      def listing(root: String): Map[String, (Long, Long)] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(root))
          .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
          .map(f => f.getAbsolutePath.stripPrefix(root) ->
            (f.length(), f.lastModified())).toMap
      }
      val before = listing(s"$tmp/apx")
      Similarity.appendToIndex(spark, s"$tmp/apx", e.filter(col("vec_id") % 10 === 7))
      val after = listing(s"$tmp/apx")
      before.foreach { case (path, stamp) =>
        assert(after.get(path).contains(stamp),
          s"append rewrote an existing shard file: $path")
      }
      assert(after.size > before.size, "append landed no new files")
      // appended ≡ rebuilt: same frozen quantizers, union corpus
      Similarity.writeIndexWith(e, cents, cb, s"$tmp/mono")
      val q = e.filter(col("vec_id") < 20).toDF("qid", "qv")
      def serve(p: String) =
        Similarity.searchIndex(Similarity.loadIndex(spark, p), q).orderBy("qid", "rnk")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(serve(s"$tmp/apx") == serve(s"$tmp/mono"),
        "appended-index search diverged from the monolithic rebuild")
      GraftSession.releasePersisted(spark)
    }
  }

  test("compaction collapses append-accreted files and is search-identical " +
      "(q160)") {
    val e = corpus
    val cents = Similarity.ivfCentroids(e, Similarity.sqrtStride(e))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = Similarity.pqCodebook(e, 8, 16, 64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    withTempDir("graft_ann_compact") { tmpPath =>
      val tmp = tmpPath.toString
      Similarity.writeIndexWith(e.filter(col("vec_id") % 4 === 0), cents, cb, s"$tmp/idx")
      // three appends — the streaming-accretion shape: one file per
      // (cluster, batch) piles up in the hot cluster directories
      (1 to 3).foreach(k =>
        Similarity.appendToIndex(spark, s"$tmp/idx", e.filter(col("vec_id") % 4 === k)))
      def dataFiles(p: String): Int = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(p))
          .count(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      }
      val q = e.filter(col("vec_id") < 20).toDF("qid", "qv")
      def serve() =
        Similarity.searchIndex(Similarity.loadIndex(spark, s"$tmp/idx"), q)
          .orderBy("qid", "rnk")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val beforeFiles = dataFiles(s"$tmp/idx/codes")
      val beforeRows = serve()
      Similarity.compactIndex(spark, s"$tmp/idx")
      val afterFiles = dataFiles(s"$tmp/idx/codes")
      assert(afterFiles < beforeFiles,
        s"compaction did not reduce code files: $beforeFiles -> $afterFiles")
      assert(serve() == beforeRows, "compaction changed search results")
      // no leftover side/retired directories — the swap completed
      val names = Option(new java.io.File(s"$tmp/idx").listFiles()).toSeq.flatten.map(_.getName)
      assert(!names.exists(n => n.contains("compacting") || n.contains("retired")),
        s"compaction left transient dirs: $names")
      GraftSession.releasePersisted(spark)
    }
  }

  test("streaming ingest appends compose: foreachBatch micro-batch appends " +
      "≡ the monolithic rebuild over the union corpus") {
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val e = corpus
    val cents = Similarity.ivfCentroids(e, Similarity.sqrtStride(e))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = Similarity.pqCodebook(e, 8, 16, 64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    withTempDir("graft_ann_sappend") { tmpPath =>
      val tmp = tmpPath.toString
      Similarity.writeIndexWith(e.filter(col("vec_id") % 5 =!= 3), cents, cb, s"$tmp/idx")
      val arriving = e.filter(col("vec_id") % 5 === 3)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      val (h1, h2) = arriving.splitAt(arriving.size / 2)
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Double])]
      val query = ms.toDS().toDF("vec_id", "v").writeStream
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty) Similarity.appendToIndex(sp, s"$tmp/idx", b)
        }
        .start()
      ms.addData(h1); query.processAllAvailable()
      ms.addData(h2); query.processAllAvailable()
      query.stop()
      Similarity.writeIndexWith(e, cents, cb, s"$tmp/mono")
      val q = e.filter(col("vec_id") < 20).toDF("qid", "qv")
      def serve(p: String) =
        Similarity.searchIndex(Similarity.loadIndex(spark, p), q).orderBy("qid", "rnk")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(serve(s"$tmp/idx") == serve(s"$tmp/mono"),
        "micro-batch-appended index diverged from the monolithic rebuild")
      GraftSession.releasePersisted(spark)
    }
  }

  test("sharded build + merge ≡ the monolithic artifact (q158 ≡ q157)") {
    val mono = Similarity.q157AnnIndexServe(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val merged = Similarity.q158AnnIndexMerge(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(merged.toSeq == mono.toSeq,
      "merged-shard search diverged from the monolithic build")
  }

  test("mergeIndexes refuses shards encoded against different quantizers") {
    val e = corpus
    withTempDir("graft_ann_merge_bad") { tmpPath =>
      val tmp = tmpPath.toString
      val cents = Similarity.ivfCentroids(e, Similarity.sqrtStride(e))
      val cb = Similarity.pqCodebook(e, 8, 16, 64)
      // a SECOND, different quantizer family: different stride → different
      // centroid table (codes under it are incompatible by construction)
      val cents2 = Similarity.ivfCentroids(e, Similarity.sqrtStride(e) + 1)
      Similarity.writeIndexWith(e.filter(col("vec_id") % 2 === 0), cents, cb, s"$tmp/a")
      Similarity.writeIndexWith(e.filter(col("vec_id") % 2 === 1), cents2, cb, s"$tmp/b")
      val err = intercept[IllegalArgumentException] {
        Similarity.mergeIndexes(spark, Seq(s"$tmp/a", s"$tmp/b"), s"$tmp/out")
      }
      assert(err.getMessage.contains("centroid tables differ"))
    }
  }

  test("a loaded index serves EXTERNAL query vectors (not corpus members)") {
    val sp = spark
    import sp.implicits._
    val idx = Similarity.loadIndex(spark, idxPath)
    // synthetic queries: midpoints of corpus vector pairs — never corpus
    // rows, which also means the qid ≠ cid guard never suppresses a hit
    val pairs = corpus.filter(col("vec_id") < 10).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val qs = pairs.sliding(2).collect { case Array((ia, va), (_, vb)) =>
      (1000L + ia, va.zip(vb).map { case (x, y) => (x + y) / 2 }.toSeq)
    }.toSeq
    val q = qs.toDF("qid", "qv")
    val served = Similarity.searchIndex(idx, q, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served.nonEmpty && served.map(_._1).distinct.length == qs.length,
      s"every external query must rank candidates: got ${served.length} rows")
    assert(served.forall(_._3 <= 5))
  }

  test("serve cost is query-proportional: rerank touches ≤ Q·R vector rows") {
    val idx = Similarity.loadIndex(spark, idxPath)
    val q = corpus.filter(col("vec_id") < 20).toDF("qid", "qv")
    val served = Similarity.searchIndex(idx, q, topK = 10)
    val n = served.count()
    assert(n <= 20 * 10, s"more than topK rows per query: $n")
    // the shortlist contract: reranked candidate pool ≤ Q · RerankR
    val qn = 20L * Similarity.RerankR
    val rerCount = idx.vectors.join(
      served.select("cid").distinct(), Seq("cid"), "left_semi").count()
    assert(rerCount <= qn, s"rerank working set $rerCount exceeds Q·R=$qn")
  }

  test("deletion lifecycle (q165): tombstones land as markers only, " +
      "delete→serve ≡ rebuild-without-rows, compaction applies + clears them") {
    val e = corpus
    val cents = Similarity.ivfCentroids(e, Similarity.sqrtStride(e))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = Similarity.pqCodebook(e, 8, 16, 64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    withTempDir("graft_ann_delete") { tmpPath =>
      val tmp = tmpPath.toString
      Similarity.writeIndexWith(e, cents, cb, s"$tmp/full")
      def listing(root: String): Map[String, (Long, Long)] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(root))
          .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
          .map(f => f.getAbsolutePath.stripPrefix(root) ->
            (f.length(), f.lastModified())).toMap
      }
      // 1. the delete writes ONLY tombstone files — codes/vectors untouched,
      //    so serve cost cannot grow with deletions (r18 Next #4's file pin)
      val beforeCodes = listing(s"$tmp/full/codes")
      val beforeVecs = listing(s"$tmp/full/vectors")
      Similarity.deleteFromIndex(spark, s"$tmp/full",
        e.filter(col("vec_id") % 10 === 7).select("vec_id"))
      assert(listing(s"$tmp/full/codes") == beforeCodes, "delete touched codes files")
      assert(listing(s"$tmp/full/vectors") == beforeVecs, "delete touched vector files")
      assert(new java.io.File(s"$tmp/full/tombstones").exists(), "no tombstone table")
      // 2. delete→serve ≡ rebuild over the remaining rows under the SAME
      //    frozen quantizers
      Similarity.writeIndexWith(e.filter(col("vec_id") % 10 =!= 7), cents, cb, s"$tmp/rebuilt")
      val q = e.filter(col("vec_id") < 20).toDF("qid", "qv")
      def serve(p: String) =
        Similarity.searchIndex(Similarity.loadIndex(spark, p), q).orderBy("qid", "rnk")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val tombstoned = serve(s"$tmp/full")
      assert(tombstoned == serve(s"$tmp/rebuilt"),
        "tombstoned serve diverged from the rebuild-without-rows")
      // the delete is not vacuous: some deleted cid was in the pre-delete top-10
      val deletedSet = e.filter(col("vec_id") % 10 === 7)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(tombstoned.forall(r => !deletedSet.contains(r._2)),
        "a deleted cid surfaced in the served results")
      // 3. compaction applies tombstones physically and clears the marker
      //    table; serve is identical before/after
      Similarity.compactIndex(spark, s"$tmp/full")
      assert(!new java.io.File(s"$tmp/full/tombstones").exists(),
        "compaction left the tombstone table behind")
      val compacted = Similarity.loadIndex(spark, s"$tmp/full")
      assert(compacted.tombstones.isEmpty)
      val leftover = compacted.codes.filter(col("cid") % 10 === 7).count()
      assert(leftover == 0L, s"compaction kept $leftover tombstoned code rows")
      assert(serve(s"$tmp/full") == tombstoned,
        "compaction changed the served ranking")
      GraftSession.releasePersisted(spark)
    }
  }

  test("filtered search (q166): every result satisfies the predicate and is " +
      "the exact top-k of the FILTERED candidate set") {
    val raw = Tables(spark, sfDir, "embeddings")
    val e = corpus
    val q = e.filter(col("vec_id") < 20).toDF("qid", "qv")
    val allowedDf = raw.filter(col("label") % 3 === 0).select(col("vec_id").as("cid"))
    val allowed = allowedDf.collect().map(_.getLong(0)).toSet
    val idx = Similarity.loadIndex(spark, idxPath)
    val got = Similarity.searchIndex(idx, q, allowed = Some(allowedDf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    assert(got.forall(r => allowed.contains(r._2)),
      "a result violated the metadata predicate")
    // pre-filter, not post-filter: unfiltered serve then intersect would
    // come back SHORT; the filtered ranks must be dense 1..n per query
    val byQ = got.groupBy(_._1)
    byQ.foreach { case (qid, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq,
        s"ranks not dense for query $qid — post-filtering suspected")
    }
    GraftSession.releasePersisted(spark)
  }

  test("adaptive filtered search (q171): a selective filter expands probes " +
      "beyond the static NProbe, and a floor covering the whole allowed set " +
      "makes the served top-k EXACT over the filter") {
    import graft.functions.VectorOps
    import graft.operators.PqShape
    val raw = Tables(spark, sfDir, "embeddings")
    val e = corpus
    val q = e.filter(col("vec_id") < 20).toDF("qid", "qv")
    val allowedDf = raw.filter(col("label") % 10 === 7).select(col("vec_id").as("cid"))
    val allowedIds = allowedDf.collect().map(_.getLong(0)).toSet
    assert(allowedIds.nonEmpty)
    val idx = Similarity.loadIndex(spark, idxPath)
    val got = Similarity.searchIndex(idx, q, allowed = Some(allowedDf),
      adaptiveFloor = Some(Similarity.RerankR)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(got.nonEmpty)
    assert(got.forall(r => allowedIds.contains(r._2)),
      "a result violated the metadata predicate")
    // ~10% filter at this SF: four static probes rarely hold 50 allowed
    // rows — adaptation must have engaged somewhere
    assert(got.exists(_._5 > PqShape.NProbe.toLong),
      s"n_probes never exceeded the static ${PqShape.NProbe} — adaptation dead")
    // n_probes is a per-query constant and never below the static floor
    got.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._5).distinct.length == 1, s"n_probes varies within query $qid")
      assert(rs.head._5 >= PqShape.NProbe.toLong)
    }
    // floor >= |allowed|: every cluster with allowed rows gets probed, the
    // shortlist (RerankR >= |allowed| here) covers the whole filtered set,
    // so the serve IS brute force over the filter — rank-for-rank
    assert(allowedIds.size <= Similarity.RerankR,
      "fixture drifted: allowed set no longer fits one shortlist")
    val gotAll = Similarity.searchIndex(idx, q, allowed = Some(allowedDf),
      adaptiveFloor = Some(allowedIds.size))
      .select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val wbt = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("bsim").desc, col("cid"))
    val brute = q.crossJoin(e.filter(col("vec_id").isInCollection(allowedIds))
        .select(col("vec_id").as("cid"), col("v")))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(VectorOps.cosine(col("qv"), col("v")), 4).as("bsim"))
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(wbt).cast("long"))
      .filter(col("rnk") <= 10)
      .select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotAll == brute,
      "all-cluster adaptive serve diverged from brute force over the filter")
    GraftSession.releasePersisted(spark)
  }

  test("a LARGE allowed set takes the non-broadcast semi-join path (the r19 " +
      "scale-killer fix): the filter frame must never be forced through the " +
      "driver") {
    val q = corpus.filter(col("vec_id") < 3).toDF("qid", "qv")
    // ~5M ids ≈ 40 MB by Spark's size estimate — over the 10 MB broadcast
    // threshold, so the static planner must NOT broadcast it (AQE may still
    // downgrade at runtime if the actual bytes fit; the guarantee under
    // test is that no broadcast() HINT forces the driver to materialize a
    // corpus-proportional set)
    val bigAllowed = spark.range(5000000L).select(col("id").as("cid"))
    val served = Similarity.searchIndex(
      Similarity.loadIndex(spark, idxPath), q, allowed = Some(bigAllowed))
    // static planner output (pre-AQE): a broadcast() HINT would already
    // plan the Range leaf under a BroadcastExchange here
    val rangeUnderBroadcast = ScanAudit.walk(served.queryExecution.sparkPlan)
      .exists {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          b.exists { case _: org.apache.spark.sql.execution.RangeExec => true
                     case _ => false }
        case _ => false
      }
    assert(!rangeUnderBroadcast,
      "the allowed-set frame was planned under a BroadcastExchange — " +
        "the corpus-proportional filter is being forced through the driver")
    // and the join is still correct: results come only from the allowed set
    // (everything is allowed here, so just sanity-check rows exist)
    assert(served.limit(1).count() == 1)
    GraftSession.releasePersisted(spark)
  }

  test("deletes compose with the adaptive floor: per-cluster counts are over " +
      "LIVE allowed candidates, so deleting filter members expands probes " +
      "and deleted ids never surface") {
    import graft.operators.PqShape
    val raw = Tables(spark, sfDir, "embeddings")
    val e = corpus
    val q = e.filter(col("vec_id") < 10).toDF("qid", "qv")
    val allowedDf = raw.filter(col("label") % 10 === 7).select(col("vec_id").as("cid"))
    val allowedIds = allowedDf.collect().map(_.getLong(0)).toSet
    // a fresh artifact so the spec-wide index keeps no tombstones
    withTempDir("graft_ann_del_adapt") { tmpPath =>
      val tmp = tmpPath.toString
      Similarity.writeIndex(e, s"$tmp/idx")
      def probesOf(): Map[Long, Long] =
        Similarity.searchIndex(Similarity.loadIndex(spark, s"$tmp/idx"), q,
            allowed = Some(allowedDf), adaptiveFloor = Some(Similarity.RerankR))
          .select("qid", "n_probes").distinct().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val before = probesOf()
      // delete HALF the allowed set: live allowed candidates per cluster drop,
      // so the documented floor semantics ("live allowed candidates") require
      // probe counts to be >= the pre-delete counts for every query
      val victims = allowedIds.toSeq.sorted.take(allowedIds.size / 2)
      assert(victims.nonEmpty)
      Similarity.deleteFromIndex(spark, s"$tmp/idx",
        e.filter(col("vec_id").isInCollection(victims)).select("vec_id"))
      val after = Similarity.searchIndex(Similarity.loadIndex(spark, s"$tmp/idx"), q,
          allowed = Some(allowedDf), adaptiveFloor = Some(Similarity.RerankR))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
      assert(after.nonEmpty)
      assert(after.forall(r => !victims.contains(r._2)),
        "a deleted id surfaced in adaptive filtered serve")
      assert(after.forall(r => allowedIds.contains(r._2)))
      val afterProbes = after.map(r => r._1 -> r._3).toMap
      afterProbes.foreach { case (qid, np) =>
        assert(np >= before.getOrElse(qid, PqShape.NProbe.toLong),
          s"query $qid probed FEWER clusters after deleting filter members — " +
            "the floor is counting dead candidates")
      }
      GraftSession.releasePersisted(spark)
    }
  }

  test("quantizer refresh (q176): retrainIndex ≡ a fresh build over the " +
      "live rows, tombstones applied physically, swap scaffolding gone") {
    val e = corpus
    withTempDir("graft_ann_retrain_id") { tmpPath =>
      val tmp = tmpPath.toString
      // churn: full build, delete a slice, retrain
      Similarity.writeIndex(e, s"$tmp/idx")
      Similarity.deleteFromIndex(spark, s"$tmp/idx",
        e.filter(col("vec_id") % 10 === 3).select("vec_id"))
      Similarity.retrainIndex(spark, s"$tmp/idx")
      // the determinism contract: quantizer training is a pure function of
      // the live row SET, so the retrained artifact must serve identically
      // to a from-scratch build over exactly those rows
      val live = e.filter(col("vec_id") % 10 =!= 3)
      Similarity.writeIndex(live, s"$tmp/fresh")
      val q = live.filter(col("vec_id") < 20).toDF("qid", "qv")
      def servedOf(p: String) =
        Similarity.searchIndex(Similarity.loadIndex(spark, p), q)
          .orderBy("qid", "rnk")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(servedOf(s"$tmp/idx") == servedOf(s"$tmp/fresh"),
        "retrained serve diverged from a fresh build over the live rows")
      // deletes were applied physically and the publish scaffolding cleaned up
      assert(!new java.io.File(s"$tmp/idx/tombstones").exists(),
        "retrain left tombstones behind — deletes must be applied physically")
      assert(!new java.io.File(s"$tmp/idx_retraining").exists() &&
        !new java.io.File(s"$tmp/idx_retired").exists(),
        "retrain left swap scaffolding behind")
      GraftSession.releasePersisted(spark)
    }
  }

  test("quantizer refresh under CORPUS TURNOVER: aging out the training " +
      "generation degrades frozen-quantizer recall; retrain on the live " +
      "rows restores it (the r19 Next #7 drift measurement)") {
    val sp = spark
    import sp.implicits._
    // two generations with disjoint support regions: gen-A bumps live in
    // dims 0..31, gen-B bumps in dims 32..63, plus a small id-keyed jitter
    // baseline everywhere so no cosine is degenerate. ids 0..15 are the
    // PQ-codebook anchors (the cid < K training convention) and survive
    // the turnover so both codebooks train on the same rows — the test
    // isolates the COARSE-quantizer drift, which is the production
    // mechanism (FAISS re-train guidance: stale centroids under
    // distribution shift).
    def vec(id: Long): Array[Double] = {
      val v = Array.tabulate(64)(d => 0.05 + 0.002 * ((id * (d + 3)) % 7))
      if (id < 300) {
        v((id % 32).toInt) += 1.0; v(((id * 7) % 32).toInt) += 0.3
      } else {
        v((32 + id % 16).toInt) += 1.0; v((32 + (id * 5) % 16).toInt) += 0.3
      }
      v
    }
    val aIds = 0L until 300L
    val bIds = 300L until 500L
    def mk(ids: Seq[Long]) = ids.map(i => (i, vec(i))).toDF("vec_id", "v")
    withTempDir("graft_ann_retrain_drift") { tmpPath =>
      val tmp = tmpPath.toString
      val path = s"$tmp/idx"
      Similarity.writeIndex(mk(aIds), path)           // quantizers trained on gen-A
      Similarity.appendToIndex(spark, path, mk(bIds)) // gen-B encoded against them
      Similarity.deleteFromIndex(spark, path,         // gen-A ages out (anchors stay)
        mk(aIds.filter(_ >= 16)).select("vec_id"))
      val liveIds = (0L until 16L) ++ bIds
      val liveVecs = liveIds.map(i => i -> vec(i)).toMap
      val qIds = bIds.filter(_ % 10 == 0)
      val qDf = qIds.map(i => (i, vec(i))).toDF("qid", "qv")
      // recall@10 against the exact rounded-cosine ranking over the live set
      // (the serve tie contract: rsim DESC, cid)
      def cosine(a: Array[Double], b: Array[Double]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val truth: Map[Long, Set[Long]] = qIds.map { qid =>
        val top = liveIds.filter(_ != qid)
          .map(c => (BigDecimal(cosine(liveVecs(qid), liveVecs(c)))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, c))
          .sortBy { case (s, c) => (-s, c) }.take(10).map(_._2).toSet
        qid -> top
      }.toMap
      def recallOf(): Double = {
        val served = Similarity.searchIndex(Similarity.loadIndex(spark, path), qDf)
          .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
        val hits = served.count { case (qid, cid) => truth(qid).contains(cid) }
        hits.toDouble / (qIds.size * 10)
      }
      val before = recallOf()
      Similarity.retrainIndex(spark, path)
      val after = recallOf()
      assert(after > before,
        f"retrain did not improve drifted recall: before=$before%.3f after=$after%.3f")
      assert(after >= 0.5,
        f"retrained recall $after%.3f below the 0.5 floor — refresh is not recovering")
      GraftSession.releasePersisted(spark)
    }
  }
}
