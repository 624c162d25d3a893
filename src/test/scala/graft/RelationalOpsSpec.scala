package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational, TextAnalysis}
import graft.TempDirs.withTempDir

/** Semantic invariants for the round-7 operators, independently of the
  * DuckDB oracle: q115's sample is recomputed from scratch in the driver
  * (same md5 stream, plain Scala), q117's intervals must tile the event
  * stream exactly, and q118's robust statistics are recomputed naively.
  * The oracle gate proves cross-engine agreement; these prove the
  * ALGORITHM is the one on the label. */
class RelationalOpsSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("q115: the A-ES sample equals a from-scratch driver recomputation") {
    val k = 20
    val docs = Tables(spark, sfDir, "documents")
      .filter(col("doc_id").isNotNull && col("n_chars").isNotNull)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2) + 1))
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      rows.toSeq.map { case (id, _, w) =>
        val u = (java.lang.Long.parseLong(md5hex(s"q115|$id").take(8), 16) + 1
          ).toDouble / 4294967297.0
        (id, w, -math.log(u) / w)
      }.sortBy { case (id, _, pri) => (pri, id) }
        .take(k).zipWithIndex
        .map { case ((id, w, _), i) => (src, (i + 1).toLong, id, w) }
    }.toSet
    val got = TextAnalysis.q115WeightedSample(spark, sfDir, k).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected, "sample diverged from the A-ES definition")
  }

  test("q115: weighting is live - kept docs are heavier than the corpus average") {
    val d = Tables(spark, sfDir, "documents").filter(col("doc_id").isNotNull)
    val overall = d.agg(avg(col("n_chars") + 1)).first().getDouble(0)
    val kept = TextAnalysis.q115WeightedSample(spark, sfDir, 20)
      .agg(avg("w")).first().getDouble(0)
    info(f"mean weight kept=$kept%.1f vs corpus=$overall%.1f")
    assert(kept > overall, "A-ES must favor heavy docs on average")
  }

  test("q117: intervals tile the event stream exactly") {
    val iv = Relational.q117Scd2Intervals(spark, sfDir).collect()
    val nEvents = Tables(spark, sfDir, "events").count()
    assert(iv.map(_.getLong(5)).sum == nEvents, "interval n_events must tile all events")
    iv.groupBy(_.getLong(0)).foreach { case (user, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq,
        s"user $user: interval_seq not contiguous")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(4) == b.getLong(3),
            s"user $user: valid_to must equal the next valid_from")
          assert(a.getString(2) != b.getString(2),
            s"user $user: consecutive intervals must change event_type")
        case _ =>
      }
      assert(sorted.last.getLong(4) == -1L, s"user $user: open interval sentinel")
    }
  }

  test("q118: median/MAD/outliers equal a naive driver recomputation") {
    val cents = Tables(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), round(col("l_extendedprice") * 100).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def discMedian(xs: Seq[Long]): Long = {
      val s = xs.sorted; s((s.length - 1) / 2) // smallest with 2·cum ≥ n
    }
    val expected = cents.groupBy(_._1).map { case (f, rows) =>
      val cs = rows.map(_._2).toSeq
      val med = discMedian(cs)
      val devs = cs.map(c => math.abs(c - med))
      val mad = discMedian(devs)
      (f, (med, mad, cs.length.toLong, devs.count(_ * 2 > 3 * mad).toLong))
    }
    val got = Relational.q118MadOutliers(spark, sfDir).collect().map(r =>
      (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected, s"MAD stats diverged: $got vs $expected")
  }

  test("q129: merged HLL estimates land within lgK=12 error of exact") {
    // the band check RIDES THE SURFACE since r13 (within_band is an output
    // column the oracle asserts TRUE); this spec re-derives it so a band
    // loosened by accident in the operator is still caught here
    val rows = Relational.q129HllRollup(spark, sfDir).collect()
    assert(rows.nonEmpty, "no rollup rows")
    rows.foreach { r =>
      val (status, exact) = (r.getString(0), r.getLong(2))
      assert(r.getLong(3) == 500L, s"$status: band literal drifted")
      // HLL_8 at lgK=12: RSE ≈ 1.04/√4096 ≈ 1.6%; 3σ ≈ 5% — a merge bug
      // (e.g. double-counting registers) lands far outside this band
      assert(r.getBoolean(4), s"$status: estimate left the 5% band of $exact")
      assert(r.getLong(1) > 0, "leaf count must be positive")
      assert(exact > 0, "exact distinct count must be positive")
    }
  }

  test("q49: exact companions match an independent recomputation and bands hold") {
    // the in-band booleans ride the surface since r13 (the oracle asserts
    // them TRUE); this spec independently recomputes the EXACT companions
    // so the surface's exact half can't drift either
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
    val got = Relational.q49ApproxSketches(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getBoolean(5), r.getBoolean(7))).toMap
    val exact = Tables(spark, sfDir, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("nd"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == exact.keySet, "priority groups diverged")
    exact.foreach { case (pri, (nd, n)) =>
      val (gotNd, p50, gotN, ndOk, p50Ok) = got(pri)
      assert(gotN == n, s"$pri: row count $gotN vs $n")
      assert(gotNd == nd, s"$pri: exact distinct $gotNd vs recomputed $nd")
      assert(ndOk, s"$pri: HLL++ estimate left the 500 bp band of $nd")
      assert(p50Ok, s"$pri: approx p50 left the 500 bp band of $p50")
      // the exact interpolated median must match approxQuantile at rel=0
      // within interpolation slack (approxQuantile returns a data point)
      val med = Tables(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === pri)
        .stat.approxQuantile("o_totalprice", Array(0.5), 0.0).head
      assert(math.abs(p50 - med) <= med * 0.02,
        s"$pri: exact p50 $p50 vs exact-rank $med outside the 2% band")
    }
  }

  test("q120 releases its persisted edge table inside the operator (r9 verdict #4)") {
    // plain-session contract: no harness sweep runs here — the operator
    // itself must leave zero cached blocks behind (the q87/q111 lifecycle)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rows = Relational.q120RecursiveChain(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"q120 left persisted RDDs behind: $leaked")
  }

  test("q107 name resolves to the sharded plan and reproduces the built-in exactly") {
    // r9 verdict #2: the user-reachable percentile name must carry the
    // scale-safe plan; the buffer built-in stays only as the drill lane —
    // and both spellings must agree row-for-row (adaptive shard width is
    // parallelism-internal, invisible to the rank arithmetic)
    val viaName = Relational.q107PercentileDisc(spark, sfDir).collect().toSeq
    val builtin = Relational.q107PercentileDiscBuiltin(spark, sfDir).collect().toSeq
    assert(viaName == builtin, s"sharded plan diverged from built-in:\n$viaName\n$builtin")
    assert(!SparkEntry.baseQueries.contains("q107_percentile_builtin_drill") &&
      ScaleDrill.extraDrillQueries.contains("q107_percentile_builtin_drill") &&
      ScaleDrill.knownSuperlinear.contains("q107_percentile_builtin_drill"),
      "the built-in must be reachable ONLY as the known-superlinear drill lane")
  }

  test("q112 under pathological value skew: the distinct-cents collapse keeps exact results") {
    // r11 (r10 ADVICE): one hot value carrying half the rows used to land
    // as a full-row sort in one shard; after the collapse it is ONE sorted
    // row with a count. Fixture: 10k rows of $500.00 (hot), 5k distinct
    // cents below, 5k above — p25 lands exactly on the below-tail boundary,
    // p50 on the hot value, p90 inside the above-tail. Expected values are
    // hand-derived (independent of both spellings), and the built-in
    // percentile_disc must agree on the same data.
    withTempDir("graft_skew_li") { dirPath =>
      val dir = dirPath.toString
      val below = spark.range(1, 5001)
        .select(lit("A").as("l_returnflag"), (col("id") * 0.01).as("l_extendedprice"))
      val hot = spark.range(10000)
        .select(lit("A").as("l_returnflag"), lit(500.0).as("l_extendedprice"))
      val above = spark.range(0, 5000)
        .select(lit("A").as("l_returnflag"), (lit(1000.0) + col("id") * 0.01).as("l_extendedprice"))
      below.unionAll(hot).unionAll(above)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val got = Relational.q112PercentileDiscSharded(spark, dir).collect()
      assert(got.length == 1)
      val r = got.head
      // n=20000: rank 5000 -> 50.00 (cume .25 exactly); rank 10000 -> the hot
      // 500.00 (cume of 50.00-tail is .25 < .5); rank 18000 -> 1000 + 2999*.01
      assert(r.getDouble(1) == 50.0, s"p25: ${r.getDouble(1)}")
      assert(r.getDouble(2) == 500.0, s"p50: ${r.getDouble(2)}")
      assert(r.getDouble(3) == 1029.99, s"p90: ${r.getDouble(3)}")
      assert(r.getLong(4) == 20000L)
      spark.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("skew_li")
      val builtin = spark.sql(
        """SELECT l_returnflag,
          |  percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS p25,
          |  percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
          |  percentile_disc(0.9)  WITHIN GROUP (ORDER BY l_extendedprice) AS p90,
          |  COUNT(*) AS n
          |FROM skew_li GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
        .collect().toSeq
      assert(builtin == got.toSeq, s"built-in diverged on skewed data:\n$builtin\n${got.toSeq}")
    }
  }
}
