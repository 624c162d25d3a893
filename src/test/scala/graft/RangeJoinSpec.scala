package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.RangeJoin

/** RangeJoin.binnedPointInterval must be EXACTLY a range join: same rows as
  * the naive inequality join for every bin width (the width is a physical
  * tuning knob, never a semantic one). Covers boundary inclusion (start in,
  * end out), intervals shorter / longer than a bin, overlapping intervals
  * (a point may match several), and empty matches. */
class RangeJoinSpec extends AnyFunSuite with BeforeAndAfterAll {
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Deterministic pseudo-random fixture: points 0..499 scattered over
    * [0, 1000), intervals of mixed lengths including overlapping pairs. */
  private def fixture() = {
    val s = spark
    import s.implicits._
    val points = (0 until 500)
      .map(i => (i.toLong, (i.toLong * 2654435761L) % 1000L))
      .toDF("pid", "p")
    // lengths 1 (degenerate), 3, 40 (spans many small bins), plus an
    // overlapping pair and an interval matching nothing (beyond the domain)
    val intervals = Seq(
      (0L, 10L, 11L), (1L, 100L, 103L), (2L, 200L, 240L),
      (3L, 500L, 600L), (4L, 550L, 620L), (5L, 2000L, 2100L))
      .toDF("iid", "lo", "hi")
    (points, intervals)
  }

  private def naive(points: org.apache.spark.sql.DataFrame,
      intervals: org.apache.spark.sql.DataFrame) =
    points.join(intervals, col("p") >= col("lo") && col("p") < col("hi"))
      .select("pid", "iid").orderBy("pid", "iid")

  test("binned result ≡ naive range join for every bin width") {
    val (points, intervals) = fixture()
    val expect = naive(points, intervals).collect().toSeq
    assert(expect.nonEmpty, "fixture must produce matches")
    for (w <- Seq(1L, 3L, 7L, 64L, 1000L, 10000L)) {
      val got = RangeJoin.binnedPointInterval(points, "p", intervals, "lo", "hi", w)
        .select("pid", "iid").orderBy("pid", "iid").collect().toSeq
      assert(got == expect, s"bin width $w diverged from naive join")
    }
  }

  test("boundaries: start inclusive, end exclusive, across a bin edge") {
    val s = spark
    import s.implicits._
    // interval [10, 20) with bin width 10: 10 is in (bin 10), 19 is in
    // (bin 10), 20 is out (bin 20 IS joined via the bin over-approximation
    // of nothing — 20 maps to bin 20 which the interval never explodes to
    // ... unless hi-1=19 stays in bin 10; but [15, 25) explodes to bins
    // 10 and 20, and the residual must still exclude p=25 and keep p=24).
    val points = Seq(9L, 10L, 14L, 15L, 19L, 20L, 24L, 25L).toDF("p").withColumn("pid", col("p"))
    val intervals = Seq((0L, 10L, 20L), (1L, 15L, 25L)).toDF("iid", "lo", "hi")
    val got = RangeJoin.binnedPointInterval(points, "p", intervals, "lo", "hi", 10L)
      .select("p", "iid").orderBy("p", "iid").as[(Long, Long)].collect().toSeq
    assert(got == Seq((10L, 0L), (14L, 0L), (15L, 0L), (15L, 1L), (19L, 0L),
      (19L, 1L), (20L, 1L), (24L, 1L)))
  }

  test("q88 busy-island query ≡ the same derivation with a naive range join") {
    val sfDir = "/root/testdata/sf0.001"
    val got = RangeJoin.q88RangeJoinBinned(spark, sfDir).collect().toSeq
    assert(got.nonEmpty, "q88 must be non-degenerate at sf0.001")
    // ground truth: identical interval derivation, joined naively
    val hour = 3600000000000L
    val ev = Tables(spark, sfDir, "events")
    val hrs = ev.groupBy((col("ts") - (col("ts") % hour)).as("hb"))
      .agg(count(lit(1)).as("c"))
    val stats = hrs.agg(sum("c").as("total"), count(lit(1)).as("n_hours"))
    val busy = hrs.crossJoin(broadcast(stats))
      .filter(lit(10) * col("c") * col("n_hours") > lit(11) * col("total"))
      .select("hb")
    val islands = busy
      .withColumn("grp", col("hb") - row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("hb")) * hour)
      .groupBy("grp")
      .agg(min("hb").as("start_ns"), (max("hb") + hour).as("end_ns"),
        count(lit(1)).as("island_hours"))
    val naiveQ = ev.join(islands,
        col("ts") >= col("start_ns") && col("ts") < col("end_ns"))
      .groupBy(col("start_ns").as("island_start"), col("island_hours"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        (sum(round(col("value") * 100).cast("long")).cast("decimal(20,0)") / 100)
          .cast("decimal(12,2)").cast("double").as("total_value"))
      .orderBy("island_start").collect().toSeq
    assert(got == naiveQ, "binned q88 diverged from naive-range-join ground truth")
  }
}
