package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.functions.VectorOps

/** The r17 window-fold spelling of the Lloyd refinement step must be
  * BIT-IDENTICAL to the collect_list spelling it replaced (r16 verdict #6):
  * a running-frame window sum evaluates incrementally in sort order, so the
  * last row per (cluster, dim) carries exactly the left-associative
  * ((0.0 + x₁) + x₂) + … fold the agg spelling computed — same doubles,
  * not same-after-rounding. The agg spelling stays in-tree as
  * [[graft.operators.Similarity.lloydStepAgg]] purely as this spec's
  * reference implementation.
  */
class LloydFoldSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def corpus: DataFrame =
    Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))

  private def centroidMap(d: DataFrame): Map[Long, Seq[Double]] =
    d.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

  test("window fold ≡ collect_list fold, bit-exact, on the fixture corpus") {
    val e = corpus
    val seeds = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("centv"))
    val win = centroidMap(Similarity.ivfCentroids(e, stride = 50, refineIters = 1))
    // reference: one refinement step via the kept-in-tree agg spelling
    val agg = centroidMap(Similarity.lloydStepAgg(e, seeds))
    assert(win.keySet == agg.keySet, s"cluster sets diverge: ${win.keySet} vs ${agg.keySet}")
    // bit-exact comparison: the window fold must replay the IDENTICAL IEEE
    // addition sequence, so == on the doubles (no tolerance) is the contract
    val diverged = win.collect {
      case (cid, v) if v != agg(cid) => cid
    }.toSeq.sorted.take(3)
    assert(diverged.isEmpty, s"centroids diverge bit-wise for clusters $diverged")
    assert(win.nonEmpty && win.values.forall(_.size == 64))
  }

  test("two refinement iterations stay bit-stable across spellings") {
    val e = corpus
    val win2 = centroidMap(Similarity.ivfCentroids(e, stride = 50, refineIters = 2))
    val seeds = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("centv"))
    val agg2 = centroidMap(Similarity.lloydStepAgg(e, Similarity.lloydStepAgg(e, seeds)))
    assert(win2 == agg2, "second iteration diverged between spellings")
  }

  test("fold handles a 1-member cluster and preserves determinism across reruns") {
    val sp = spark
    import sp.implicits._
    // tiny corpus engineered so one seed captures exactly one member:
    // vec 0 orthogonal-ish to everything else clustered near vec 4
    val rows = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (4L, Seq(0.0, 1.0, 0.0)),
      (5L, Seq(0.0, 0.9, 0.1)),
      (6L, Seq(0.0, 0.8, 0.2)),
      (7L, Seq(0.1, 0.9, 0.0)))
    val e = rows.toDF("vec_id", "v")
    val a = centroidMap(Similarity.ivfCentroids(e, stride = 4, refineIters = 1))
    val b = centroidMap(Similarity.ivfCentroids(e, stride = 4, refineIters = 1))
    assert(a == b, "refined centroids not deterministic across runs")
    val seeds = e.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("centv"))
    assert(a == centroidMap(Similarity.lloydStepAgg(e, seeds)))
  }
}
