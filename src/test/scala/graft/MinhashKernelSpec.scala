package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The fused MinHash-signature kernel must be BIT-IDENTICAL to the
  * explode+partial-agg spelling it replaced (the WinnowFingerprints
  * discipline) — on the real corpus, on degenerate/non-ASCII shapes, and
  * through both eval paths. The q34/q50 oracles replay signatures from raw
  * text, so kernel parity here is what keeps them green without change. */
class MinhashKernelSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sigs(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect().map { r =>
      r.getLong(0) -> (1 to Dedup.MinHashK).map(r.getLong)
    }.toMap

  test("kernel ≡ explode+agg spelling on the full fixture corpus") {
    val d = Tables(spark, sfDir, "documents")
    val kernel = sigs(Dedup.minhashSignatures(d))
    val agg = sigs(Dedup.minhashSignaturesAgg(d))
    assert(kernel.keySet == agg.keySet)
    val diff = kernel.collect { case (id, v) if agg(id) != v => id }.take(3)
    assert(diff.isEmpty, s"signatures diverge for docs $diff")
    assert(kernel.nonEmpty)
  }

  test("kernel ≡ explode+agg on boundary lengths and non-ASCII text") {
    val sp = spark
    import sp.implicits._
    val d = Seq(
      (1L, "a b c"),                    // exactly k words: one shingle
      (2L, "a b"),                      // k-1 words: filtered out both ways
      (3L, "x x x x x"),                // identical shingles collapse to one base
      (4L, "über straße naïve café emoji😀 grüße sieben"),
      (5L, "日本語 テスト 漢字 かな モジ"))
      .toDF("doc_id", "text")
    val kernel = sigs(Dedup.minhashSignatures(d))
    val agg = sigs(Dedup.minhashSignaturesAgg(d))
    assert(kernel == agg, s"kernel $kernel vs agg $agg")
    assert(!kernel.contains(2L) && kernel.contains(1L) && kernel.contains(4L))
  }

  test("interpreted eval matches the codegen path") {
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.unsafe.types.UTF8String
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon")
      .map(w => UTF8String.fromString(w): AnyRef)
    val arr: ArrayData = new GenericArrayData(words)
    val expr = graft.functions.MinhashSig(
      org.apache.spark.sql.catalyst.expressions.Literal(arr,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
      Dedup.ShingleWords,
      (0 until Dedup.MinHashK).map(Dedup.minhashA),
      (0 until Dedup.MinHashK).map(Dedup.minhashB), Dedup.MinhashP)
    val interp = expr.eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
    val sp = spark
    import sp.implicits._
    val viaPlan = sigs(Dedup.minhashSignatures(
      Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")))
    assert(viaPlan(1L) == interp)
    // and the below-k domain is null, not a bogus signature
    val short = graft.functions.MinhashSig(
      org.apache.spark.sql.catalyst.expressions.Literal(
        new GenericArrayData(Array(UTF8String.fromString("one"): AnyRef)),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
      Dedup.ShingleWords,
      (0 until Dedup.MinHashK).map(Dedup.minhashA),
      (0 until Dedup.MinHashK).map(Dedup.minhashB), Dedup.MinhashP)
    assert(short.eval(null) == null)
  }
}
