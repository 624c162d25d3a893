package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/** The native fused winnowing kernel must be BIT-IDENTICAL to the
  * pure-Catalyst HOF spelling it replaced (the LshBucket/DotProduct
  * discipline) — on the real corpus and on every degenerate shape the HOF
  * semantics define (short docs, slices past the end, empty-ish text). */
class WinnowKernelSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def fps(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("kernel ≡ HOF spelling on the full fixture corpus (codegen path)") {
    val d = Tables(spark, sfDir, "documents")
    val kernel = fps(TextAnalysis.winnowFingerprints(d))
    val hof = fps(TextAnalysis.winnowFingerprintsHof(d))
    assert(kernel.keySet == hof.keySet)
    val diff = kernel.collect { case (id, v) if hof(id) != v => id }.take(3)
    assert(diff.isEmpty, s"fingerprints diverge for docs $diff")
    assert(kernel.nonEmpty && kernel.values.exists(_.size > 1))
  }

  test("kernel ≡ HOF on degenerate shapes, both below and above the length filter") {
    val sp = spark
    import sp.implicits._
    // exactly at the k+window-1 boundary, one under it, repeated words
    // (distinct must collapse), and a long doc with short-tail windows
    val d = Seq(
      (1L, "a b c d e f g"),              // exactly 7 words: 1 full window
      (2L, "a b c d e f"),                // 6 words: filtered out
      (3L, "x x x x x x x x x x"),        // all-identical grams → 1 fp
      (4L, ("w " * 40).trim),             // long repeated doc
      (5L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val kernel = fps(TextAnalysis.winnowFingerprints(d))
    val hof = fps(TextAnalysis.winnowFingerprintsHof(d))
    assert(kernel == hof, s"kernel $kernel vs hof $hof")
    assert(!kernel.contains(2L) && kernel.contains(1L))
    assert(kernel(3L).size == 1)
  }

  test("kernel ≡ HOF on non-ASCII text (multi-byte chars, surrogate pairs)") {
    // the fixture corpus is pure ASCII, but the kernel's contract is
    // general: java String#hashCode runs over UTF-16 units, and the
    // incremental per-word fold must equal hashing the concatenated gram —
    // including umlauts (2-byte UTF-8) and an emoji (surrogate pair)
    val sp = spark
    import sp.implicits._
    val d = Seq(
      (1L, "über straße naïve café emoji😀word grüße token eight"),
      (2L, "日本語 テスト 漢字 かな モジ 七 八 九"))
      .toDF("doc_id", "text")
    val kernel = fps(TextAnalysis.winnowFingerprints(d))
    val hof = fps(TextAnalysis.winnowFingerprintsHof(d))
    assert(kernel == hof, s"non-ASCII divergence: kernel $kernel vs hof $hof")
    assert(kernel.contains(1L) && kernel.contains(2L))
  }

  test("interpreted eval matches the codegen path") {
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.operators.Dedup
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta").map(w => UTF8String.fromString(w): AnyRef)
    val arr: ArrayData = new GenericArrayData(words)
    val expr = graft.functions.WinnowFingerprints(
      org.apache.spark.sql.catalyst.expressions.Literal(arr,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
      4, 4, Dedup.WinnowA, Dedup.WinnowB, Dedup.MinhashP)
    val interp = expr.eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
    val sp = spark
    import sp.implicits._
    val viaPlan = fps(TextAnalysis.winnowFingerprints(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")))
    assert(viaPlan(1L) == interp)
  }
}
