package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The compiled shingle kernel must emit BIT-IDENTICAL strings to the HOF
  * spelling it replaced, for every k its consumers use (bigrams k=2,
  * minhash k=3, decontamination k=5), on the real corpus and on
  * boundary/non-ASCII shapes. */
class ShingleKernelSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def grams(df: org.apache.spark.sql.DataFrame, k: Int,
      kernel: Boolean): Map[Long, Seq[String]] = {
    val words = split(trim(col("text")), "\\s+")
    val sh = if (kernel) Dedup.shingles(words, k) else Dedup.shinglesHof(words, k)
    df.filter(size(words) >= k)
      .select(col("doc_id"), sh.as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
  }

  test("kernel ≡ HOF spelling on the full fixture corpus for k = 2, 3, 5") {
    val d = Tables(spark, sfDir, "documents")
    for (k <- Seq(2, 3, 5)) {
      val kernel = grams(d, k, kernel = true)
      val hof = grams(d, k, kernel = false)
      assert(kernel.keySet == hof.keySet, s"k=$k domain mismatch")
      val diff = kernel.collect { case (id, v) if hof(id) != v => id }.take(3)
      assert(diff.isEmpty, s"k=$k shingles diverge for docs $diff")
      assert(kernel.values.exists(_.size > 1))
    }
  }

  test("kernel ≡ HOF on boundary and non-ASCII shapes; total below the domain") {
    val sp = spark
    import sp.implicits._
    val d = Seq(
      (1L, "a b c"),                                    // exactly k=3 words
      (2L, "über straße naïve café emoji😀 grüße"),
      (3L, "日本語 テスト 漢字 かな"))
      .toDF("doc_id", "text")
    for (k <- Seq(2, 3)) {
      assert(grams(d, k, kernel = true) == grams(d, k, kernel = false), s"k=$k")
    }
    // below the consumers' filter domain the kernel is total (empty array)
    // where the HOF spelling is partial — strictly more defined
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.unsafe.types.UTF8String
    val short = graft.functions.ShingleStrings(
      org.apache.spark.sql.catalyst.expressions.Literal(
        new GenericArrayData(Array(UTF8String.fromString("one"): AnyRef)),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)), 3)
    assert(short.eval(null).asInstanceOf[ArrayData].numElements() == 0)
  }
}
