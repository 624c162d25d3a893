package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs.withTempDir

/** Scalar-function extension surface without test-data columns (SURVEY
  * §2.3.8): map functions over constructed maps, from_json over the events
  * props column. */
class FunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("integer-cents encoding is exact for every 2-dp money double (property)") {
    // the money-aggregate refactor rests on: round(x*100) recovers the true
    // cents for ANY 2-dp value stored as a double — including ones where
    // x*100 lands just below/above the integer in binary
    val centsGen = org.scalacheck.Gen.chooseNum(0L, 999999999L) // up to $10M
    val samples = (1 to 500).flatMap(i =>
      centsGen.apply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(i.toLong))) ++
      Seq(0L, 1L, 99L, 100L, 101L, 4999L, 5001L, 999999999L)
    val sp = spark
    import sp.implicits._
    val d = samples.map(c => (c, c / 100.0)).toDF("true_cents", "x")
    val bad = d.select(col("true_cents"),
        round(col("x") * 100).cast("long").as("enc"))
      .filter(col("enc") =!= col("true_cents"))
      .count()
    assert(bad == 0L, s"$bad values round-tripped wrong through cents encoding")
  }

  test("map functions: map_keys / map_values / element_at") {
    val d = Tables(spark, sfDir, "nation")
      .select(map(lit("name"), col("n_name"), lit("key"), col("n_nationkey").cast("string")).as("m"))
    val r = d.select(
      map_keys(col("m")).as("ks"),
      map_values(col("m")).as("vs"),
      element_at(col("m"), "name").as("nm"))
      .collect()
    r.foreach { row =>
      assert(row.getSeq[String](0) == Seq("name", "key"))
      assert(row.getString(2) == row.getSeq[String](1).head)
    }
  }

  test("from_json parses events.props into typed struct") {
    val e = Tables(spark, sfDir, "events")
      .select(col("props"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).as("j"))
      .filter(col("j.k").isNotNull)
    val rows = e.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // parsed value must equal the raw string's get_json_object read
      val raw = r.getString(0)
      val k = r.getStruct(1).getInt(0)
      assert(raw.contains(k.toString), s"parsed $k not in $raw")
    }
  }

  test("JSON scan (R1): schema'd spark.read.json round-trips a table sample") {
    withTempDir("graftjson") { tmp =>
      val src = Tables(spark, sfDir, "nation")
      src.coalesce(1).write.mode("overwrite").json(s"$tmp/nation_json")
      val back = spark.read.schema(src.schema).json(s"$tmp/nation_json")
      assert(back.count() == src.count())
      assert(back.orderBy("n_nationkey").collect().toSeq ==
        src.orderBy("n_nationkey").collect().toSeq)
    }
  }

  test("explode/posexplode generators over embeddings") {
    val e = Tables(spark, sfDir, "embeddings").limit(5)
    val pe = e.select(col("vec_id"), posexplode(col("embedding")))
    assert(pe.columns.toSeq == Seq("vec_id", "pos", "col"))
    assert(pe.count() == 5 * 64) // 64-dim vectors explode fully
  }

  test("ANN kernels: array<float> input is analyzer-cast, not silently misread (r5 advice)") {
    // BestCentroid/LshBucket read 8-byte doubles positionally; before the
    // inputTypes declaration, passing the embeddings table's NATIVE
    // array<float> column analyzed fine but read garbage. Now the analyzer
    // inserts the cast: the float spelling must equal the asDouble spelling.
    import graft.functions.VectorOps
    val e = Tables(spark, sfDir, "embeddings").limit(50)
    val cents = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("cent_id"), VectorOps.asDouble(col("embedding")).as("centv"))
      .agg(array_sort(collect_list(struct(col("cent_id"), col("centv")))).as("cents"))
    val viaFloat = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), VectorOps.bestCentroid(col("embedding"), col("cents")).as("c"))
      .orderBy("vec_id").collect().toSeq
    val viaDouble = e.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        VectorOps.bestCentroid(VectorOps.asDouble(col("embedding")), col("cents")).as("c"))
      .orderBy("vec_id").collect().toSeq
    assert(viaFloat == viaDouble, "float input must cast to the double path")

    val planes = typedLit(Seq(Seq(0.5, -0.25, 0.125), Seq(-0.5, 0.25, 0.75)))
    val bFloat = e.select(col("vec_id"),
      VectorOps.lshBucket(col("embedding"), planes).as("b")).orderBy("vec_id").collect().toSeq
    val bDouble = e.select(col("vec_id"),
      VectorOps.lshBucket(VectorOps.asDouble(col("embedding")), planes).as("b"))
      .orderBy("vec_id").collect().toSeq
    assert(bFloat == bDouble, "float input must cast to the double path")
  }

  test("lshSignature with caller-supplied dim is action-free and matches the probed path (r5 advice)") {
    import graft.operators.Similarity
    val e = Tables(spark, sfDir, "embeddings").limit(50)
      .select(col("vec_id"), graft.functions.VectorOps.asDouble(col("embedding")).as("v"))
    val probed = Similarity.lshSignature(e, "v", nBits = 8)
      .select("vec_id", "lsh_bucket").orderBy("vec_id").collect().toSeq
    val given = Similarity.lshSignature(e, "v", nBits = 8, dim = Some(64))
      .select("vec_id", "lsh_bucket").orderBy("vec_id").collect().toSeq
    assert(probed == given, "explicit dim must reproduce the probed signatures")
  }
}
