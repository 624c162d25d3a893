package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorOps

/** SparkSessionExtensions wiring: injected SQL functions and the
  * HOF-cosine fusion rule (GraftExtensions is registered by
  * GraftSession.builder, so every engine session carries these). */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("builder sizes shuffle partitions to local[N]; a later .config wins") {
    val key = "spark.sql.shuffle.partitions"
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    assert(spark.conf.get(key) == "4")
    assert(spark.conf.get(provider) == rocks)
    // getOrCreate hands back this suite's session with the builder's
    // runtime confs applied, so no second session is built
    try {
      val s = GraftSession.builder("local[4]").config(key, "7")
        .config(provider, hdfs).getOrCreate()
      assert(s eq spark)
      assert(spark.conf.get(key) == "7")
      assert(spark.conf.get(provider) == hdfs)
    } finally {
      spark.conf.set(key, "4")
      spark.conf.set(provider, rocks)
    }
  }

  test("graft_cosine is SQL-callable and computes the fused kernel") {
    val got = spark.sql(
      "SELECT graft_cosine(array(1.0d, 2.0d, 2.0d), array(2.0d, 1.0d, 2.0d)) AS c")
      .first().getDouble(0)
    assert(math.abs(got - 8.0 / 9.0) < 1e-15) // (2+2+4)/(3*3)
  }

  test("java_string_hash is SQL-callable with Java String#hashCode semantics") {
    val rows = spark.sql(
      "SELECT java_string_hash('abc') AS h1, java_string_hash(12345) AS h2").first()
    assert(rows.getInt(0) == "abc".hashCode)
    assert(rows.getInt(1) == "12345".hashCode) // non-string input casts first
  }

  test("optimizer fuses the HOF cosine composition into CosineSimilarity") {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
      .limit(50)
    val pairs = e.toDF("ida", "a").crossJoin(e.toDF("idb", "b")).limit(200)
    val hof = pairs.select(col("ida"), col("idb"),
      VectorOps.cosineHof(col("a"), col("b")).as("sim"))
    // the rule must have replaced the aggregate/zip_with walk with the kernel
    val optimized = hof.queryExecution.optimizedPlan.toString
    assert(optimized.contains("cosinesimilarity") || optimized.contains("CosineSimilarity"),
      s"HOF cosine not fused:\n$optimized")
    assert(!optimized.contains("aggregate("), s"HOF walk survived the rewrite:\n$optimized")
    // and the fusion must be value-identical to the explicit native kernel
    val native = pairs.select(col("ida"), col("idb"),
      VectorOps.cosine(col("a"), col("b")).as("sim"))
    val (h, n) = (hof.collect(), native.collect())
    assert(h.length == n.length)
    h.zip(n).foreach { case (x, y) =>
      assert(x.getDouble(2) == y.getDouble(2),
        s"fused ${x.getDouble(2)} != native ${y.getDouble(2)}")
    }
  }

  test("fusion preserves HOF null semantics on ragged and NULL arrays") {
    val df = spark.sql(
      """SELECT sim FROM (
        |  SELECT id,
        |         aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v)
        |           / (sqrt(aggregate(a, 0.0d, (acc, v) -> acc + v * v))
        |              * sqrt(aggregate(b, 0.0d, (acc, v) -> acc + v * v))) AS sim
        |  FROM VALUES
        |    (1, array(1.0d, 2.0d), array(1.0d, 2.0d, 3.0d)),
        |    (2, array(1.0d, 2.0d), CAST(NULL AS ARRAY<DOUBLE>)),
        |    (3, array(3.0d, 4.0d), array(3.0d, 4.0d)) AS t(id, a, b)
        |  ) ORDER BY sim NULLS FIRST""".stripMargin)
    val rows = df.collect()
    // ragged (1) and NULL (2) both NULL — exactly the un-fused HOF behavior;
    // the equal-length pair is an exact self-cosine of 1.0
    assert(rows.count(_.isNullAt(0)) == 2, rows.mkString(","))
    assert(rows.exists(r => !r.isNullAt(0) && r.getDouble(0) == 1.0))
  }
}
