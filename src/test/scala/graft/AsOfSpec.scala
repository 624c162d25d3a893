package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsOf

/** As-of join semantics on a hand-built trades/quotes fixture where the
  * expected pairing is known row by row. */
class AsOfSpec extends AnyFunSuite with BeforeAndAfterAll {
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def df(schema: StructType, rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  test("asofBackward picks latest right row at-or-before, null when none") {
    val trades = df(
      StructType(Seq(StructField("sym", StringType), StructField("t", LongType),
        StructField("qty", LongType))),
      Seq(Row("A", 10L, 1L), Row("A", 20L, 2L), Row("A", 5L, 3L),
        Row("B", 10L, 4L), Row("C", 10L, 5L)))
    val quotes = df(
      StructType(Seq(StructField("sym", StringType), StructField("qt", LongType),
        StructField("px", DoubleType))),
      Seq(Row("A", 8L, 1.0), Row("A", 15L, 2.0), Row("A", 20L, 3.0),
        Row("B", 11L, 9.9))) // B's quote is AFTER the trade; C has none

    val out = AsOf.asofBackward(trades, quotes, "sym", "t", "qt")
      .collect().map { r =>
        val asof = r.getStruct(3)
        (r.getString(0), r.getLong(1), if (asof == null) None else Some(asof.getDouble(2)))
      }.toSet

    assert(out == Set(
      ("A", 10L, Some(1.0)),  // quote@8 is latest <= 10
      ("A", 20L, Some(3.0)),  // tie at 20 takes the right row
      ("A", 5L, None),        // no quote yet
      ("B", 10L, None),       // only later quotes
      ("C", 10L, None)))      // key never quoted
  }

  test("asofBackward result width = left columns + one struct") {
    val l = df(StructType(Seq(StructField("k", StringType), StructField("t", LongType),
      StructField("a", LongType), StructField("b", StringType))),
      Seq(Row("x", 1L, 1L, "p")))
    val r = df(StructType(Seq(StructField("k", StringType), StructField("rt", LongType),
      StructField("v", LongType))),
      Seq(Row("x", 0L, 7L)))
    val out = AsOf.asofBackward(l, r, "k", "t", "rt", asofCol = "q")
    assert(out.columns.toSeq == Seq("k", "t", "a", "b", "q"))
    val row = out.collect()(0)
    assert(row.getStruct(4).getLong(2) == 7L)
  }
}
