package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Conformance: every SparkEntry query's DataFrame plan must produce exactly
  * the rows of its declared oracle SQL when that SQL is run by Spark itself
  * over the same tables. This validates the Spark side of the hash-compare
  * gate; the DuckDB side reuses the same SQL (or a dialect twin, overridden
  * below where the dialects split — FIXTURES.md §C). */
class RelationalConformanceSpec extends AnyFunSuite with BeforeAndAfterAll {
  // override with -Dgraft.sfdir=/root/testdata/sf0.01 for gate-scale runs
  val sfDir: String = sys.props.getOrElse("graft.sfdir", "/root/testdata/sf0.001")
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.registerAll(spark, sfDir)
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Lane twins whose SQL text mirrors the DataFrame operator's hash
    * family / algorithm EXACTLY, so row-for-row equality is asserted.
    * q87 is excluded by design: its SQL twin runs the unrefined IVF and a
    * 2-table LSH (Lloyd refinement is imperative driver logic with no
    * single-statement SQL spelling) — a LABELED divergence carrying its own
    * computed divergence oracle (SparkEntry.s87AnnRecallOracle), so only its shape — 2
    * labeled recall rows — is pinned here. */
  private val laneDivergent: Set[String] = Set("q87_ann_recall")

  for ((name, fn) <- SparkEntry.baseQueries.toSeq.sortBy(_._1)) {
    test(name) {
      val df = fn(spark, sfDir)
      val got = df.collect()
      assert(got.length > 0, s"$name returned no rows")
      if ((SparkEntry.baseOracleSql.contains(name) ||
          SqlFrontDoor.rowsOnlySql.contains(name)) && !laneDivergent.contains(name)) {
        // the SAME text the sNN_ SQL-front-door lane executes: this loop IS
        // the lane-equality pin (DataFrame plan ≡ spark.sql(text), row-for-row)
        val sql = SqlFrontDoor.sqlText(name)
        val exp = spark.sql(sql)
        assert(df.columns.toSeq == exp.columns.toSeq,
          s"$name column mismatch: ${df.columns.toSeq} vs ${exp.columns.toSeq}")
        val expRows = exp.collect()
        assert(got.length == expRows.length,
          s"$name row count ${got.length} != ${expRows.length}")
        got.zip(expRows).zipWithIndex.foreach { case ((g, e), i) =>
          assert(g == e, s"$name row $i: $g != $e")
        }
      }
      // operators that pin metadata-sized frames (q111 survivor ids, q118
      // med/mad) rely on the harness sweep between queries — Bench and
      // Verify both sweep; this loop runs every query twice (q + s lanes)
      // and must not accumulate pinned blocks across 244 tests
      GraftSession.releasePersisted(spark)
    }
  }

  test("s87_ann_recall: SQL twin emits the 2-method recall shape") {
    val rows = SqlFrontDoor.laneQueries("s87_ann_recall")(spark, sfDir)
      .collect()
    assert(rows.length == 2, s"expected 2 recall rows, got ${rows.length}")
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      Seq("ivf_sqrtn_nprobe4_r0", "lsh_5bit_x2"))
    rows.foreach { r =>
      val recall = r.getDouble(1)
      assert(recall >= 0.0 && recall <= 1.0, s"recall out of range: $r")
    }
  }

  test("lshBucketSql is total on a zero-length embedding (r6 ADVICE #5)") {
    // the earlier sequence(0, size(v)-1) spelling produced a DESCENDING
    // [0,-1] index array on an empty vector and crashed on element_at(v, 0);
    // the indexed-transform spelling must degrade to bucket 0 like the
    // LshBucket kernel's empty fold
    val bucket = spark.sql(
      s"SELECT ${SqlFrontDoor.lshBucketSql(8, 0)} AS b FROM " +
        "(SELECT CAST(array() AS ARRAY<FLOAT>) AS v)").first().getLong(0)
    assert(bucket == 0L)
  }

  test("sql front door: every oracle query has an sNN_ lane twin that resolves over the views") {
    val lane = SqlFrontDoor.laneQueries
    assert(lane.keySet ==
      (SparkEntry.baseOracleSql.keySet ++ SqlFrontDoor.rowsOnlySql.keySet).map("s" + _.drop(1)),
      "lane names must mirror the oracle-gated + rows-only base names")
    // every lane entry parses + analyzes over the registered views; execution
    // equality is pinned per-query by the loop above, which runs the
    // IDENTICAL text (SqlFrontDoor.sqlText) against the DataFrame plan
    lane.toSeq.sortBy(_._1).foreach { case (sName, fn) =>
      try fn(spark, sfDir).queryExecution.analyzed
      catch { case e: Throwable => fail(s"$sName does not analyze: ${e.getMessage}") }
    }
    // the lane oracle is the base oracle verbatim (the one labeled-divergent
    // lane — s87 — carries its own computed oracle), and merging loses no
    // entries
    SparkEntry.baseOracleSql.foreach { case (q, sql) =>
      val sName = "s" + q.drop(1)
      if (sName == "s87_ann_recall")
        assert(SqlFrontDoor.laneOracle(sName) == SparkEntry.s87AnnRecallOracle)
      else
        assert(SqlFrontDoor.laneOracle(sName) == sql, s"lane oracle drifted for $q")
    }
    assert(SparkEntry.queries.size == SparkEntry.baseQueries.size + lane.size)
    assert(SparkEntry.oracleSql.size ==
      SparkEntry.baseOracleSql.size + SqlFrontDoor.laneOracle.size)
  }
}
