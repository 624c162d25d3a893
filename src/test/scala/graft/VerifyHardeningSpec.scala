package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Silent-shrinkage hardening of the correctness dump (r8 verdict #3):
  * round 7 shipped a correctness file 26 entries SHORT because per-query
  * throws left no parquet dir and rc stayed 0 — the driver cannot flag a
  * row it never receives. The contract now: a failed query still dumps a
  * one-row `graft_error` parquet (dumped count == registered count, and
  * the driver's hash compare turns the error row into a loud mismatch),
  * and the run's exit code is nonzero. */
class VerifyHardeningSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  private val tmps = scala.collection.mutable.ArrayBuffer.empty[String]
  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString; tmps += d; d
  }
  override def afterAll(): Unit = tmps.foreach(d => TempDirs.delete(java.nio.file.Paths.get(d)))

  test("a forced failure dumps an error row per query and returns rc=1") {
    val bad = tmp("graft_verify_bad") // no parquet inside
    val out = tmp("graft_verify_out")
    val probe = "q01_scan_filter_sort"
    val rc = Verify.run(Array(bad, out, probe))
    assert(rc == 1, "a failed query must produce a nonzero exit code")
    // the dump still contains an entry for the failed query…
    val dir = new java.io.File(s"$out/$probe")
    assert(dir.isDirectory, "failed query must still dump a parquet dir")
    // …and that entry is a loud one-row error marker, not plausible data
    val spark = GraftSession.builder("local[2]").getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val rows = spark.read.parquet(dir.toString).collect()
      assert(rows.length == 1)
      assert(rows.head.schema.fieldNames.toSeq == Seq("graft_error"))
      assert(rows.head.getString(0).nonEmpty)
      // oracle_sql.json is still written so the driver's compare loop runs
      assert(new java.io.File(s"$out/oracle_sql.json").isFile)
    } finally spark.stop()
  }

  test("a clean subset run returns rc=0") {
    val out = tmp("graft_verify_ok")
    val rc = Verify.run(Array("/root/testdata/sf0.001", out, "q01_scan_filter_sort"))
    assert(rc == 0)
    assert(new java.io.File(s"$out/q01_scan_filter_sort").isDirectory)
  }
}
