package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs.withTempDir

/** Red-path coverage for the bench-side scan gate (r14 verdict #7): the
  * `collected < budgeted` loud-fail at Bench's scan-gate phase had no spec
  * driving it — VerifyHardeningSpec covers Verify's analog, but a fence
  * whose failure path is never exercised is one refactor away from
  * silently passing everything. [[ScanAudit.gate]] is the extracted
  * Bench code path; these tests crash a lane FOR REAL (bad fixture dir →
  * collect omits it) and assert the failure entry, alongside the green
  * path and the plain over-budget path. */
class BenchGateSpec extends AnyFunSuite with BeforeAndAfterAll {
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("FATAL") // the crashed lane logs on stderr by design
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("a lane that crashes during the audit fails the gate as a shortfall, not a silent skip") {
    // drive the REAL collect path: the lane throws (missing fixture dir),
    // collect omits it, and the budget cross-check must turn that omission
    // into a failures[] entry — exactly what Bench records
    val rows = ScanAudit.collect(spark, "/tmp/graft_no_such_fixture_dir",
      only = Some("q01_scan_filter_sort"))
    assert(rows.isEmpty, "the crashed lane must be omitted from the audit")
    val budgets = Map("q01_scan_filter_sort" -> Map("lineitem" -> 1))
    assert(ScanAudit.gate(rows, budgets) === Seq("scan_budget:missing(q01_scan_filter_sort)"))
  }

  test("green path: collected == budgeted with in-budget scans yields no failures") {
    val rows = ScanAudit.collect(spark, "/root/testdata/sf0.001",
      only = Some("q01_scan_filter_sort"))
    assert(rows.size == 1 && rows.head._1 == "q01_scan_filter_sort")
    val budgets = Map("q01_scan_filter_sort" -> Map("lineitem" -> 1))
    assert(ScanAudit.gate(rows, budgets).isEmpty)
  }

  test("sf1GateCommit reads the artifact's _meta stamp and degrades to 'absent'") {
    withTempDir("sf1meta") { dirPath =>
      val dir = dirPath.toFile
      def write(name: String, body: String): String = {
        val f = new java.io.File(dir, name)
        java.nio.file.Files.writeString(f.toPath, body)
        f.getPath
      }
      assert(Bench.sf1GateCommit(new java.io.File(dir, "missing.json").getPath) == "absent")
      // pre-stamp format (the r12-era artifact had no _meta block)
      assert(Bench.sf1GateCommit(write("old.json",
        """{"q01":{"hash_match":true}}""")) == "absent")
      assert(Bench.sf1GateCommit(write("bad.json", "not json")) == "absent")
      assert(Bench.sf1GateCommit(write("cur.json",
        """{"q01":{"hash_match":true},"_meta":{"sf1_head_commit":"abc123"}}""")) == "abc123")
    }
  }

  test("an over-budget lane is named with its table and counts") {
    val rows = Seq(("qx_lane", Map("lineitem" -> 2, "orders" -> 1), 0))
    val budgets = Map("qx_lane" -> Map("lineitem" -> 1, "orders" -> 1))
    assert(ScanAudit.gate(rows, budgets) === Seq("scan_budget:qx_lane:lineitem(2>1)"))
  }

  test("a crashed budgeted lane is caught even when an unbudgeted lane keeps the sizes equal") {
    // r15 ADVICE #2: collect() runs unbudgeted lanes too, so a size-only
    // shortfall check can balance a crashed budgeted lane against a
    // collected unbudgeted one and silently pass — the name-set gate must
    // name the missing lane.
    val rows = Seq(("q_unbudgeted_new_lane", Map("documents" -> 1), 0))
    val budgets = Map("q_budgeted_crashed" -> Map("lineitem" -> 1))
    assert(ScanAudit.gate(rows, budgets) === Seq("scan_budget:missing(q_budgeted_crashed)"))
  }
}
