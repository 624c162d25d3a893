package graft

/** Ad-hoc profiler: `runMain graft.Prof <queryName> [sfDir] [runs] [cpus]
  * [conf1=v1,conf2=v2]`. Times repeated noop-sink executions of one
  * SparkEntry query, then prints the formatted plan — the
  * iterate-on-.explain loop from the build brief. The optional 5th arg
  * passes extra spark confs for A/B experiments (e.g. AQE partition
  * scaling) without editing session code. */
object Prof {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val cpus = if (args.length > 3) args(3) else "32"
    var b = GraftSession.builder(s"local[$cpus]")
    if (args.length > 4 && args(4).nonEmpty)
      args(4).split(',').filter(_.nonEmpty).foreach { tok =>
        val kv = tok.split("=", 2)
        require(kv.length == 2 && kv(0).nonEmpty,
          s"bad conf token '$tok' in '${args(4)}' — want key=value[,key=value...]")
        b = b.config(kv(0), kv(1))
      }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      if (name == "curation_flow") ScaleDrill.curationFlow
      else ScaleDrill.extraDrillQueries.getOrElse(name, SparkEntry.queries(name))
    for (i <- 1 to runs) {
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"[prof] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      GraftSession.releasePersisted(spark)
    }
    // the plan BEFORE execution (isFinalPlan=false under AQE)...
    val df = fn(spark, dir)
    df.explain("formatted")
    // ...and the plan that actually RAN: drive THIS QueryExecution to
    // completion (a .write would build a fresh one and leave this plan
    // unexecuted), then read it back — AQE's runtime re-plans (SMJ→BHJ
    // flips, coalesced partitions, skew splits, reused exchanges) are only
    // visible in the post-execution AdaptiveSparkPlan (r10 verdict #2: the
    // q124 drill-ratio diagnosis needs the final plan, not the estimate).
    val qe = df.queryExecution
    qe.toRdd.count(): Unit
    println("\n== AQE final (executed) plan ==")
    println(qe.executedPlan.toString)
    GraftSession.releasePersisted(spark)
    spark.stop()
  }
}
