package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Optional 3rd arg (dev only; the driver always passes 2): comma-separated
  * query names — restricts the dump to that subset. Used by the sf1
  * spot-gate (r5 verdict #8) to re-run the most expensive gated queries
  * against a 10×-sf0.1 dataset without paying the full 222-entry sweep. */
object Verify {
  def main(args: Array[String]): Unit = {
    val rc = run(args)
    if (rc != 0) sys.exit(rc)
  }

  /** The whole dump as a function returning the process exit code, so
    * VerifyHardeningSpec can drive the failure path in-process (sys.exit
    * inside a forked test JVM would kill the suite). */
  def run(args: Array[String]): Int = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2 && args(2).nonEmpty) Some(args(2).split(',').toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the builder's session: the graft_cosine extension the s48/s87 SQL
    // twins call (without it they fail UNRESOLVED_ROUTINE and vanish from
    // the correctness surface) and the legacy nanos flag that
    // Tables.normalizeTs falls back on (TsPhysicalTypeSpec)
    val spark = GraftSession.builder(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Fixture-invariant guard (r11 ADVICE #3): the bit-exact ANN oracle
    // replays (q39/q48/q87/q113/q114) assume the embeddings fixture has
    // dim=64 and no all-zero 8-dim PQ subvector (a zero subspace norm makes
    // Spark's x/0 a NaN the kernels skip while DuckDB's division yields
    // NULL/Inf — divergent sorts). Assert them HERE, cheaply, so a testdata
    // regen that breaks one fails with a NAMED message instead of an opaque
    // hash mismatch on five lanes.
    try {
      import org.apache.spark.sql.functions._
      val inv = Tables(spark, sfDir, "embeddings").agg(
        min(size(col("embedding"))).as("dmin"),
        max(size(col("embedding"))).as("dmax"),
        min(expr("""array_min(transform(sequence(0, 7), m ->
          aggregate(slice(embedding, m * 8 + 1, 8), CAST(0.0 AS DOUBLE),
            (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))""")).as("minSubNorm2"))
        .first()
      require(inv.getInt(0) == 64 && inv.getInt(1) == 64,
        s"embeddings fixture dim changed: size range [${inv.getInt(0)}, ${inv.getInt(1)}], " +
          "oracle replays hardcode 64 (SparkEntry.sqlDot family)")
      require(inv.getDouble(2) > 0.0,
        "embeddings fixture has an all-zero 8-dim PQ subvector: the " +
          "NaN-skip vs NULL-sort divergence documented at SparkEntry.sqlDot applies")
    } catch {
      case e: IllegalArgumentException => throw e // the named guard itself
      // A SCHEMA-level AnalysisException (renamed/retyped `embedding` after
      // a fixture regen) is exactly the drift this guard exists to name —
      // swallowing it would re-open the opaque five-lane hash mismatch
      // (r12 ADVICE #1). Only a genuinely missing table (surfaces per-query
      // below with its own message) may degrade to a stderr note.
      case e: org.apache.spark.sql.AnalysisException
          if !e.getMessage.contains("PATH_NOT_FOUND") &&
            !e.getMessage.contains("Path does not exist") =>
        throw new IllegalArgumentException(
          "embeddings fixture schema drifted (the ANN oracle replays " +
            s"hardcode dim-64 float arrays — SparkEntry.sqlDot family): ${e.getMessage}", e)
      case e: Throwable =>
        // a missing/corrupt table surfaces per-query below; don't die here
        System.err.println(s"[verify] fixture-invariant probe skipped: ${e.getMessage}")
    }
    // Silent-shrinkage guard (r7 postmortem: 26 entries vanished from the
    // correctness dump because a per-query throw left NO parquet dir — the
    // driver can't flag a row it never sees). A failed query now still dumps
    // a one-row parquet whose single `graft_error` column carries the
    // message: dumped count always equals registered count, and the driver's
    // compare reports the row as a loud schema/hash mismatch instead of a
    // silently smaller surface. The run also exits nonzero (fork=true
    // propagates it through sbt to the driver's rc field).
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
        try {
          import spark.implicits._
          Seq(s"${e.getClass.getName}: ${e.getMessage}").toDF("graft_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name error-row dump also failed: ${e2.getMessage}")
        }
      }
      // operators that persist intermediates (LSH, connected components)
      // must not pin storage across the remaining 80+ queries
      GraftSession.releasePersisted(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // ALWAYS the full oracle map, even for a dev-subset run: a subset
    // re-dump into an existing out dir must not shrink oracle_sql.json
    // under the other queries' parquet (r11: the full-surface sf1 gate
    // re-dumped q50 after an oracle conversion and the filtered write
    // left a 2-entry oracle file beside 274 results)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.sorted.mkString(", ")}")
      1
    } else 0
  }
}
