package perfbench

import java.io.File
import java.math.{MathContext, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry, Tables}

/** A fixed list of registered lanes over the bundled tables, each run
  * through the noop sink with persisted blocks released between lanes. */
object QueryMix {
  /** Relational lanes first, then LLM-operator lanes; the seed shuffles
    * their order in every warm pass. */
  val Lanes: Seq[String] = Seq(
    "q08_agg_tpch_q1", "q54_tpch_q3", "q141_tpch_q9", "q121_fuzzy_pairs")

  /** Lanes offered to the DuckDB cross-check that produces the pins. */
  val PinCandidates: Seq[String] = Lanes ++ Seq(
    "q56_window_dist", "q169_quality_classifier", "q89_tfidf_top_terms", "q104_tpch_q21",
    "q107_percentile_disc", "q50_neardup_confirmed", "q87_ann_recall", "q153_ivfpq_rerank",
    "q163_exact_substr_trim")

  val SetupReps = 3
  val Settle = 2

  def warmTables(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach { n =>
      Tables(spark, dir, n)
      spark.read.parquet(s"$dir/$n.parquet").write.format("noop").mode("overwrite").save()
    }

  final case class LaneRun(lane: String, pass: Int, traced: Boolean, wallS: Double, error: String,
                           settle: Boolean)

  def run(spark: SparkSession, ctx: Ctx): Map[String, Any] = {
    val dir = ctx.dataDir
    require(new File(s"$dir/lineitem.parquet").isFile, s"no tables under $dir")
    val setup = (0 until SetupReps).map { _ =>
      val t0 = Clock.ms(); ctx.spans("setup.warm_tables")(warmTables(spark, dir)); (Clock.ms() - t0) / 1e3
    }
    val probe = if (ctx.trace) Some(new RuntimeProbe(spark).attach()) else None

    // first pass: cold, collects every result for its fingerprint
    val c0 = Compile.now()
    val t0 = Clock.ms()
    val first = ctx.spans("pass.first") {
      Lanes.map { lane =>
        val ts = Clock.ms()
        val (fp, rows, err) = try {
          val df = ctx.spans(s"lane.$lane")(SparkEntry.queries(lane)(spark, dir))
          val res = ctx.spans(s"lane.$lane.collect")(df.collect())
          (Fingerprint(res, df.schema), res.length.toLong, null)
        } catch { case e: Throwable => (null, 0L, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
        finally GraftSession.releasePersisted(spark)
        Map("lane" -> lane, "wall_s" -> (Clock.ms() - ts) / 1e3, "fingerprint" -> fp,
          "rows" -> rows, "error" -> err)
      }
    }
    val firstS = (Clock.ms() - t0) / 1e3
    val c1 = Compile.now()

    // warm passes: the first Settle passes let JIT compilation settle and
    // are not reported; a traced run alternates untraced and traced passes
    val rng = new scala.util.Random(ctx.seed)
    val passes = Settle + math.max(4, ctx.seconds / 3) * (if (ctx.trace) 2 else 1)
    val runs = scala.collection.mutable.ArrayBuffer[LaneRun]()
    val passWalls = scala.collection.mutable.ArrayBuffer[(Boolean, Double)]()
    val snaps = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    (0 until passes).foreach { p =>
      val traced = ctx.trace && p >= Settle && (p - Settle) % 2 == 1
      val order = rng.shuffle(Lanes)
      val s0 = if (traced) probe.map(_.snap()) else None
      val tp = Clock.ms()
      val spans = if (traced) ctx.spans else new Spans(false)
      spans(s"pass.warm") {
        order.foreach { lane =>
          val ts = Clock.ms()
          val err = try {
            spans(s"lane.$lane") {
              SparkEntry.queries(lane)(spark, dir).write.format("noop").mode("overwrite").save()
            }
            null
          } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
          val wall = (Clock.ms() - ts) / 1e3
          GraftSession.releasePersisted(spark)
          runs += LaneRun(lane, p, traced, wall, err, settle = p < Settle)
        }
      }
      val wall = (Clock.ms() - tp) / 1e3
      if (p >= Settle) passWalls += ((traced, wall))
      if (traced) probe.foreach { pr => snaps += pr.between(s0.get, pr.snap()) }
    }

    val layers: Map[String, Any] = probe.map { pr =>
      pr.detach()
      val summed = snaps.flatMap(_.toSeq).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum / snaps.size }
      val traced = passWalls.filter(_._1).map(_._2).toSeq
      val plain = passWalls.filterNot(_._1).map(_._2).toSeq
      summed ++ c0.to(c1) ++ Map(
        "query.first_pass_s" -> firstS,
        "trace.pass_traced_s" -> PerfBench.median(traced),
        "trace.pass_untraced_s" -> PerfBench.median(plain)) ++
        Lanes.map(l => s"lane.$l.warm_s" ->
          PerfBench.median(runs.filter(r => r.lane == l && !r.traced && !r.settle).map(_.wallS).toSeq)) ++
        Probe.pipelineStandalone(spark, ctx)
    }.getOrElse(Map.empty)

    Map(
      "setup_s" -> setup,
      "first_pass_s" -> firstS,
      "first" -> first,
      "lanes" -> runs.map(r => Map("lane" -> r.lane, "pass" -> r.pass, "traced" -> r.traced,
        "settle" -> r.settle, "wall_s" -> r.wallS, "error" -> r.error)).toSeq,
      "passes" -> passWalls.map { case (t, w) => Map("traced" -> t, "wall_s" -> w) }.toSeq,
      "layers" -> layers)
  }

  /** One collect per candidate lane plus its oracle SQL, for pin_lanes.py. */
  def pin(spark: SparkSession, ctx: Ctx): Map[String, Any] = {
    val dir = ctx.dataDir
    Map("pins" -> PinCandidates.map { lane =>
      val df = SparkEntry.queries(lane)(spark, dir)
      val res = df.collect()
      GraftSession.releasePersisted(spark)
      Map("lane" -> lane, "fingerprint" -> Fingerprint(res, df.schema), "rows" -> res.length,
        "oracle_sql" -> SparkEntry.oracleSql.getOrElse(lane, null))
    })
  }
}

/** Order-insensitive result fingerprint: every row is rendered with its
  * columns in case-insensitive name order, hashed with MD5, and the first
  * eight bytes of each hash are summed modulo 2^64. Fractional numbers are
  * rounded half-even to six significant digits, so engines whose float
  * sums differ in the last bits still agree. pin_lanes.py implements the
  * same rendering over DuckDB results. */
object Fingerprint {
  private val mc = new MathContext(6, RoundingMode.HALF_EVEN)

  def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) "0.00000e+00"
    else {
      val bd = new java.math.BigDecimal(d).round(mc)
      val u = bd.unscaledValue.abs.toString
      val e = u.length - 1 - bd.scale
      val digits = (u + "00000").take(6)
      val sign = if (bd.signum < 0) "-" else ""
      val es = if (e < 0) "-" else "+"
      String.format(java.util.Locale.ROOT, "%s%s.%se%s%02d",
        sign, digits.take(1), digits.drop(1), es, Int.box(math.abs(e)))
    }

  def canon(v: Any): String = v match {
    case null => "\\N"
    case s: String => s
    case b: Boolean => if (b) "true" else "false"
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case d: java.math.BigDecimal => num(d.doubleValue)
    case t: java.sql.Timestamp => micros(t.toInstant)
    case t: java.time.Instant => micros(t)
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case a: Array[Byte] => a.map(b => String.format(java.util.Locale.ROOT, "%02x", Int.box(b & 0xff))).mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  private def micros(i: java.time.Instant): String =
    (i.getEpochSecond * 1000000L + i.getNano / 1000).toString

  def apply(rows: Array[Row], schema: StructType): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1.toLowerCase(java.util.Locale.ROOT)).map(_._2)
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val line = order.map(i => canon(r.get(i))).mkString("\u001f")
      sum += java.nio.ByteBuffer.wrap(md.digest(line.getBytes("UTF-8"))).getLong
    }
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }
}
