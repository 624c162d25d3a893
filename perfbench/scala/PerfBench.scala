package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one workload hands back: raw samples and per-layer readings. The
  * Python front end (run.py) turns them into the reported metrics. */
final case class Ctx(workload: String, seed: Long, seconds: Int, trace: Boolean,
                     runDir: String, dataDir: String) {
  val spans = new Spans(trace)
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

/** Benchmark main. Arguments:
  *   workload seed seconds trace(0|1) runDir outJson dataDir
  * Everything the run creates lives under runDir (checkpoints, Derby
  * databases, landed files, spill); run.py deletes it afterwards. */
object PerfBench {
  def main(args: Array[String]): Unit = {
    require(args.length == 7, "usage: PerfBench workload seed seconds trace runDir outJson dataDir")
    val ctx = Ctx(args(0), args(1).toLong, args(2).toInt, args(3) == "1", args(4), args(6))
    val t0 = Clock.ms()
    val spark = ctx.spans("session.start")(session(ctx))
    val sessionS = (Clock.ms() - t0) / 1e3
    val out = try {
      ctx.workload match {
        case "ingest_drain"  => Ingest.drain(spark, ctx)
        case "ingest_steady" => Ingest.steady(spark, ctx)
        case "query_mix"     => QueryMix.run(spark, ctx)
        case "pin_lanes"     => QueryMix.pin(spark, ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally spark.stop()
    val doc = out ++ Map("session_s" -> sessionS, "cores" -> ctx.cores,
      "spans" -> ctx.spans.toJson)
    Files.writeString(Paths.get(args(5)), Json.write(doc))
  }

  /** local[nproc] session over the program's own builder; every scratch
    * directory Spark and Derby use points into the run directory. */
  def session(ctx: Ctx): SparkSession = {
    val s = GraftSession.builder(s"local[${ctx.cores}]")
      .config("spark.local.dir", s"${ctx.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.runDir}/warehouse")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** `prefix-00042.parquet`; numbers are always formatted under an
    * explicit locale, never the JVM default. */
  def fileName(prefix: String, n: Int): String =
    String.format(java.util.Locale.ROOT, "%s-%05d.parquet", prefix, Int.box(n))

  /** Recursive delete for the run's own directories. */
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
}

/** Scala values → JSON through the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()
  private def conv(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, conv(x)) }
      out
    case s: Iterable[_] => s.map(conv).toSeq.asJava
    case a: Array[_] => a.toSeq.map(conv).asJava
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case o => o.toString
  }
  def write(v: Any): String = mapper.writeValueAsString(conv(v))
}
