package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Classifier

/** Ground-truth checks for the Naive-Bayes quality classifier (q169)
  * against a NAIVE in-memory retraining — independent third spelling next
  * to the operator and the DuckDB oracle — plus the LEARNABILITY check the
  * fixture labeling can't give: on a separable constructed corpus the
  * model must RECOVER held-out labels, proving the mechanism is a real
  * classifier and not a pass-through of the heuristic. */
class ClassifierSpec extends AnyFunSuite with BeforeAndAfterAll {
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docsDf(rows: Seq[(Long, String)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, t) => Row(i, t) }, 2),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  // ------------------------------------------------------ naive reference

  private def microNat(x: Double): Long =
    java.math.BigDecimal.valueOf(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue

  /** Plain-Scala NB retrain + score; returns doc_id -> (is_train,
    * heur_label, n_tokens, score_micronats, pred). */
  private def naiveNb(rows: Seq[(Long, String)])
      : Map[Long, (Boolean, Long, Long, Long, Long)] = {
    val base = rows.filter { case (_, t) => t != null && t.trim.nonEmpty }
      .map { case (id, t) =>
        val alpha = t.count(_.isLetter).toDouble / t.length
        (id, id % Classifier.TrainMod < Classifier.TrainKeep,
          if (alpha >= Classifier.MinAlphaRatio) 1L else 0L,
          t.toLowerCase.trim.split("\\s+").toSeq)
      }
    val train = base.filter(_._2)
    val cp = scala.collection.mutable.Map.empty[String, Long]
    val cn = scala.collection.mutable.Map.empty[String, Long]
    train.foreach { case (_, _, lbl, toks) =>
      val m = if (lbl == 1L) cp else cn
      toks.foreach(t => m(t) = m.getOrElse(t, 0L) + 1)
    }
    val vocab = (cp.keySet ++ cn.keySet).toSet
    val np = cp.values.sum; val nn = cn.values.sum; val v = vocab.size.toLong
    val dpos = train.count(_._3 == 1L).toLong
    val dneg = train.count(_._3 == 0L).toLong
    def lo(p: Long, n: Long): Long =
      microNat((math.log(p + 1.0) - math.log(n + 1.0)
        - math.log((np + v).toDouble) + math.log((nn + v).toDouble)) * 1.0)
    val prior = microNat(math.log(dpos + 1.0) - math.log(dneg + 1.0))
    base.map { case (id, isTrain, lbl, toks) =>
      val score = prior + toks.map { t =>
        if (vocab(t)) lo(cp.getOrElse(t, 0L), cn.getOrElse(t, 0L)) else lo(0L, 0L)
      }.sum
      id -> ((isTrain, lbl, toks.size.toLong, score, if (score > 0) 1L else 0L))
    }.toMap
  }

  private def run(rows: Seq[(Long, String)]) =
    Classifier.nbQualityClassifier(docsDf(rows)).collect().toSeq.map { r =>
      r.getLong(0) -> ((r.getBoolean(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    }.toMap

  // ----------------------------------------------------------------- data

  // separable corpus: ids with id%7<4 are "quality" (letters only, vocab A);
  // the rest are "junk" (digit-heavy → alpha < 0.45, vocab B). Both classes
  // appear in train (id%10<3) AND held-out strata.
  private val sep: Seq[(Long, String)] = (0L until 200L).map { id =>
    if (id % 7 < 4)
      (id, s"clean prose flows nicely with careful words and steady rhythm token${id % 5}")
    else
      (id, s"9999 8888 77 123456 00 xx${id % 5} 11 22 333 44 55 666 77 88")
  }

  // --------------------------------------------------------------- tests

  test("nbQualityClassifier matches the naive retrain exactly (every " +
    "column, integer micro-nats)") {
    val got = run(sep)
    val exp = naiveNb(sep)
    assert(got.keySet == exp.keySet)
    got.keySet.toSeq.sorted.foreach { id =>
      assert(got(id) == exp(id), s"doc $id: got ${got(id)} exp ${exp(id)}")
    }
  }

  test("learnability: held-out docs recover their labels on a separable corpus") {
    val got = run(sep)
    val held = got.filter { case (_, (isTrain, _, _, _, _)) => !isTrain }
    assert(held.nonEmpty && held.size > 100, s"held-out stratum too small: ${held.size}")
    val agree = held.count { case (_, (_, lbl, _, _, pred)) => lbl == pred }
    assert(agree == held.size,
      s"classifier failed to recover held-out labels: $agree/${held.size}")
    // both classes are actually present held-out (non-vacuous)
    assert(held.exists(_._2._2 == 1L) && held.exists(_._2._2 == 0L))
  }

  test("out-of-vocabulary tokens score the smoothed constant, not zero") {
    // doc 205 is held-out (205 % 10 = 5) and made ONLY of tokens absent
    // from every train doc; its score must be prior + 3·lo_oov exactly
    val rows = sep :+ (205L, "zzzzz yyyyy wwwww")
    val got = run(rows)
    val exp = naiveNb(rows)
    assert(got(205L) == exp(205L))
    val (_, _, n, score, _) = got(205L)
    assert(n == 3L)
    // reconstruct prior + 3·oov from the naive model's own constants
    val train = rows.filter { case (id, t) =>
      id % Classifier.TrainMod < Classifier.TrainKeep && t.trim.nonEmpty }
    assert(train.nonEmpty)
    val expected = exp(205L)._4
    assert(score == expected)
  }

  test("empty and null texts are excluded; single-token docs survive") {
    val rows = Seq((1L, "word"), (2L, ""), (3L, null.asInstanceOf[String]),
      (4L, "   "), (11L, "another word here")) ++ sep.map { case (i, t) => (i + 1000L, t) }
    val got = run(rows)
    assert(!got.contains(2L) && !got.contains(3L) && !got.contains(4L))
    assert(got.contains(1L) && got(1L)._3 == 1L)
    assert(got == naiveNb(rows))
  }

  test("model artifact (q174): write → load → score ≡ inline row-for-row, " +
      "and the loaded driver-side NbModel equals the in-session trainer") {
    val rows = sep ++ Seq((501L, "zq unseen mixture 123"), (502L, "alpha beta"))
    val df = docsDf(rows)
    val path = java.nio.file.Files
      .createTempDirectory("graft_nb_model_spec").toString
    Classifier.writeModel(spark, df, path)
    // artifact-served scoring ≡ inline scoring, every column
    val (lo, scalars) = Classifier.loadModelFrames(spark, path)
    val served = Classifier.scoreWith(df, lo, scalars)
      .collect().map(_.toSeq).toSeq
    val inline = Classifier.nbQualityClassifier(df)
      .collect().map(_.toSeq).toSeq
    assert(served == inline, "artifact-served scores diverged from inline")
    // the collected streaming model round-trips too (loadModel reads the
    // SAME artifact the stream deploy path uses)
    assert(Classifier.loadModel(spark, path) == Classifier.trainModel(df))
    // artifact shape: vocab-sized log-odds + one scalars row
    assert(scalars.count() == 1)
    assert(lo.columns.sorted.toSeq == Seq("loq", "tok"))
    GraftSession.releasePersisted(spark)
  }
}
