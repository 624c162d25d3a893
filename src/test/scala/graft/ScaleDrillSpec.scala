package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The ≥10× synthetic scale drill, exercised at spec scale (sf0.001 × 4):
  * materialization invariants (row counts, preserved dup structure) and the
  * no-hidden-quadratic contract on the expensive-query set. Bench runs the
  * full 10× version at sf0.1 and records the ratios in bench_detail.json. */
class ScaleDrillSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  val factor = 4
  var spark: SparkSession = _
  var outDir: String = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    outDir = java.nio.file.Files.createTempDirectory("graftdrill").toString
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("materialize: linear row counts, scale-invariant dup structure, distinct vectors") {
    ScaleDrill.materialize(spark, sfDir, outDir, factor)
    for (t <- Seq("documents", "embeddings", "orders", "lineitem", "events")) {
      val base = Tables(spark, sfDir, t).count()
      val big = spark.read.parquet(s"$outDir/$t.parquet").count()
      assert(big == base * factor, s"$t: $base × $factor != $big")
    }
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
    assert(docs.select("doc_id").distinct().count() == docs.count(), "doc ids must stay unique")
    // dup structure is scale-INVARIANT: exact-dup group sizes replicate,
    // they don't merge across copies (the copy token breaks cross-copy text)
    val baseGroups = Tables(spark, sfDir, "documents").filter(col("text").isNotNull)
      .groupBy(md5(col("text"))).count()
      .groupBy("count").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bigGroups = docs.filter(col("text").isNotNull)
      .groupBy(md5(col("text"))).count()
      .groupBy("count").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bigGroups == baseGroups.map { case (sz, n) => sz -> n * factor },
      s"dup-group histogram distorted: base=$baseGroups scaled=$bigGroups")
    // embeddings: no two copies cosine-identical (perturbed per copy/dim)
    val emb = spark.read.parquet(s"$outDir/embeddings.parquet")
    assert(emb.select("embedding").distinct().count() == emb.count(),
      "replicated vectors must be perturbed, not byte-identical")
  }

  test("expensive-query runtimes stay ~linear under the scale-up (no hidden quadratic)") {
    val (allRows, volBase, volBig) = ScaleDrill.run(spark, sfDir, outDir, factor)
    // attribution rows ("attr:<lane>:<operator>") appear only when a gated
    // lane trips its pass bar — tolerated, not required, at the spec's
    // tiny SF
    val rows = allRows.filterNot(_._1.startsWith("attr:"))
    assert(rows.map(_._1).toSet ==
      (ScaleDrill.drillQueries ++ ScaleDrill.extraDrillQueries.keys :+ "curation_flow").toSet)
    // the measured bigram-volume denominator must ship with the drill:
    // splice tokens make the xN side carry MORE than Nx bigrams
    assert(volBase > 0 && volBig > volBase * factor,
      s"drill bigram volumes implausible: base=$volBase scaled=$volBig factor=$factor")
    assert(rows.forall { case (_, _, _, pairs) => pairs == 2 || pairs == 3 },
      "pairs must record 2 (clean) or 3 (burst re-measure)")
    rows.foreach { case (name, base, big, _) =>
      val ratio = big / math.max(base, 1e-9)
      info(f"$name: base=$base%.2f s  x$factor=$big%.2f s  ratio=$ratio%.2f")
      // this in-suite assert only catches the QUADRATIC signature (~factor²
      // = 16 here): wall-clock ratios between two timed runs on a noisy
      // shared machine swing with contention even interleaved best-of-two
      // (r5 advice — a tight bound here is a flaky suite). The tight gate
      // (ratio > factor = recorded failure) lives in the bench lane, where
      // the noise policy and the recorded artifact are.
      assert(ratio < factor.toDouble * factor,
        s"$name shows a quadratic signature: $base s -> $big s (ratio $ratio at factor $factor)")
    }
  }

  test("gate bars: text lanes adjudicate against the measured volume ratio, row lanes against 2.5/factor") {
    val vol = 12.2
    // text lanes: pass bar = fail bar = vol ratio; re-measure at a quarter
    assert(ScaleDrill.gateBar("q116_bigram_rarity", vol) == vol)
    assert(ScaleDrill.failBar("q116_bigram_rarity", 10, vol) == vol)
    assert(ScaleDrill.remeasureBar("q116_bigram_rarity", vol) == vol / 4.0)
    assert(ScaleDrill.textLanes("curation_flow") && ScaleDrill.textLanes("q50_neardup_confirmed"))
    // row lanes: the historical bars, volume-independent
    assert(ScaleDrill.gateBar("q99_winsorized", vol) == ScaleDrill.remeasureRatio)
    assert(ScaleDrill.failBar("q99_winsorized", 10, vol) == 10.0)
    assert(ScaleDrill.remeasureBar("q99_winsorized", vol) == ScaleDrill.remeasureRatio)
    // a missing volume measurement (-1) must fall back to row-lane bars,
    // never gate against a negative
    assert(ScaleDrill.gateBar("q116_bigram_rarity", -1.0) == ScaleDrill.remeasureRatio)
    assert(ScaleDrill.failBar("q116_bigram_rarity", 10, -1.0) == 10.0)
  }

  test("planTimeProfile names operators with positive timing seconds") {
    val prof = ScaleDrill.planTimeProfile(spark,
      (sp, d) => SparkEntry.baseQueries("q08_agg_tpch_q1")(sp, d), sfDir)
    assert(prof.nonEmpty, "expected at least one timed operator")
    assert(prof.values.forall(_ > 0.0), s"non-positive timings: $prof")
    assert(prof.keys.exists(_.toLowerCase.contains("aggregate")),
      s"an aggregation query should time an aggregate operator: ${prof.keys}")
  }

  test("text probe: documents-only materialization, exact volume ratio, probe rows") {
    val probeDir = java.nio.file.Files.createTempDirectory("graftprobe").toString
    val (rows, volBase, volBig) = ScaleDrill.textProbe(spark, sfDir, probeDir, factor)
    assert(rows.map(_._1) == ScaleDrill.textProbeQueries)
    // the splice token ADDS words, so the scaled side carries MORE than
    // factor× bigrams — the confound the vol_ratio column exists to expose
    assert(volBase > 0 && volBig > volBase * factor,
      s"volume ratio must exceed the copy factor: $volBase -> $volBig at $factor")
    rows.foreach { case (name, base, big, pairs) =>
      assert(base > 0 && big > 0 && (pairs == 2 || pairs == 3))
      info(f"$name: base=$base%.2f s  x$factor=$big%.2f s  " +
        f"ratio=${big / math.max(base, 1e-9)}%.2f  vol=${volBig.toDouble / volBase}%.2f")
    }
  }

  test("marginal gate math: linear passes at any intercept, convex shapes fail") {
    val (v1, vLo, vHi) = (100L, 1000L, 3000L)
    def t(c: Double, cost: Long => Double) =
      (c + cost(v1), c + cost(vLo), c + cost(vHi))
    // linear cost, intercepts from 0 to 100× the 1× marginal: ratio ≈ 1
    for (c <- Seq(0.0, 1.0, 10.0)) {
      val (t1, tLo, tHi) = t(c, v => v * 0.01)
      assert(ScaleDrill.marginalOk(t1, tLo, tHi, v1, vLo, vHi),
        s"linear plan with intercept $c must pass")
      val r = ScaleDrill.marginalRatio(t1, tLo, tHi, v1, vLo, vHi)
      assert(math.abs(r - 1.0) < 1e-9, s"linear marginal ratio must be 1, got $r")
    }
    // n² fails REGARDLESS of intercept — the wall-ratio bar's blind spot
    // (an n² lane with c ≥ 20m shows wall ratio < 6 at 10× and passes);
    // the marginal ratio is (v_hi+v_lo)/(v_lo+v_1) ≈ 3.6, intercept-free
    for (c <- Seq(0.0, 10.0, 100.0)) {
      val (q1, qLo, qHi) = t(c, v => v.toDouble * v * 1e-5)
      val r = ScaleDrill.marginalRatio(q1, qLo, qHi, v1, vLo, vHi)
      assert(math.abs(r - (vHi + vLo).toDouble / (vLo + v1)) < 1e-9)
      assert(!ScaleDrill.marginalOk(q1, qLo, qHi, v1, vLo, vHi),
        s"n^2 with intercept $c must fail")
    }
    // n·log n at corpus n is LOCALLY near-linear (marginal ratio ≈
    // ln-growth over one 3× window ≈ 1.1–1.2) — deliberately inside the
    // bar: sort-shaped cost is not a polynomial scale-killer, and the bar
    // sits just above it so measurement noise (≲1.2) doesn't flap
    val (nl1, nlLo, nlHi) = t(5.0, v => v * math.log(v.toDouble) * 0.01)
    val nlr = ScaleDrill.marginalRatio(nl1, nlLo, nlHi, v1, vLo, vHi)
    assert(nlr > 1.0 && nlr <= ScaleDrill.marginalBar,
      s"n·log n at corpus n should sit between linear and the bar, got $nlr")
    // unresolvable low-window marginal (delta under the noise floor):
    // falls back to the wall backstop, both directions
    assert(ScaleDrill.marginalRatio(1.0, 1.05, 1.1, v1, vLo, vHi) == -1.0)
    assert(ScaleDrill.marginalOk(1.0, 1.05, 1.1, v1, vLo, vHi))
    assert(!ScaleDrill.marginalOk(0.1, 0.15, 31.0, v1, vLo, vHi),
      "wall backstop must catch t_hi > (v_hi/v_1) * t_1")
  }

  test("textMarginal: three linear points, exact volumes, resolvable marginals") {
    val dir = java.nio.file.Files.createTempDirectory("graftmarg").toString
    val (rows, v1, vLo, vHi) = ScaleDrill.textMarginal(spark, sfDir, dir, 3, 9)
    assert(rows.map(_._1) == ScaleDrill.textProbeQueries)
    // replacement mode: volumes are EXACT multiples of the base
    assert(v1 > 0 && vLo == v1 * 3 && vHi == v1 * 9,
      s"linear mode must scale volume exactly: $v1 / $vLo / $vHi")
    rows.foreach { case (name, t1, tLo, tHi, pairs) =>
      assert(t1 > 0 && tLo > 0 && tHi > 0 && (pairs == 2 || pairs == 3))
      info(f"$name: 1x=$t1%.2f s  3x=$tLo%.2f s  9x=$tHi%.2f s  " +
        f"marginal=${ScaleDrill.marginalRatio(t1, tLo, tHi, v1, vLo, vHi)}%.2f")
    }
  }
}
