package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorOps
import graft.operators.Similarity

/** ANN quality checks: the approximate paths (LSH, IVF) are graded on
  * RECALL against the exact brute-force top-k — the metric a training-data
  * pipeline actually cares about (SURVEY §2.3.11). */
class SimilaritySpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def corpus() =
    Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))

  /** Exact top-k per query by brute force (ground truth). */
  private def bruteTopK(k: Int, nQueries: Int): Map[Long, Set[Long]] = {
    val e = corpus()
    val q = e.filter(col("vec_id") < nQueries).toDF("qid", "qv")
    val sims = q.crossJoin(e.toDF("cid", "cv"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        VectorOps.cosine(col("qv"), col("cv")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    sims.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
  }

  test("l2Norm matches a driver-side computation exactly") {
    val rows = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        Similarity.l2Norm(col("embedding")).as("nrm"))
      .limit(50).collect()
    rows.foreach { r =>
      val vec = r.getSeq[Float](1)
      val expected = math.sqrt(
        vec.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
      assert(r.getDouble(2) == expected,
        s"vec ${r.getLong(0)}: got ${r.getDouble(2)}, expected $expected")
    }
  }

  test("native CosineSimilarity ≡ HOF composition, interpreted and codegen") {
    val e = corpus().limit(200)
    val pairs = e.toDF("ida", "a").crossJoin(e.toDF("idb", "b")).limit(500)
      .select(col("ida"), col("idb"),
        VectorOps.cosine(col("a"), col("b")).as("fast"),
        VectorOps.cosineHof(col("a"), col("b")).as("hof"))
    pairs.collect().foreach { r =>
      val (f, h) = (r.getDouble(2), r.getDouble(3))
      assert(f == h, s"native $f != hof $h for (${r.getLong(0)},${r.getLong(1)})")
    }
    // interpreted path (eval, no codegen context)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val at = ArrayType(DoubleType, containsNull = false)
    val la = Literal.create(ArrayData.toArrayData(Array(1.0, 2.0, 2.0)), at)
    val lb = Literal.create(ArrayData.toArrayData(Array(2.0, 1.0, 2.0)), at)
    val got = graft.functions.CosineSimilarity(la, lb).eval(null).asInstanceOf[Double]
    assert(math.abs(got - 8.0 / 9.0) < 1e-12) // (2+2+4)/(3*3)
  }

  test("native DotProduct ≡ HOF dot, bit for bit; dot of unit vectors ≈ cosine") {
    val e = corpus().limit(200)
    val pairs = e.toDF("ida", "a").crossJoin(e.toDF("idb", "b")).limit(500)
      .select(col("ida"), col("idb"),
        VectorOps.dotNative(col("a"), col("b")).as("fast"),
        VectorOps.dot(col("a"), col("b")).as("hof"),
        VectorOps.cosine(col("a"), col("b")).as("cos"),
        VectorOps.dotNative(
          VectorOps.unit(col("a"), VectorOps.norm(col("a"))),
          VectorOps.unit(col("b"), VectorOps.norm(col("b")))).as("unitdot"))
    pairs.collect().foreach { r =>
      val (f, h) = (r.getDouble(2), r.getDouble(3))
      assert(f == h, s"native $f != hof $h for (${r.getLong(0)},${r.getLong(1)})")
      // normalize-then-dot is cosine up to accumulation-order ulps — the
      // q152 contract only needs the two engines to agree on the SAME
      // spelling, but the semantic identity should hold to ~1e-12
      val (c, u) = (r.getDouble(4), r.getDouble(5))
      assert(math.abs(c - u) < 1e-12, s"cos $c vs unit-dot $u")
    }
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val at = ArrayType(DoubleType, containsNull = false)
    val la = Literal.create(ArrayData.toArrayData(Array(1.0, 2.0, 2.0)), at)
    val lb = Literal.create(ArrayData.toArrayData(Array(2.0, 1.0, 2.0)), at)
    val got = graft.functions.DotProduct(la, lb).eval(null).asInstanceOf[Double]
    assert(got == 8.0)
  }

  test("q153 exact rerank: recall ≥ raw ADC, shortlist-bounded, still pruning") {
    val r = Similarity.q153IvfPqRerank(spark, sfDir).collect()
    assert(r.length == 1)
    val row = r.head
    info(s"IVF-PQ+rerank recall@10 = ${row.getAs[Double]("recall")} " +
      s"(ADC-only ${row.getAs[Double]("adc_recall")}), " +
      s"reranked ${row.getAs[Long]("reranked_pairs")} pairs")
    // the refine theorem: a truth member in the shortlist outranks every
    // non-truth member on the exact rounded key, so rerank can only add
    assert(row.getAs[Boolean]("rerank_ge_adc"))
    assert(row.getAs[Long]("hits") >= row.getAs[Long]("adc_hits"))
    assert(row.getAs[Boolean]("floor_ok"))
    assert(row.getAs[Boolean]("prune_ok"))
    // the refine stage must touch only the shortlist: ≤ Q·R raw vectors
    assert(row.getAs[Long]("reranked_pairs") <= 20L * Similarity.RerankR)
    assert(row.getAs[Long]("reranked_pairs") > 0L)
  }

  test("q154 hybrid RRF equals a naive driver-side recompute of both channels") {
    val sp = spark
    val docs = Tables(sp, sfDir, "documents")
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val embs = corpus().collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    val ids = docs.keySet.intersect(embs.keySet).toSeq.sorted
    val toks: Map[Long, Set[String]] =
      ids.map(i => i -> docs(i).trim.split("\\s+").toSet).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val want = ids.filter(_ < 8).flatMap { qid =>
      val kw = ids.filter(_ != qid)
        .map(c => (c, toks(qid).intersect(toks(c)).size))
        .filter(_._2 > 0)
        .sortBy { case (c, ov) => (-ov, c) }
        .take(Similarity.HybridChan).zipWithIndex
        .map { case ((c, _), i) => c -> (i + 1L) }.toMap
      val vec = ids.filter(_ != qid)
        .map(c => (c, r4(cos(embs(qid), embs(c)))))
        .sortBy { case (c, s) => (-s, c) }
        .take(Similarity.HybridChan).zipWithIndex
        .map { case ((c, _), i) => c -> (i + 1L) }.toMap
      (kw.keySet ++ vec.keySet).toSeq
        .map { c =>
          val score = kw.get(c).map(r => 1.0 / (Similarity.RrfK + r)).getOrElse(0.0) +
            vec.get(c).map(r => 1.0 / (Similarity.RrfK + r)).getOrElse(0.0)
          (c, score)
        }
        .sortBy { case (c, s) => (-s, c) }.take(10).zipWithIndex
        .map { case ((c, s), i) =>
          (qid, c, i + 1L, r6(s), kw.get(c).getOrElse(-1L), vec.get(c).getOrElse(-1L))
        }
    }.toSet
    val got = Similarity.q154HybridRrf(sp, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got.size == want.size, s"${got.size} rows vs naive ${want.size}")
    assert(got == want, {
      val miss = want.diff(got).take(3); val extra = got.diff(want).take(3)
      s"missing $miss; extra $extra"
    })
  }

  /** Naive driver-side BM25 integer recompute — the bm25Ranks contract
    * (q89 IDF surrogate + milli-unit k1/b) spelled with plain Long math. */
  private def naiveBm25Ranks(texts: Map[Long, String], queryIds: Seq[Long])
      : Map[Long, Map[Long, Long]] = {
    val toks: Map[Long, Seq[String]] =
      texts.map { case (i, t) => i -> t.trim.split("\\s+").toSeq }
    val dl: Map[Long, Long] = toks.map { case (i, ws) => i -> ws.size.toLong }
    val nDocs = texts.size.toLong
    val avgdlM = dl.values.sum * 1000L / nDocs
    val df: Map[String, Long] = toks.values.flatMap(_.distinct).toSeq
      .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val k1m = Similarity.Bm25K1m.toLong; val bm = Similarity.Bm25Bm.toLong
    queryIds.map { qid =>
      val qTerms = toks(qid).distinct
      val scores = texts.keySet.filter(_ != qid).toSeq.flatMap { cid =>
        val s = qTerms.map { w =>
          val tf = toks(cid).count(_ == w).toLong
          if (tf == 0) 0L
          else {
            val idfS = nDocs * 1000L / df(w)
            val normM = (1000L - bm) + (bm * dl(cid) * 1000L) / avgdlM
            val denomM = tf * 1000L + (k1m * normM) / 1000L
            idfS * ((tf * (1000L + k1m) * 1000L) / denomM)
          }
        }.sum
        // keep every term-sharing pair, even an integer-floored 0 score —
        // bm25Ranks ranks all joined pairs (tie by cid)
        if (qTerms.exists(w => toks(cid).contains(w))) Some(cid -> s) else None
      }
      qid -> scores.sortBy { case (c, s) => (-s, c) }
        .take(Similarity.HybridChan).zipWithIndex
        .map { case ((c, _), i) => c -> (i + 1L) }.toMap
    }.toMap
  }

  test("q155 BM25 keyword channel equals a naive integer recompute") {
    val sp = spark
    val docs = Tables(sp, sfDir, "documents")
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val embIds = corpus().select("vec_id").collect().map(_.getLong(0)).toSet
    val texts = docs.filter { case (i, _) => embIds(i) }
    val corpDf = Tables(sp, sfDir, "documents")
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .join(Tables(sp, sfDir, "embeddings").select(col("vec_id")),
        col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("cid"), col("text"))
    val got = Similarity.bm25Ranks(corpDf, corpDf.filter(col("cid") < 8))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val want = naiveBm25Ranks(texts, texts.keySet.filter(_ < 8).toSeq.sorted)
      .flatMap { case (q, m) => m.map { case (c, rk) => (q, c) -> rk.toInt } }
    assert(got == want, {
      val miss = want.toSet.diff(got.toSet).take(3)
      val extra = got.toSet.diff(want.toSet).take(3)
      s"missing $miss; extra $extra"
    })
  }

  test("BM25 integer formula: tf-monotone and length-normalizing") {
    val sp = spark
    import sp.implicits._
    // doc 1: 3× the term; doc 2: 1× + padding (same length); doc 3: 1×,
    // shortest. BM25 must rank 1 (tf) above 2, and 3 (dl-normalization)
    // above 2 — both survive the integer floors.
    val corp = Seq(
      (0L, "apple zebra"),            // the query doc
      (1L, "apple apple apple pad"),
      (2L, "apple pad pad pad"),
      (3L, "apple")).toDF("cid", "text")
    val ranks = Similarity.bm25Ranks(corp, corp.filter(col("cid") === 0))
      .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(ranks(1L) < ranks(2L), s"tf monotonicity broken: $ranks")
    assert(ranks(3L) < ranks(2L), s"length normalization broken: $ranks")
  }

  test("q155 hybrid: swapping the exact channel for IVF-PQ+rerank holds a recall floor") {
    val sp = spark
    // naive exact-channel fusion (BM25 + exact cosine ranks) vs the LANE's
    // ANN-channel fusion, both graded against the exact vector truth@10 —
    // the RRF robustness claim (rank fusion tolerates an approximate
    // channel) stated as a measured floor, not prose
    val docs = Tables(sp, sfDir, "documents")
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val embs = corpus().collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    val ids = docs.keySet.intersect(embs.keySet).toSeq.sorted
    val texts = ids.map(i => i -> docs(i)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val qids = ids.filter(_ < 8)
    val kwRanks = naiveBm25Ranks(texts, qids)
    val vecRanks: Map[Long, Map[Long, Long]] = qids.map { qid =>
      qid -> ids.filter(_ != qid)
        .map(c => (c, r4(cos(embs(qid), embs(c)))))
        .sortBy { case (c, s) => (-s, c) }
        .take(Similarity.HybridChan).zipWithIndex
        .map { case ((c, _), i) => c -> (i + 1L) }.toMap
    }.toMap
    val truth: Map[Long, Set[Long]] = vecRanks.map { case (q, m) =>
      q -> m.filter(_._2 <= 10).keySet
    }
    def fuseTop10(kw: Map[Long, Long], vec: Map[Long, Long]): Set[Long] =
      (kw.keySet ++ vec.keySet).toSeq
        .map { c =>
          val s = kw.get(c).map(r => 1.0 / (Similarity.RrfK + r)).getOrElse(0.0) +
            vec.get(c).map(r => 1.0 / (Similarity.RrfK + r)).getOrElse(0.0)
          (c, s)
        }
        .sortBy { case (c, s) => (-s, c) }.take(10).map(_._1).toSet
    val exactFusedHits = qids.map { q =>
      fuseTop10(kwRanks(q), vecRanks(q)).count(truth(q))
    }.sum
    val laneRows = Similarity.q155HybridBm25Ann(sp, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val annFusedHits = laneRows.count { case (q, c) => truth(q)(c) }
    val denom = truth.values.map(_.size).sum
    val exactRecall = exactFusedHits.toDouble / denom
    val annRecall = annFusedHits.toDouble / denom
    info(f"fused recall@10 vs vector truth: exact-channel $exactRecall%.3f, " +
      f"ANN-channel $annRecall%.3f (denom $denom)")
    // floors measured at sf0.001: the ANN-channel fusion must stay within
    // half the exact-channel fusion's recall and above an absolute floor —
    // a collapse of either flips this before any user sees it
    assert(annRecall >= 0.2, f"ANN-fused recall collapsed: $annRecall%.3f")
    assert(annRecall >= exactRecall * 0.5,
      f"ANN channel cost too much fused recall: $annRecall%.3f vs $exactRecall%.3f")
  }

  test("ivfSearch returns valid per-query top-k with sane similarity bounds") {
    val e = corpus()
    val q = e.filter(col("vec_id") < 8).toDF("qid", "qv")
    val res = Similarity.ivfSearch(e, q, k = 5, stride = 100).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(r.getLong(0) != r.getLong(1)) // no self-match
      val sim = r.getDouble(2)
      assert(sim >= -1.0001 && sim <= 1.0001, s"cosine out of range: $sim")
    }
    val perQuery = res.groupBy(_.getLong(0))
    perQuery.values.foreach(rs => assert(rs.length <= 5))
  }

  test("ivfSearch probing ALL clusters recovers the exact top-k; recall grows with nprobe") {
    val e = corpus()
    val q = e.filter(col("vec_id") < 5).toDF("qid", "qv")
    val truth = bruteTopK(k = 5, nQueries = 5)
    def recall(nprobe: Int): Double = {
      val got = Similarity.ivfSearch(e, q, k = 5, stride = 100, nprobe = nprobe)
        .collect().groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
      truth.map { case (id, ids) => (got.getOrElse(id, Set.empty) & ids).size.toDouble / ids.size }
        .sum / truth.size
    }
    val rAll = recall(nprobe = 1000) // > numCentroids => exhaustive
    assert(rAll >= 0.8, s"exhaustive probe recall $rAll (ROUND(4) ties only)")
    assert(recall(4) >= recall(1), "recall not monotone in nprobe")
  }

  test("k-means refinement: centroids stay valid and recall@10 doesn't regress") {
    val e = corpus()
    val dim = e.select(size(col("v"))).first().getInt(0)
    // refined centroids: same dimensionality, ≤ seed count (empty seeds drop),
    // deterministic across invocations (fixed seeds + fixed iteration count)
    val seeds = Similarity.ivfCentroids(e, stride = 100, refineIters = 0)
    val refined = Similarity.ivfCentroids(e, stride = 100, refineIters = 2)
    val refinedRows = refined.collect()
    assert(refinedRows.nonEmpty && refinedRows.length <= seeds.count())
    refinedRows.foreach(r => assert(r.getSeq[Double](1).length == dim))

    val q = e.filter(col("vec_id") < 5).toDF("qid", "qv")
    val truth = bruteTopK(k = 10, nQueries = 5)
    def recall(iters: Int): Double = {
      val got = Similarity.ivfSearch(e, q, k = 10, stride = 100, nprobe = 2, refineIters = iters)
        .collect().groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
      truth.map { case (id, ids) => (got.getOrElse(id, Set.empty) & ids).size.toDouble / ids.size }
        .sum / truth.size
    }
    val (r0, r2) = (recall(0), recall(2))
    info(f"recall@10 stride-only=$r0%.3f refined(2)=$r2%.3f")
    // measured 0.700 -> 0.720 on the seeded sf0.001 embeddings. >= rather
    // than >: the centroid means merge partial double sums in shuffle-fetch
    // order, so a last-ULP wobble near a max_by tie could flip one
    // assignment — no-regression is the stable contract, the info line
    // documents the observed gain
    assert(r2 >= r0, s"refinement regressed recall: $r0 -> $r2")
  }

  test("q87 pins recall@10 floors for both ANN scale paths; IVF ≥ LSH") {
    val rows = Similarity.q87AnnRecall(spark, sfDir).collect()
    assert(rows.length == 2)
    val byMethod = rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
    val (ivf, lsh) = (byMethod("ivf_sqrtn_nprobe4_r1"), byMethod("lsh_5bit_x6"))
    info(f"recall@10 ivf=$ivf%.3f lsh=$lsh%.3f")
    // denominators: 20 queries x 10 = 200 truth pairs on the fixed corpus
    rows.foreach(r => assert(r.getLong(3) == 200L, s"truth set size ${r.getLong(3)}"))
    // floors pinned ~0.1 under the measured values on the seeded sf0.001
    // embeddings (ivf 0.505, lsh 0.375 — RecallProbe sweep, r5) — a
    // hash-family or probe regression trips them; ROUND(4)-tie wobble
    // cannot move recall by 0.1
    assert(ivf >= 0.40, s"IVF nprobe=4+refine recall collapsed: $ivf")
    assert(lsh >= 0.27, s"LSH 6x5-bit recall collapsed: $lsh")
    // r10: the same floors ride the OUTPUT as (floor_bp, floor_ok) so a
    // breach flips a driver-visible column — the emitted flag must agree
    // with the spec's own floor arithmetic
    rows.foreach { r =>
      assert(r.getLong(4) == (if (r.getString(0).startsWith("ivf")) 4000L else 2700L))
      assert(r.getBoolean(5), s"floor_ok false in emitted row: $r")
    }
    // the r4 directive's contract: at its production probe budget the IVF
    // path is at least as good as the LSH path (and costs less — one refine
    // pass + 4/√n of the corpus reranked vs 6 signature tables)
    assert(ivf >= lsh, s"IVF ($ivf) fell below LSH ($lsh)")
  }

  test("BestCentroid and LshBucket: interpreted eval matches hand computation") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    val vecT = ArrayType(DoubleType, containsNull = false)
    val v = Literal.create(ArrayData.toArrayData(Array(1.0, 0.0)), vecT)
    // centroids: id 1 → (0,1) [cos 0], id 2 → (2,0) [cos 1], id 3 → (1,1) [cos .707]
    val centT = ArrayType(StructType(Seq(
      StructField("cent_id", LongType), StructField("centv", vecT))))
    def cent(id: Long, a: Double, b: Double): InternalRow =
      InternalRow(id, ArrayData.toArrayData(Array(a, b)))
    val cents = Literal.create(
      ArrayData.toArrayData(Array(cent(1, 0, 1), cent(2, 2, 0), cent(3, 1, 1))), centT)
    assert(graft.functions.BestCentroid(v, cents).eval(null) == 2L)
    // all-NaN (zero vector) → no valid assignment → -1
    val zero = Literal.create(ArrayData.toArrayData(Array(0.0, 0.0)), vecT)
    assert(graft.functions.BestCentroid(zero, cents).eval(null) == -1L)
    // LshBucket: planes (1,0) → dot 1 > 0 sets bit 0; (-1,0) → bit 1 unset
    val planes = Literal.create(
      ArrayData.toArrayData(Array(
        ArrayData.toArrayData(Array(1.0, 0.0)),
        ArrayData.toArrayData(Array(-1.0, 0.0)))),
      ArrayType(vecT))
    assert(graft.functions.LshBucket(v, planes).eval(null) == 1L)
  }

  test("lshSignature kernel ≡ the per-row HOF spelling, bit for bit") {
    // the fused LshBucket kernel + precomputed hyperplane literal must
    // reproduce the original spelling exactly (same xxhash64-derived
    // hyperplanes, same index-order dot, same >0 bit rule) — recall floors
    // and bucket histograms depend on the family not drifting
    val e = corpus()
    for (table <- Seq(0, 3); nBits <- Seq(5, 8)) {
      val fused = Similarity.lshSignature(e, "v", nBits, table)
        .select("vec_id", "lsh_bucket").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hof = e.withColumn("lsh_bucket",
        (0 until nBits).map { b =>
          val dotB = aggregate(
            zip_with(col("v"),
              transform(sequence(lit(0), size(col("v")) - 1),
                i => (pmod(xxhash64(lit(table * nBits + b), i), lit(1000))
                  .cast("double") / 1000.0) - 0.5),
              (x, h) => x * h),
            lit(0.0), (acc, v) => acc + v)
          when(dotB > 0, shiftleft(lit(1L), b)).otherwise(0L)
        }.reduce(_ + _))
        .select("vec_id", "lsh_bucket").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fused == hof, s"signature family drifted at table=$table nBits=$nBits")
    }
  }

  test("IVF assignment covers the whole corpus exactly once") {
    val e = corpus()
    val assigned = Similarity.ivfAssign(e, stride = 100)
    assert(assigned.count() == e.count())      // every vector assigned
    assert(assigned.select("vec_id").distinct().count() == e.count()) // once
  }

  test("annSearch (LSH) candidates rerank to correct exact order") {
    val e = corpus()
    val q = e.filter(col("vec_id") < 8).toDF("qid", "qv")
    val res = Similarity.annSearch(e, q, k = 5, nBits = 4).collect()
    // within each query, rank must be consistent with descending similarity
    res.groupBy(_.getLong(0)).values.foreach { rs =>
      val byRank = rs.sortBy(_.getLong(3))
      val sims = byRank.map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        s"rerank order broken: ${sims.mkString(",")}")
    }
  }

  test("brute-force oracle: q36 matches independent cross-join ground truth") {
    val truth = bruteTopK(k = 5, nQueries = 5)
    val got = Similarity.q36CosineTopK(spark, sfDir)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    // same queries, and heavy overlap (ROUND(4) ties can swap borderline ids)
    assert(got.keySet == truth.keySet)
    got.foreach { case (q, ids) =>
      val overlap = (ids intersect truth(q)).size
      assert(overlap >= 4, s"query $q: only $overlap/5 overlap with ground truth")
    }
  }

  test("PQ codec: codes are total, in-range, and the codebook is one broadcastable row") {
    val e = corpus()
    val cb = Similarity.pqCodebook(e, m = 8, k = 16, dim = 64)
    val cbRow = cb.collect()
    assert(cbRow.length == 1, "codebook must be a single row")
    assert(cbRow(0).getSeq[Double](cbRow(0).fieldIndex("__nlut")).length == 8 * 16)
    val codes = Similarity.pqEncode(e, cb, m = 8, dim = 64).collect()
    assert(codes.length == e.count(), "every vector must encode")
    codes.foreach { r =>
      val cs = r.getSeq[Long](1)
      assert(cs.length == 8, s"want 8 subspace codes, got ${cs.length}")
      // codewords are the 16 lowest vec_ids, so codes ∈ [0, 16)
      assert(cs.forall(c => c >= 0 && c < 16), s"code out of range: $cs")
    }
  }

  test("q113 pins the PQ-ADC recall floor and the 64x compression accounting") {
    val r = Similarity.q113PqRecall(spark, sfDir).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getString(0) == "pq_m8_k16_adc")
    val recall = row.getDouble(1)
    info(f"PQ-ADC recall@10 = $recall%.3f")
    // 4-byte codes from a 16-word sampled codebook vs 256-byte raw vectors:
    // the floor is deliberately modest (no Lloyd refinement — the s113 SQL
    // twin replays the exact math, which refinement would break), but a
    // collapse to near-zero means the LUT indexing or argmax is wrong
    assert(recall >= 0.10, s"PQ-ADC recall collapsed: $recall")
    assert(row.getLong(4) == 4L && row.getLong(5) == 64L)
    // r10: floor surfaced as an output column (q87 discipline)
    assert(row.getLong(6) == 1000L && row.getBoolean(7), s"floor columns wrong: $row")
  }

  test("q114 pins the IVF-PQ recall floor and that the index actually prunes") {
    val r = Similarity.q114IvfPqRecall(spark, sfDir).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getString(0) == "ivfpq_m8_k16_nprobe4")
    val recall = row.getDouble(1)
    val scanned = row.getLong(4)
    val full = row.getLong(5)
    info(f"IVF-PQ recall@10 = $recall%.3f, scanned $scanned/$full pairs " +
      f"(${100.0 * scanned / full}%.1f%%)")
    // the composition pays BOTH approximation costs (cluster pruning ×
    // 4-byte quantization): the floor is the collapse guard, and the scan
    // accounting is the point of IVF — nprobe=4 of ~√n clusters must score
    // well under half the corpus (full-scan "pruning" would make the
    // recall number a lie)
    assert(recall >= 0.10, s"IVF-PQ recall collapsed: $recall")
    assert(scanned > 0 && scanned < full / 2,
      s"IVF-PQ scanned $scanned of $full pairs - the index is not pruning")
    // r10: floors + prune flag surfaced as output columns (q87 discipline)
    assert(row.getLong(6) == 1000L && row.getBoolean(7) && row.getBoolean(8),
      s"floor/prune columns wrong: $row")
  }
}
