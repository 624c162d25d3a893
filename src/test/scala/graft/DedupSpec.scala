package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Semantic checks for the near-dup pipeline on constructed documents where
  * ground truth is known by construction (the test data's word salad has no
  * guaranteed near-dups, so conformance rows-only checks can't see recall). */
class DedupSpec extends AnyFunSuite with BeforeAndAfterAll {
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  // 80 distinct words: realistic shingle diversity (a repeated short phrase
  // has ~9 distinct shingles, which makes LSH collision marginal by design)
  private val base = (0 until 80).map(i => s"word$i").mkString(" ")

  private def docsDf(rows: Seq[(Long, String)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, t) => Row(i, t) }, 2),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  test("confirmedNearDups finds planted near-duplicates and skips unrelated docs") {
    val d = docsDf(Seq(
      1L -> base,
      2L -> (base + " tailword"),                      // near-dup of 1 (1-word edit)
      3L -> (80 until 160).map(i => s"other$i").mkString(" "), // unrelated
      4L -> base))                                     // exact dup of 1
    val pairs = Dedup.confirmedNearDups(d, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 1L)), s"missed near-dup: $pairs")
    assert(pairs.exists(p => Set(p._1, p._2) == Set(1L, 4L)), s"missed exact dup: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"false positive on 3: $pairs")
  }

  test("dropExactDuplicates keeps the LOWEST id per content") {
    val d = docsDf(Seq(5L -> base, 2L -> base, 3L -> "unique words entirely"))
    val kept = Dedup.dropExactDuplicates(d)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L)) // deterministic keeper, not partition-order
  }

  test("dropExactDuplicates: one row per content even when an id carries two contents") {
    // (1,"A"), (2,"B"), (2,"A"): keeper for A is id 1, keeper for B is id 2 —
    // the (fp, id) pair join must NOT resurrect (2,"A") just because id 2
    // keeps content B
    val d = docsDf(Seq(1L -> base, 2L -> "other content entirely", 2L -> base))
    val kept = Dedup.dropExactDuplicates(d)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept == Set((1L, base), (2L, "other content entirely")), s"got $kept")
  }

  test("minhashCandidatePairs caps mega-bucket pair blowup") {
    // 30 identical docs = one LSH bucket of 30 => 435 pairs uncapped
    val clones = (1L to 30L).map(_ -> base)
    val d = docsDf(clones :+ (100L -> (200 until 280).map(i => s"uniq$i").mkString(" ")))
    val uncapped = Dedup.minhashCandidatePairs(d, maxBucketSize = 1000).count()
    val capped = Dedup.minhashCandidatePairs(d, maxBucketSize = 10).count()
    assert(uncapped == 435L, s"expected full pair set, got $uncapped")
    assert(capped == 0L, s"mega-bucket not dropped, got $capped pairs")
  }

  test("contaminatedIds flags exactly the docs sharing a benchmark shingle") {
    val evalDoc = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = docsDf(Seq(
      1L -> base,                                     // clean
      2L -> (base + " alpha beta gamma delta epsilon"), // contains an eval 5-gram
      3L -> "beta gamma delta nothing shared here at all", // 4-gram only — clean
      4L -> evalDoc))                                 // verbatim eval doc
    val bench = docsDf(Seq(100L -> evalDoc))
    val ids = Dedup.contaminatedIds(corpus, bench)
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(2L, 4L), s"got $ids")
  }

  test("connectedComponents: chain, cycle, isolated node, and a 25-hop chain converge") {
    val longChain = (30L to 54L) // diameter 24 > plain-propagation budget:
    // proves the pointer-jumping O(log d) rounds, and the convergence
    // require() would throw if the fixpoint were not reached
    val ids = (1L to 9L) ++ longChain
    val nodes = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(Row(_)), 2),
      StructType(Seq(StructField("id", LongType))))
    // chain 5-4-3-2-1 (multi-round), cycle 6-7-8-6, node 9 isolated
    val edgeRows = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L),
      (6L, 7L), (7L, 8L), (8L, 6L)) ++ longChain.init.map(i => (i, i + 1))
    val edges = spark.createDataFrame(
      spark.sparkContext.parallelize(edgeRows.map { case (a, b) => Row(a, b) }, 2),
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
    val got = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 7L -> 6L, 8L -> 6L, 9L -> 9L) ++ longChain.map(_ -> 30L)
    assert(got == expected, s"got $got")
  }

  test("connectedComponents: a seeded lbl column is honored and verified to the fixpoint") {
    // chain 1-2-3-4-5 seeded with in-component upper bounds (q79's pattern:
    // seeds = a closed-form labeling the operator must PRESERVE, converging
    // in one verification round); node 5 gets a non-final seed (4) to prove
    // seeds are a starting point, not a blind passthrough
    val ids = 1L to 5L
    val nodes = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(i => Row(i, if (i == 5L) 4L else 1L)), 2),
      StructType(Seq(StructField("id", LongType), StructField("lbl", LongType))))
    val edges = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).map {
        case (a, b) => Row(a, b) }, 2),
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
    val got = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ids.map(_ -> 1L).toMap, s"got $got")
  }

  test("simhash of near-identical docs differs in few bits") {
    val d = docsDf(Seq(1L -> base, 2L -> (base + " tail"),
      3L -> (200 until 280).map(i => s"zzz$i").mkString(" ")))
    // r11 schema: (simhash_hi, simhash_lo) unsigned-range halves — see the
    // Dedup.simhash scaladoc; recombine for the hamming check
    val h = Dedup.simhash(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1) << 32) | r.getLong(2))).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(1L), h(2L)) <= 8, s"near-dups too far: ${hamming(h(1L), h(2L))}")
    assert(hamming(h(1L), h(3L)) > 8, s"unrelated too close: ${hamming(h(1L), h(3L))}")
  }

  test("cdcPassages: boundaries are position-independent, passages lossless") {
    // the shared sentence sits at DIFFERENT word offsets in the two docs;
    // content-defined boundaries must still carve identical passages out of
    // it ('quick'/'lazy'/'dog' are boundary words: md5 hex starts 0/1)
    val shared = "the quick brown fox jumps over the lazy dog"
    val d = docsDf(Seq(
      1L -> s"alpha beta $shared",
      2L -> s"$shared gamma delta epsilon"))
    val p = Dedup.cdcPassages(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byDoc = p.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    // lossless: passages re-concatenate to the original text, in pid order
    assert(byDoc(1L).mkString(" ") == s"alpha beta $shared")
    assert(byDoc(2L).mkString(" ") == s"$shared gamma delta epsilon")
    // position-independent: the mid-sentence passages match across docs
    val common = byDoc(1L).toSet intersect byDoc(2L).toSet
    assert(common.contains("quick brown fox jumps over the"), s"common=$common")
    assert(common.contains("lazy"), s"common=$common")
  }

  test("cdcPassages: lossless reconstruction on random word-salad corpora") {
    val rnd = new scala.util.Random(1234)
    val vocab = Vector.tabulate(50)(i => s"w$i")
    val rows = (0L until 40L).map { i =>
      i -> Seq.fill(1 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val byDoc = Dedup.cdcPassages(docsDf(rows)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    rows.foreach { case (id, text) =>
      assert(byDoc(id).mkString(" ") == text, s"doc $id lost content")
      assert(byDoc(id).forall(_.nonEmpty), s"doc $id has an empty passage")
    }
  }

  test("q152: SemDeDup verdicts equal a naive driver-side cluster+pair recompute") {
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    val e = graft.Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq.sortBy(_._1)
    // index-order accumulation — the CosineSimilarity kernel's contract
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4(x: Double): Double = // Spark round(col, 4): HALF_UP on the decimal repr
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val stride = math.max(2L, math.round(math.sqrt(e.size.toDouble)))
    val cents = e.filter(_._1 % stride == 0)
    val cluster: Map[Long, Long] = e.map { case (id, v) =>
      // strict > over ascending cent_id = the BestCentroid tie rule
      id -> cents.foldLeft((-1L, Double.NegativeInfinity)) { case ((bid, bs), (cid, cv)) =>
        val s = cos(v, cv); if (s > bs) (cid, s) else (bid, bs)
      }._1
    }.toMap
    // the pair stage runs over unit vectors: normalize once (0.0-seeded
    // index-order norm fold), then a pure index-order dot — the kernel's
    // flop-reduced spelling of cosine
    def unit(a: Array[Double]): Array[Double] = {
      var n2 = 0.0; var i = 0
      while (i < a.length) { n2 += a(i) * a(i); i += 1 }
      val nrm = math.sqrt(n2); a.map(_ / nrm)
    }
    def dotp(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }
      d
    }
    val dupOf: Map[Long, Long] = e.groupBy(m => cluster(m._1)).values.flatMap { ms =>
      val capped = ms.sortBy(_._1).take(Dedup.SemMemberCap).map { case (id, v) => (id, unit(v)) }
      for {
        (i2, v2) <- capped
        lows = capped.filter { case (i1, v1) => i1 < i2 && r4(dotp(v1, v2)) >= Dedup.SemDupTau }
        if lows.nonEmpty
      } yield i2 -> lows.map(_._1).min
    }.toMap
    val expect = e.map { case (id, _) =>
      (id, cluster(id), dupOf.getOrElse(id, -1L), dupOf.contains(id)) }
    val got = Dedup.q152SemDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(got == expect, s"q152 verdicts diverge from the naive recompute " +
      s"(first diff: ${got.zip(expect).find(p => p._1 != p._2)})")
    assert(expect.count(_._4) > 0, "fixture must exercise real dup verdicts")
    assert(expect.count(_._4) < e.size / 2, "most of the corpus must survive")
  }

  test("exactSubstrSpans: duplicated k-token runs localize to exact merged " +
    "spans at any offset; unique text and sub-k docs emit nothing (q161)") {
    val k = Dedup.ExactSubstrK
    // 12 shared words — 5 overlapping k=8 windows that must merge to ONE span
    val boiler = (0 until 12).map(i => s"dup$i").mkString(" ")
    val uniq = (0 until 30).map(i => s"only$i").mkString(" ")   // doc-1-only
    val uniq2 = (0 until 30).map(i => s"solo$i").mkString(" ")  // doc-2-only
    val d = docsDf(Seq(
      1L -> s"$boiler $uniq",                 // span at offset 0
      2L -> s"$uniq2 $boiler",                // the SAME span at offset 30
      3L -> s"$boiler mid0 mid1 mid2 mid3 mid4 mid5 mid6 mid7 mid8 $boiler",
      // ^ two disjoint copies in one doc: spans [0,12) and [21,33)
      4L -> (60 until 90).map(i => s"none$i").mkString(" "),    // all unique
      5L -> "dup0 dup1 dup2"))                // < k tokens: no windows at all
    val got = Dedup.exactSubstrSpans(d, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, 0L, 12L, 12L),
      (2L, 30L, 42L, 12L),
      (3L, 0L, 12L, 12L), (3L, 21L, 33L, 12L)),
      s"span inventory diverges from construction: $got")
  }

  test("exactSubstrSpans merges overlap chains across distinct window " +
    "hashes (a 19-word shared run is one span, not windows)") {
    val k = Dedup.ExactSubstrK
    val run = (0 until 19).map(i => s"chain$i").mkString(" ")
    val d = docsDf(Seq(
      1L -> (run + " " + (0 until 20).map(i => s"u$i").mkString(" ")),
      2L -> ((0 until 20).map(i => s"v$i").mkString(" ") + " " + run)))
    val got = Dedup.exactSubstrSpans(d, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 12 distinct window hashes per copy, every adjacent pair overlapping:
    // the island scan must fuse them into a single 19-token span per doc
    assert(got == Set((1L, 0L, 19L), (2L, 20L, 39L)), s"got $got")
  }

  test("trimSpans cuts exactly the span tokens and re-joins remainders " +
    "(q163: prefix, suffix, mid-doc, whole-doc, and untouched docs)") {
    val k = Dedup.ExactSubstrK
    val boiler = (0 until 12).map(i => s"dup$i").mkString(" ")
    val uniq = (0 until 30).map(i => s"only$i").mkString(" ")
    val uniq2 = (0 until 30).map(i => s"solo$i").mkString(" ")
    val mids = (0 until 9).map(i => s"mid$i").mkString(" ")
    val d = docsDf(Seq(
      1L -> s"$boiler $uniq",                     // prefix span
      2L -> s"$uniq2 $boiler",                    // suffix span
      3L -> s"$boiler $mids $boiler",             // two spans, remainder = mids
      4L -> boiler,                               // whole doc duplicated
      5L -> (60 until 90).map(i => s"none$i").mkString(" "))) // untouched
    val spans = Dedup.exactSubstrSpans(d, k)
    val got = Dedup.trimSpans(d, spans).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((uniq, 30L, 12L)))
    assert(got(2L) == ((uniq2, 30L, 12L)))
    assert(got(3L) == ((mids, 9L, 24L)))
    assert(got(4L) == (("", 0L, 12L)), "a fully-duplicated doc trims to empty")
    assert(got(5L)._1.startsWith("none60") && got(5L)._3 == 0L, "unique doc untouched")
  }

  test("q163: the trimmed corpus is a FIXPOINT — a second discovery pass " +
    "finds zero spans, and the canaried docs lost their injected spans") {
    val out = Dedup.q163TrimSpans(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    // the fixpoint audit columns are constant across rows — read one
    assert(out.head.getLong(3) == 0L, s"residual_spans nonzero: ${out.head}")
    assert(out.head.getLong(4) == 0L, s"residual_tokens nonzero: ${out.head}")
    val byId = out.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // %15 docs carry header AND footer: ≥ 12 + 9 tokens trimmed; %3-only
    // docs ≥ 12 (the injected header may merge with adjacent organic dups,
    // so ≥, not ==); the lane must also KEEP text (kept > 0 for docs whose
    // organic body is unique)
    val both = byId.collect { case (id, (_, tr)) if id % 15 == 0 => tr }
    assert(both.nonEmpty && both.forall(_ >= 21L),
      s"header+footer docs under-trimmed: ${both.take(5)}")
    val trimmedTotal = out.map(_.getLong(2)).sum
    val keptTotal = out.map(_.getLong(1)).sum
    assert(trimmedTotal > 0L && keptTotal > trimmedTotal,
      s"trim accounting implausible: kept=$keptTotal trimmed=$trimmedTotal")
  }
}
