package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Tokenizer
import graft.TempDirs.withTempDir

/** Ground-truth checks for BPE training (q168) against a NAIVE in-memory
  * reference implementation — an independent second spelling of Sennrich
  * et al. 2016 (word-frequency table, char+</w> symbols, most-frequent
  * adjacent pair with (count DESC, lhs, rhs) tie-break, greedy-left
  * non-overlapping fuse), so the distributed operator, the DuckDB oracle
  * replay and this driver-side loop are three mutually checking
  * implementations of one algorithm. */
class TokenizerSpec extends AnyFunSuite with BeforeAndAfterAll {
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docsDf(texts: Seq[String]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(texts.map(Row(_)), 2),
      StructType(Seq(StructField("text", StringType))))

  // ---------------------------------------------------------- naive BPE

  /** The reference trainer: plain Scala, no Spark. Returns the merge table
    * rows (rank, lhs, rhs, merged, pair_count, merges_applied,
    * symbols_after). */
  private def naiveBpe(texts: Seq[String], n: Int)
      : Seq[(Long, String, String, String, Long, Long, Long)] = {
    val words = texts.filter(_ != null)
      .flatMap(_.toLowerCase.trim.split("\\s+"))
      .filter(w => w.matches("[a-z]+") && w.length <= Tokenizer.MaxWordLen)
    // distinct words keyed by spelling; symbol sequences reconstruct the
    // word uniquely, so the map never collides under merging
    var vocab: Map[String, (Long, Vector[String])] =
      words.groupBy(identity).map { case (w, g) =>
        w -> (g.size.toLong, w.map(_.toString).toVector :+ Tokenizer.Eow)
      }
    def total = vocab.valuesIterator.map { case (f, ss) => f * ss.size }.sum
    var prevTotal = total
    val out = Vector.newBuilder[(Long, String, String, String, Long, Long, Long)]
    for (rank <- 1 to n) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.valuesIterator.foreach { case (f, ss) =>
        ss.iterator.zip(ss.iterator.drop(1)).foreach { p =>
          pc(p) = pc.getOrElse(p, 0L) + f
        }
      }
      assert(pc.nonEmpty, s"constructed corpus exhausted pairs at round $rank")
      val ((a, b), cnt) = pc.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
      vocab = vocab.map { case (w, (f, ss)) =>
        val fused = ss.tail.foldLeft(Vector(ss.head)) { (acc, x) =>
          if (acc.last == a && x == b) acc.init :+ (a + b) else acc :+ x
        }
        w -> (f, fused)
      }
      val after = total
      out += ((rank.toLong, a, b, a + b, cnt, prevTotal - after, after))
      prevTotal = after
    }
    out.result()
  }

  private def trainRows(texts: Seq[String]) =
    Tokenizer.bpeTrain(spark, docsDf(texts)).collect().toSeq.map { r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6))
    }

  // --------------------------------------------------------------- tests

  test("bpeTrain matches the naive reference on a mixed constructed corpus") {
    // rich enough to sustain NMerges rounds; repeated morphology so real
    // subword units (suffix fusions) must emerge
    val texts = Seq.tabulate(40) { i =>
      val stems = Seq("walk", "talk", "jump", "lift", "play", "rest")
      val sufs = Seq("", "ing", "ed", "er", "s")
      (0 until 12).map { j =>
        stems((i + j) % stems.size) + sufs((i * 7 + j) % sufs.size)
      }.mkString(" ")
    }
    val got = trainRows(texts)
    val exp = naiveBpe(texts, Tokenizer.NMerges)
    assert(got.size == Tokenizer.NMerges)
    assert(got == exp, s"\ngot: ${got.mkString("\n     ")}\nexp: ${exp.mkString("\n     ")}")
    // the compression curve is strictly decreasing (every round fuses
    // at least one occurrence) and merges_applied is positive
    got.foreach { case (_, _, _, _, pc, ma, _) =>
      assert(pc > 0 && ma > 0 && pc >= ma,
        "pair_count counts overlaps, merges_applied counts fusions")
    }
    assert(got.map(_._7) == got.map(_._7).sorted.reverse)
  }

  test("greedy-left fuse: overlapping pairs count twice but fuse once") {
    // 'ooo': pairs (o,o) twice per occurrence, but the left-to-right
    // non-overlapping apply fuses only the FIRST — [oo, o]
    val texts = Seq.fill(50)("ooo xz") ++ // freq-8 filler sustains rounds 6..12
      Seq.fill(8)("walk walked walking talks talked talking jumper jumped lifted lifting plays played rest")
    val got = trainRows(texts)
    val exp = naiveBpe(texts, Tokenizer.NMerges)
    assert(got == exp)
    val r1 = got.head
    assert((r1._2, r1._3) == ("o", "o"), s"round 1 should fuse (o,o): $r1")
    assert(r1._5 == 100L, s"pair_count counts overlapping occurrences: $r1")
    assert(r1._6 == 50L, s"merges_applied counts non-overlapping fusions: $r1")
  }

  test("tie-break: equal counts resolve by (lhs, rhs) lexicographically") {
    // 'zq' and 'ab' both appear exactly 30 times as adjacent pairs with
    // all-distinct letters; (a,b) < (z,q) must win round 1. Filler at
    // frequency 5 (every pair ≤ 25 < 30) keeps rounds 5..12 supplied
    // after the two 2-letter words fully fuse
    val texts = Seq.fill(30)("ab zq") ++
      Seq.fill(5)("walk walked walking talks talked talking jumper jumped lifted lifting plays played rest")
    val got = trainRows(texts)
    assert((got.head._2, got.head._3) == ("a", "b"), s"tie-break broke: ${got.head}")
    assert(got == naiveBpe(texts, Tokenizer.NMerges))
  }

  test("fully-fused single-symbol words survive later rounds (the " +
    "sequence(1,0) guard) and keep their mass in symbols_after") {
    // 'i' fuses to one symbol 'i</w>' in round 1 (70 > the filler's
    // hottest pair (a,l) at 60 across walk*/talk*), then
    // must neither crash pair enumeration nor vanish from the mass audit
    val texts = Seq.fill(70)("i") ++ Seq.fill(10)("walk walked walking talks talked talking jumper jumped lifted lifting plays played rest")
    val got = trainRows(texts)
    val exp = naiveBpe(texts, Tokenizer.NMerges)
    assert(got == exp)
    assert((got.head._2, got.head._3) == ("i", Tokenizer.Eow),
      s"round 1 should fuse the 70-count (i, </w>): ${got.head}")
  }

  // --------------------------------------------------------- apply (q170)

  /** Naive tokenize-under-naive-merges: per-doc (n_words, n_conforming,
    * bpe_tokens). */
  private def naiveTokenize(texts: Seq[(Long, String)], n: Int)
      : Map[Long, (Long, Long, Long)] = {
    val merges = naiveBpe(texts.map(_._2), n).map(m => (m._2, m._3))
    def segment(w: String): Long = {
      var syms = w.map(_.toString).toVector :+ Tokenizer.Eow
      merges.foreach { case (a, b) =>
        syms = syms.tail.foldLeft(Vector(syms.head)) { (acc, x) =>
          if (acc.last == a && x == b) acc.init :+ (a + b) else acc :+ x
        }
      }
      syms.size.toLong
    }
    texts.filter { case (_, t) => t != null && t.trim.nonEmpty }.map { case (id, t) =>
      val ws = t.toLowerCase.trim.split("\\s+").toSeq
      val conf = ws.filter(w => w.matches("[a-z]+") && w.length <= Tokenizer.MaxWordLen)
      id -> ((ws.size.toLong, conf.size.toLong, conf.map(segment).sum))
    }.toMap
  }

  test("bpeTokenize matches the naive apply: per-doc counts under the " +
    "learned merges; non-conforming words counted but not tokenized") {
    import org.apache.spark.sql.Row
    val texts: Seq[(Long, String)] = Seq.tabulate(30) { i =>
      val stems = Seq("walk", "talk", "jump", "lift", "play", "rest")
      val sufs = Seq("", "ing", "ed", "er", "s")
      val words = (0 until 10).map { j =>
        stems((i + j) % stems.size) + sufs((i * 3 + j) % sufs.size)
      } ++ (if (i % 4 == 0) Seq("1234", "mix-ed") else Nil) // non-conforming
      (i.toLong, words.mkString(" "))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.map { case (i, t) => Row(i, t) }, 2),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val got = Tokenizer.bpeTokenize(spark, df).collect().toSeq
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val exp = naiveTokenize(texts, Tokenizer.NMerges)
    assert(got == exp, s"\ngot: $got\nexp: $exp")
    // non-conforming docs: n_words > n_conforming exactly on i % 4 == 0
    texts.foreach { case (id, _) =>
      val (w, c, bt) = got(id)
      if (id % 4 == 0) assert(w == c + 2) else assert(w == c)
      assert(bt >= c, "every conforming word has at least one subword")
    }
  }

  test("tokenizer artifact (q172): merges + vocab round-trip parquet, and " +
    "tokenize-from-loaded-artifact ≡ tokenize-inline row-for-row") {
    import org.apache.spark.sql.Row
    val texts: Seq[(Long, String)] = Seq.tabulate(25) { i =>
      val stems = Seq("walk", "talk", "jump", "lift", "play", "rest")
      val sufs = Seq("", "ing", "ed", "er", "s")
      (i.toLong, (0 until 9).map { j =>
        stems((i + j) % stems.size) + sufs((i * 5 + j) % sufs.size)
      }.mkString(" "))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.map { case (i, t) => Row(i, t) }, 2),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    withTempDir("graft_tok_spec") { dir =>
      val path = dir.toString
      Tokenizer.writeTokenizer(spark, df.select("text"), path)
      val (merges, vocab) = Tokenizer.loadTokenizer(spark, path)
      // the persisted merge table IS the train output (strings/longs
      // round-trip parquet bit-exactly)
      val inlineMerges = Tokenizer.bpeTrain(spark, df.select("text"))
        .collect().map(_.toSeq).toSet
      assert(merges.collect().map(_.toSeq).toSet == inlineMerges)
      // vocab is total over the corpus pre-tokenizer's admissions
      assert(vocab.count() ==
        texts.flatMap(_._2.split(" ")).filter(w => w.matches("[a-z]+")).distinct.size)
      // artifact-served apply ≡ inline apply, row-for-row
      val inline = Tokenizer.bpeTokenize(spark, df).collect().map(_.toSeq).toSeq
      val served = Tokenizer.tokenizeWith(df, vocab).collect().map(_.toSeq).toSeq
      assert(served == inline,
        "artifact-served tokenization diverged from inline")
    }
  }

  // --------------------------------------------- merge replay (q173)

  /** Naive rank-ordered replay of naive merges — the reference for
    * [[Tokenizer.replayMerges]] on ANY word, seen or unseen. */
  private def naiveReplay(w: String, merges: Seq[(String, String)]): Long = {
    var syms = w.map(_.toString).toVector :+ Tokenizer.Eow
    merges.foreach { case (a, b) =>
      syms = syms.tail.foldLeft(Vector(syms.head)) { (acc, x) =>
        if (acc.last == a && x == b) acc.init :+ (a + b) else acc :+ x
      }
    }
    syms.size.toLong
  }

  test("replayMerges ≡ naive rank-ordered replay on constructed OOV words, " +
    "and ≡ the trained vocab's symbol counts on every in-vocab word") {
    import org.apache.spark.sql.Row
    val trainTexts = Seq.fill(10)(
      "walk walked walking talks talked talking jumper jumped lifted lifting plays played rest")
    val merges = naiveBpe(trainTexts, Tokenizer.NMerges).map(m => (m._2, m._3))
    // distributed merge table equals the naive one (bpeTrain gate), so the
    // replay comparison below exercises ONLY the apply side
    assert(trainRows(trainTexts).map(m => (m._2, m._3)) == merges)
    // OOV words: morphology the training corpus never saw, plus shapes that
    // stress the fold (the merged unit as a prefix/suffix/interior run)
    val oov = Seq("walkers", "stalking", "replayed", "zzz", "a",
      "walkwalk", "ing", "splaying", "talkingest")
    assert(oov.forall(w => !trainTexts.flatMap(_.split(" ")).contains(w)))
    val words = spark.createDataFrame(
      spark.sparkContext.parallelize(oov.map(Row(_)), 2),
      StructType(Seq(StructField("word", StringType))))
    val got = Tokenizer.replayMerges(words, merges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    oov.foreach { w =>
      assert(got(w) == naiveReplay(w, merges),
        s"replay diverged from the naive fold on OOV '$w'")
    }
    // vocab-hit agreement: replaying an in-vocab word reproduces the
    // trainer's final symbol count exactly (rank-order replay IS the
    // trainer's evolution) — the property that makes artifact-served
    // mixed seen/unseen corpora consistent
    val df = docsDf(trainTexts)
    val (merged, vocab) = Tokenizer.trainWithVocab(spark, df)
    val vocabCounts = vocab.collect()
      .map(r => r.getString(0) -> r.getSeq[String](2).size.toLong).toMap
    val replayAll = Tokenizer.replayMerges(
      vocab.select("word"), merges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(replayAll == vocabCounts,
      "merge replay diverged from the trained vocabulary on in-vocab words")
    merged.unpersist(); vocab.unpersist()
    GraftSession.releasePersisted(spark)
  }

  test("encodeUnseen: held-out docs get every conforming word tokenized " +
    "(n_conforming has no untokenized remainder) and OOV words are counted " +
    "AND segmented") {
    import org.apache.spark.sql.Row
    val trainTexts = Seq.fill(8)(
      "walk walked walking talks talked talking jumper jumped lifted lifting plays played rest")
    val heldOut: Seq[(Long, String)] = Seq(
      (1L, "walkers kept stalking 123 ahead"), // walkers/stalking/kept/ahead OOV; 123 non-conforming
      (3L, "walk walked replays"))             // 2 in-vocab + 1 OOV
    val trainDf = docsDf(trainTexts)
    val heldDf = spark.createDataFrame(
      spark.sparkContext.parallelize(heldOut.map { case (i, t) => Row(i, t) }, 2),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val (merged, vocab) = Tokenizer.trainWithVocab(spark, trainDf)
    val merges = naiveBpe(trainTexts, Tokenizer.NMerges).map(m => (m._2, m._3))
    val got = Tokenizer.encodeUnseen(heldDf, vocab, merges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val exp1 = Seq("walkers", "kept", "stalking", "ahead").map(naiveReplay(_, merges)).sum
    assert(got(1L) == ((5L, 4L, 4L, exp1)), s"doc 1: ${got(1L)}")
    val exp3 = Seq("walk", "walked", "replays").map(naiveReplay(_, merges)).sum
    assert(got(3L) == ((3L, 3L, 1L, exp3)), s"doc 3: ${got(3L)}")
    merged.unpersist(); vocab.unpersist()
    GraftSession.releasePersisted(spark)
  }

  test("pre-tokenizer: case folds, non-letter tokens and over-long words " +
    "are excluded, whitespace splits") {
    val long = "x" * (Tokenizer.MaxWordLen + 1)
    val filler = "walk walked walking talks talked talking jumper jumped lifted lifting plays played rest"
    val texts = Seq.fill(20)(s"ABBA abba 1234 ab-ba $long  \t abba $filler")
    // 'abba' enters case-folded (x3 per doc); '1234' and 'ab-ba' fail the
    // letter-run regex; the 25-char x-run fails the length cap — were it
    // admitted, its (x,x) pair alone (20 x 24 = 480) would win round 1
    val got = trainRows(texts)
    val exp = naiveBpe(texts, Tokenizer.NMerges)
    assert(got == exp)
    assert((got.head._2, got.head._3) != ("x", "x"),
      s"length cap failed — the 25-char x-run entered training: ${got.head}")
    got.foreach { case (_, a, b, m, _, _, _) =>
      assert(!s"$a$b$m".exists(c => c.isDigit || c == '-'),
        s"excluded token leaked into a merge: ($a, $b)")
    }
  }
}
