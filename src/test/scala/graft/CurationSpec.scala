package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Curation

/** Integration test for the composed curation flow: the operators must
  * CHAIN — each stage's contract holding on the previous stage's output —
  * and the whole flow must be a pure function of (input set, seed). */
class CurationSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("curate: stages chain, funnel is monotone, output contracts hold") {
    val docs = Tables(spark, sfDir, "documents")
    val benchmark = docs.filter(col("doc_id") % 100 === 0).select("doc_id", "text")
    val (out, funnel) = Curation.curate(docs, benchmark, quotaPerSource = 10)
    val result = out.cache()
    try {
      // funnel: every stage prunes or keeps, never grows; nothing vacuous
      assert(funnel.map(_.stage) == Seq("non_empty", "quality_gate",
        "exact_dedup", "decontaminated", "quota_capped"))
      funnel.sliding(2).foreach { case Seq(a, b) =>
        assert(b.rows <= a.rows, s"${b.stage} grew: ${a.rows} -> ${b.rows}")
      }
      assert(funnel.head.rows > 0 && funnel.last.rows > 0, s"vacuous funnel: $funnel")

      val n = result.count()
      assert(n == funnel.last.rows)
      // no duplicate content survives
      val distinctFp = result.agg(countDistinct(md5(col("text")))).head.getLong(0)
      assert(distinctFp == n, s"$n rows but $distinctFp distinct contents")
      // benchmark members (>=5 words, so they share their own shingles)
      // must have been removed
      val leaked = result.join(
        benchmark.filter(size(split(trim(col("text")), "\\s+")) >= 5).select("doc_id"),
        Seq("doc_id"), "left_semi").count()
      assert(leaked == 0L, s"$leaked benchmark docs leaked into the output")
      // quota binds per source
      val over = result.groupBy("source").agg(count(lit(1)).as("c"))
        .filter(col("c") > 10).count()
      assert(over == 0L, "a source exceeded its quota")
      // pos is exactly the permutation 1..n
      val stats = result.agg(min("pos"), max("pos"), countDistinct("pos")).head()
      assert((stats.getLong(0), stats.getLong(1), stats.getLong(2)) == (1L, n, n),
        s"pos is not a permutation of 1..$n: $stats")
    } finally result.unpersist()

    // pure function of (input set, seed): a scrambled, repartitioned input
    // yields the identical (doc_id, pos) assignment
    val scrambled = docs.orderBy(rand(11)).repartition(7)
    val (out2, _) = Curation.curate(scrambled, benchmark, quotaPerSource = 10)
    val a = out.select("doc_id", "pos").orderBy("doc_id").collect().toSeq
    val b = out2.select("doc_id", "pos").orderBy("doc_id").collect().toSeq
    assert(a == b, "curation depends on input order/partitioning")
  }

  test("curate with the near-dup ladder: stages chain, victims are gone, contracts hold") {
    val docs = Tables(spark, sfDir, "documents")
    val benchmark = docs.filter(col("doc_id") % 100 === 0).select("doc_id", "text")
    val embs = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), graft.functions.VectorOps.asDouble(col("embedding")).as("v"))
    val (out, funnel) = Curation.curate(docs, benchmark, quotaPerSource = 10,
      nearDupEmbeddings = Some(embs))
    val result = out.cache()
    try {
      // the nine-stage funnel: the two near-dup stages slot between exact
      // dedup and decontamination, and the whole funnel stays monotone
      assert(funnel.map(_.stage) == Seq("non_empty", "quality_gate",
        "exact_dedup", "minhash_neardup", "semdedup", "decontaminated",
        "quota_capped"))
      funnel.sliding(2).foreach { case Seq(a, b) =>
        assert(b.rows <= a.rows, s"${b.stage} grew: ${a.rows} -> ${b.rows}")
      }
      assert(funnel.head.rows > 0 && funnel.last.rows > 0, s"vacuous funnel: $funnel")

      val n = result.count()
      assert(n == funnel.last.rows)
      // no SemDeDup victim survives: every kept doc's embedding verdict is
      // keep (docs without an embedding pass through by contract)
      val semVictims = graft.operators.Dedup.semDedupVerdicts(embs)
        .filter(col("is_dup")).select(col("vec_id").as("doc_id"))
      assert(result.join(semVictims, Seq("doc_id"), "left_semi").count() == 0L,
        "a semantic duplicate survived the semdedup stage")
      // no MinHash victim survives: recompute the q50 victim set over the
      // same quality-passers the stage declares as its domain
      val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
        .cast("double") / length(col("text"))
      val passers = docs.filter(col("text").isNotNull &&
        length(trim(col("text"))) > 0 && alpha >= 0.45)
      val ndVictims = graft.operators.Dedup.confirmedNearDups(
          passers.select(col("doc_id"), col("text")))
        .select(col("id2").as("doc_id")).distinct()
      assert(result.join(ndVictims, Seq("doc_id"), "left_semi").count() == 0L,
        "a confirmed MinHash near-dup victim survived")
      // pos is exactly the permutation 1..n (the q111 contract, composed)
      val stats = result.agg(min("pos"), max("pos"), countDistinct("pos")).head()
      assert((stats.getLong(0), stats.getLong(1), stats.getLong(2)) == (1L, n, n),
        s"pos is not a permutation of 1..$n: $stats")
    } finally {
      result.unpersist()
      GraftSession.releasePersisted(spark)
    }

    // pure function of (input set, seed): scrambled input, identical output
    val scrambled = docs.orderBy(rand(13)).repartition(5)
    val (out2, _) = Curation.curate(scrambled, benchmark, quotaPerSource = 10,
      nearDupEmbeddings = Some(embs))
    val (out3, _) = Curation.curate(docs, benchmark, quotaPerSource = 10,
      nearDupEmbeddings = Some(embs))
    val a = out3.select("doc_id", "pos").orderBy("doc_id").collect().toSeq
    val b = out2.select("doc_id", "pos").orderBy("doc_id").collect().toSeq
    assert(a == b, "near-dup curation depends on input order/partitioning")
    GraftSession.releasePersisted(spark)
  }

  test("curate: training positions are independent of quota selection (per-source uniformity)") {
    // quotaCap keeps the k SMALLEST md5(seed|id) per source. If the position
    // stage reused the same key, survivors from capped (large) sources would
    // concentrate in the low positions — the shuffle would be biased by
    // source size. With the distinct "|pos" seed, each source's mean
    // normalized position must sit near 1/2.
    val docs = Tables(spark, sfDir, "documents")
    val benchmark = docs.filter(col("doc_id") % 100 === 0).select("doc_id", "text")
    // small quota ⇒ every source is hard-capped ⇒ maximal selection pressure
    val (out, _) = Curation.curate(docs, benchmark, quotaPerSource = 10)
    val n = out.count().toDouble
    val bySource = out.groupBy("source")
      .agg(avg(col("pos").cast("double") / n).as("mean_frac"),
        count(lit(1)).as("c"))
      .collect()
    assert(bySource.length >= 3, "need several sources for the bias check")
    bySource.foreach { r =>
      val frac = r.getDouble(1)
      // mean of c iid U(0,1) has sd = 1/sqrt(12 c); allow 4 sigma
      val tol = 4.0 / math.sqrt(12.0 * r.getLong(2))
      assert(math.abs(frac - 0.5) < tol,
        s"source ${r.get(0)}: mean position fraction $frac is biased (tol $tol) — " +
          "position key is correlated with quota-survivor key")
    }
  }

  test("q162: content-hash split co-locates every exact-dup cluster; the " +
    "naive doc_id split demonstrably leaks on the same corpus") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Curation.q162LeakageFreeSplit(spark, sfDir).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("test", "train", "val"))
    val total = out.map(_.getLong(1)).sum
    assert(total > 0 && out.forall(_.getLong(1) > 0), "all three splits populated")
    out.foreach { r =>
      assert(r.getLong(4) == 0L, s"exact_leak_groups must be 0: $r")
      assert(r.getLong(5) >= 2L, "canary cluster missing — co-location vacuous")
    }
    // 8/1/1 target: train carries the bulk (binomial slack at 500 docs)
    val train = out.find(_.getString(0) == "train").get.getLong(1)
    assert(train > total * 6 / 10, s"train=$train of $total — hash bucketing broken")

    // negative control: assigning by doc_id hash (the naive spelling this
    // operator exists to replace) splits a 20-copy duplicate cluster across
    // splits (P(no leak) = 0.8^20 + 0.1^20·2 ≈ 1% — and the ids are fixed,
    // so the outcome is deterministic once recorded), while the content-hash
    // rule cannot by construction
    val sq = spark.sqlContext
    import sq.implicits._
    val cluster = (0L until 20L).map(i => (i * 37L + 3L, "twenty identical crawl copies"))
      .toDF("doc_id", "text")
    def buckets(key: org.apache.spark.sql.Column): Long = cluster
      .withColumn("h",
        conv(substring(md5(concat(lit("q162|"), key)), 1, 8), 16, 10)
          .cast("long") % 10)
      .select(countDistinct(when(col("h") < 8, "train")
        .when(col("h") === 8, "val").otherwise("test")))
      .first().getLong(0)
    assert(buckets(col("doc_id").cast("string")) >= 2L,
      "naive per-doc split did not leak — the negative control lost its teeth")
    assert(buckets(md5(col("text"))) == 1L,
      "content-hash split scattered a single-fingerprint cluster")
  }

  test("q164: cluster-level split co-locates near-dup clusters (leak pairs " +
    "0) where q162's per-doc rule measurably leaks on the SAME corpus") {
    val out =
      try graft.operators.Curation.q164NearDupAwareSplit(spark, sfDir).collect()
      finally graft.GraftSession.releasePersisted(spark)
    assert(out.map(_.getString(0)).toSeq == Seq("test", "train", "val"))
    assert(out.forall(_.getLong(1) > 0), "all three splits populated")
    out.foreach { r =>
      // the paired positive/negative result: the theorem made observable vs
      // the residual the naive per-doc-fingerprint rule leaves
      assert(r.getLong(3) == 0L, s"neardup_leak_pairs must be 0: $r")
      assert(r.getLong(4) > 0L,
        s"naive_leak_pairs must be > 0 on the canaried corpus (contrast lost): $r")
      assert(r.getLong(5) == 0L, s"exact_leak_groups must be 0: $r")
      assert(r.getLong(6) >= 10L,
        s"max_component below the canary cluster size — mining vacuous: $r")
    }
    // components never straddle: Σ per-split components = total components
    val totalComps = out.map(_.getLong(2)).sum
    assert(totalComps > 0)
  }

  test("curate with exactSubstrTrim: the ladder runs on the TRIMMED text " +
    "(boilerplate spans gone downstream) with trim funnel accounting") {
    val sq = spark.sqlContext
    import sq.implicits._
    val boiler = (0 until 12).map(i => s"legal$i").mkString(" ")
    // 40 docs, each: shared 12-token boilerplate prefix + 30 unique alpha
    // words; plus 10 clean docs. Every boilerplate copy must be trimmed.
    val docs = ((0L until 40L).map { i =>
      (i, "s" + (i % 2), s"$boiler " + (0 until 30).map(j => s"alpha${i}x$j").mkString(" "))
    } ++ (100L until 110L).map { i =>
      (i, "s0", (0 until 30).map(j => s"beta${i}x$j").mkString(" "))
    }).toDF("doc_id", "source", "text")
    val benchmark = docs.filter(col("doc_id") === 999L).select("doc_id", "text") // empty
    val (out, funnel) = graft.operators.Curation.curate(
      docs, benchmark, minAlphaRatio = 0.0, quotaPerSource = 1000,
      exactSubstrTrim = true)
    val rows = out.select("doc_id", "text").collect()
    graft.GraftSession.releasePersisted(spark)
    val f = funnel.map(sc => sc.stage -> sc.rows).toMap
    assert(f("span_trim_docs") == 40L, s"span_trim_docs: $funnel")
    assert(f("span_trim_tokens") == 40L * 12L, s"span_trim_tokens: $funnel")
    // downstream stages saw trimmed text: no surviving doc carries the
    // boilerplate, and all 50 docs survive (trim ≠ drop)
    assert(rows.length == 50, s"kept ${rows.length}")
    assert(rows.forall(r => !r.getString(1).contains("legal0")),
      "boilerplate survived the trim into the curated output")
    // and the funnel's regular stages still chain
    assert(f("non_empty") == 50L && f("quality_gate") == 50L)
  }

  test("q167: trim-first funnel KEEPS boilerplate-sharing docs that the " +
    "untrimmed funnel loses to decontamination (Lee et al.'s trim-don't-drop)") {
    import org.apache.spark.sql.functions._
    val header = "shared license header text appears before many documents in the crawl corpus"
    val footer = "subscribe to our newsletter for updates and special offers"
    val docs = Tables(spark, sfDir, "documents")
    val ne = col("text").isNotNull && length(trim(col("text"))) > 0
    val canaried = docs.select(col("doc_id"), col("source"),
      when(ne, concat(
        when(col("doc_id") % 3 === 0, header + " ").otherwise(""),
        col("text"),
        when(col("doc_id") % 5 === 0, " " + footer).otherwise("")))
        .otherwise(col("text")).as("text"))
    val benchmark = canaried.filter(col("doc_id") % 100 === 0).select("doc_id", "text")
    // benchmark docs (every 100th) all carry the footer and some the
    // header, so WITHOUT the trim their shingles decontaminate every
    // header/footer doc; WITH the trim the shared spans are cut from the
    // corpus first and those docs survive to the clean stage
    def cleanCount(trim: Boolean): Long = {
      val (_, funnel) = Curation.curate(canaried, benchmark,
        quotaPerSource = 15, exactSubstrTrim = trim)
      // drive the one materialization so observations fire
      val n = funnel.map(sc => sc.stage -> sc.rows).toMap
      graft.GraftSession.releasePersisted(spark)
      n("decontaminated")
    }
    val without = cleanCount(trim = false)
    val withTrim = cleanCount(trim = true)
    assert(withTrim > without,
      s"trim did not rescue boilerplate docs: clean with=$withTrim without=$without")
    // the untrimmed run must actually show the damage (canary non-vacuous)
    // every %3 doc shares header shingles and every %5 doc footer shingles
    // with the benchmark (whose members carry both) — roughly half the
    // corpus must fall without the trim
    assert(without < 300, s"untrimmed decon kept $without — canary lost its teeth")
    assert(withTrim > 400, s"trimmed decon kept only $withTrim of ~470")
  }

  test("q175: the curate→split COMPOSITION co-locates near-dup clusters " +
      "that survive the trim (leak pairs 0 post-curation; trim-proof " +
      "canary intact; naive residual measurable)") {
    val rows = graft.operators.Curation.q175CuratedSplit(spark, sfDir).collect()
    graft.GraftSession.releasePersisted(spark)
    assert(rows.length == 3, "expected exactly train/val/test rows")
    val bySplit = rows.map(r => r.getString(0) -> r).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    val r0 = rows.head
    // the theorem, post-curation: no confirmed near-dup pair straddles
    // splits under the cluster assignment
    assert(r0.getLong(3) == 0L, s"neardup_leak_pairs = ${r0.getLong(3)}")
    // the residual the composition closes IS measurable on the fixture —
    // the same confirmed pairs leak under the per-doc naive rule
    assert(r0.getLong(4) > 0L, "naive_leak_pairs vacuous — canary clusters " +
      "did not survive the trim into confirmed pairs")
    // trim-proof canary: confirmed pairs exist post-trim, so components
    // merged (the 20-member canary groups; LSH recall is partial by
    // design, so >= a few, not == 20)
    assert(r0.getLong(6) >= 3L, s"max_component = ${r0.getLong(6)}")
    // the trim stage did real work on the SAME corpus (header/footer docs)
    assert(r0.getLong(8) > 0L, "trim_tokens = 0 — boilerplate canary dead")
    // quota deliberately not binding: the split consumes the whole corpus
    assert(r0.getLong(12) == r0.getLong(13), "quota bound in the split lane")
    // funnel sanity: splits partition the capped survivors
    assert(rows.map(_.getLong(1)).sum == r0.getLong(13),
      "split sizes do not sum to the survivor count")
  }
}
