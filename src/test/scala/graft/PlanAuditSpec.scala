package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits (the build brief's ".explain and iterate" loop,
  * frozen as regression tests): correctness tests prove the small-SF answer;
  * these prove the SHAPE that survives a 100× scale-up — filters reach the
  * parquet scan, projections prune columns, small dims broadcast, and
  * shuffle counts don't silently grow. */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def planString(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  /** Count shuffles in the pre-AQE physical plan (AQE hides exchanges
    * behind runtime stages; the static plan is the honest shuffle count). */
  private def countShuffles(df: DataFrame): Int = {
    var n = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeExec => n += 1
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        case _ => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    n
  }

  test("q01: filter + projection are pushed into the parquet scan") {
    val plan = planString(graft.operators.Relational.q01ScanFilterSort(spark, sfDir))
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      s"columns not pruned:\n$plan")
  }

  test("q03: nation dim joins as broadcast, not shuffle") {
    val plan = planString(graft.operators.Relational.q03JoinMultiway(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("q08: aggregation is partial+final hash agg (map-side combine)") {
    val plan = planString(graft.operators.Relational.q08AggTpchQ1(spark, sfDir))
    assert(plan.contains("HashAggregate"), plan)
    // partial agg before the exchange: HashAggregate appears below AND above it
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
  }

  test("q16: top-k rewrites to TakeOrderedAndProject, not a global sort") {
    val plan = planString(graft.operators.Relational.q16TopK(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), s"top-k not rewritten:\n$plan")
  }

  test("exact-dedup fingerprint keys are 16-byte BINARY, not 32-char hex") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.BinaryType
    val docs = Tables(spark, sfDir, "documents")
    // the shuffle key the keeper-election groupBy carries at 100 TB: half
    // the bytes of md5's hex string form
    assert(docs.select(graft.operators.Dedup.contentFp(col("text")).as("fp"))
      .schema("fp").dataType == BinaryType, "contentFp must be binary")
    val plan = planString(graft.operators.Dedup.dropExactDuplicates(docs))
    assert(plan.contains("unhex"), s"dedup key not binary (no unhex in plan):\n$plan")
  }

  test("q05/q06: EXISTS / NOT EXISTS lower to semi/anti joins") {
    assert(planString(graft.operators.Relational.q05JoinSemi(spark, sfDir))
      .contains("LeftSemi"), "no semi join")
    assert(planString(graft.operators.Relational.q06JoinAnti(spark, sfDir))
      .contains("LeftAnti"), "no anti join")
  }

  test("q41 as-of join: exactly one shuffle (union+window), no join at all") {
    val df = graft.operators.Relational.q41AsofJoin(spark, sfDir)
    val plan = planString(df)
    assert(!plan.contains("Join"), s"as-of should be join-free:\n$plan")
    // one exchange for the window partitioning + one for the final orderBy
    assert(countShuffles(df) <= 2, s"shuffle count grew: ${countShuffles(df)}\n$plan")
  }

  test("q34 minhash: shingles never shuffle (partial agg before exchange)") {
    val df = graft.operators.Dedup.q34MinhashBands(spark, sfDir)
    val plan = planString(df)
    val firstExchange = plan.indexOf("Exchange")
    val firstAgg = plan.lastIndexOf("HashAggregate")
    // deepest HashAggregate (partial, over exploded shingles) sits below the
    // first Exchange in the tree printout
    assert(firstAgg > firstExchange, s"no map-side combine before shuffle:\n$plan")
  }

  test("q08: hot path runs inside WholeStageCodegen") {
    val df = graft.operators.Relational.q08AggTpchQ1(spark, sfDir)
    df.collect() // AQE finalizes (and codegen-annotates) the plan on execution
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan printout;
    // filter, partial agg and final agg must all carry one
    assert(plan.contains("*(1) HashAggregate") && plan.contains("*(1) Filter"),
      s"scan->agg stage fell out of codegen:\n$plan")
    assert("\\*\\(2\\) HashAggregate".r.findFirstIn(plan).isDefined,
      s"final agg fell out of codegen:\n$plan")
  }

  test("q54: agg + ORDER BY LIMIT plans as TakeOrderedAndProject, both filters pushed") {
    val plan = planString(graft.operators.Relational.q54TpchQ3(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), s"top-k not rewritten:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"),
      s"orders date filter not pushed:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      s"lineitem date filter not pushed:\n$plan")
  }

  test("q57: correlated scalar subquery decorrelates to an aggregate + outer join") {
    val df = graft.operators.Relational.q57CorrelatedSubquery(spark, sfDir)
    val plan = planString(df)
    assert(plan.contains("LeftOuter"), s"subquery not decorrelated to a join:\n$plan")
    assert(plan.contains("HashAggregate"), s"no pre-join aggregate:\n$plan")
  }

  test("q56: distribution funcs avoid the low-cardinality window scale-killer") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.operators.Relational.q56WindowDist(spark, sfDir)
    var wins = List.empty[WindowExec]
    def walk(p: SparkPlan): Unit = {
      p match {
        case w: WindowExec => wins ::= w
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        case _ => ()
      }
      p.children.foreach(walk); p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    assert(wins.nonEmpty, "expected ranking windows in q56 plan")
    // full-data windows must partition by (priority, bucket) — a window whose
    // partition key is the raw 5-value priority column serializes ~20% of the
    // table through one task. A single-column partition spec is only legal
    // over the pre-aggregated histogram (subtree contains the aggregate).
    wins.filter(_.partitionSpec.length < 2).foreach { w =>
      assert(w.toString.contains("HashAggregate"),
        s"single-key window over raw rows (parallelism = key cardinality):\n$w")
    }
    assert(wins.exists(_.partitionSpec.length >= 2),
      "no bucketed (priority, bucket) ranking window found")
  }

  test("q66 chunking: null-pruning filter pushed to scan, only id+text read") {
    // full-corpus since r16 (cap sweep): the only residual pushable
    // predicate is the IsNotNull(text) Catalyst infers from the
    // length(text) >= 1 guard — it must still reach the parquet scan
    val plan = planString(graft.operators.TextAnalysis.q66Chunk(spark, sfDir))
    assert("PushedFilters: \\[[^\\]]*IsNotNull\\(text\\)".r.findFirstIn(plan).isDefined,
      s"text null-filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"chunking reads extra columns:\n$plan")
  }

  test("q65 split: pure projection + one aggregation shuffle, no joins") {
    val df = graft.operators.TextAnalysis.q65TrainValSplit(spark, sfDir)
    val plan = planString(df)
    assert(!plan.contains("Join"), s"split should be join-free:\n$plan")
    // one exchange for the groupBy, one for the final orderBy
    assert(countShuffles(df) <= 2, s"shuffle count grew: ${countShuffles(df)}\n$plan")
  }

  test("q74 top bigrams: partial agg before the shuffle, top-k not a global sort") {
    val df = graft.operators.TextAnalysis.q74TopBigrams(spark, sfDir)
    val plan = planString(df)
    assert(plan.contains("TakeOrderedAndProject"), s"top-k not rewritten:\n$plan")
    // exploded bigrams must combine map-side: deepest HashAggregate (partial,
    // over the explode) sits below the first Exchange in the tree printout
    assert(plan.contains("Exchange"), s"expected an aggregation exchange:\n$plan")
    assert(plan.lastIndexOf("HashAggregate") > plan.indexOf("Exchange"),
      s"bigrams shuffle unaggregated:\n$plan")
  }

  test("q76 decontamination: benchmark shingles broadcast into a semi-join") {
    val plan = planString(graft.operators.Dedup.q76Decontaminate(spark, sfDir))
    assert(plan.contains("LeftSemi"), s"no semi join:\n$plan")
    assert(plan.contains("Broadcast"),
      s"benchmark side should broadcast (corpus must never shuffle):\n$plan")
  }

  test("q77 embedding norms: HOF fold keeps the plan explode- and join-free") {
    val df = graft.operators.Similarity.q77EmbeddingNorms(spark, sfDir)
    val plan = planString(df)
    assert(!plan.contains("Generate"), s"norms should not explode the vectors:\n$plan")
    assert(!plan.contains("Join"), s"norms should be join-free:\n$plan")
    // one exchange for the groupBy, one for the final orderBy
    assert(countShuffles(df) <= 2, s"shuffle count grew: ${countShuffles(df)}\n$plan")
  }

  test("q80 packing: window partitions by (source, shard), never source alone") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.operators.TextAnalysis.q80PackBins(spark, sfDir)
    var wins = List.empty[WindowExec]
    def walk(p: SparkPlan): Unit = {
      p match {
        case w: WindowExec => wins ::= w
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        case _ => ()
      }
      p.children.foreach(walk); p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    assert(wins.nonEmpty, "expected a cumsum window in q80 plan")
    wins.foreach(w => assert(w.partitionSpec.length >= 2,
      s"packing window parallelism = source cardinality:\n$w"))
  }

  test("q81 shuffle order: data-sized window partitions by bucket, not a global sort") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.operators.TextAnalysis.q81ShuffleOrder(spark, sfDir)
    var wins = List.empty[WindowExec]
    def walk(p: SparkPlan): Unit = {
      p match {
        case w: WindowExec => wins ::= w
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        case _ => ()
      }
      p.children.foreach(walk); p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    assert(wins.nonEmpty, "expected windows in q81 plan")
    // no window may be UNpartitioned (that is WindowExec's scale-warning
    // trigger); the offset prefix-sum declares its single partition with a
    // literal key — the named tiny-table exemption: an all-foldable
    // partition spec is legal ONLY over the fixed-size bucket-count
    // aggregate (its subtree contains the groupBy). The per-row ranking
    // window must partition by a real (non-foldable) bucket column.
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window (WindowExec would warn):\n$w"))
    wins.filter(_.partitionSpec.forall(_.foldable)).foreach { w =>
      assert(w.toString.contains("HashAggregate"),
        s"single-partition window over raw rows (single-task sort):\n$w")
    }
    assert(wins.exists(_.partitionSpec.exists(!_.foldable)),
      "no bucketed ranking window found")
  }

  test("saltedJoin: hot key's rows land in multiple shuffle partitions") {
    import org.apache.spark.sql.functions.{col, spark_partition_id, when}
    // AQE would coalesce these tiny post-shuffle partitions back together and
    // a broadcast would skip the shuffle entirely — both would blind the
    // histogram this test exists to measure, so force a plain shuffled join
    val conf = spark.conf
    val (aqe, bcast) = (conf.get("spark.sql.adaptive.enabled"),
      conf.get("spark.sql.autoBroadcastJoinThreshold"))
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // 10k rows of hot key 0 + a tail of singleton keys
      val big = spark.range(0, 12000)
        .select(when(col("id") < 10000, 0L).otherwise(col("id")).as("k"),
          col("id").as("payload"))
      val small = spark.range(0, 12000).select(col("id").as("k"), (col("id") * 2).as("v"))
      val plain = big.join(small, Seq("k"))
      val salted = graft.operators.Scale.saltedJoin(big, small, "k", salt = 8)
      // row-identity: salting must not change the join result size
      assert(salted.count() == plain.count())
      def hotParts(df: org.apache.spark.sql.DataFrame): Long =
        df.filter(col("k") === 0).select(spark_partition_id()).distinct().count()
      // the unsalted shuffle serializes the hot key through ONE partition;
      // the salted join must spread it across >1 (8 salts over 4 partitions)
      assert(hotParts(plain) == 1L, "premise broken: plain join no longer skewed")
      assert(hotParts(salted) >= 2L,
        s"salting left the hot key in ${hotParts(salted)} partition(s)")
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("q36 cosine top-k: embeddings scan prunes to id+vector columns") {
    val plan = planString(graft.operators.Similarity.q36CosineTopK(spark, sfDir))
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"embedding scan reads extra columns:\n$plan")
  }

  test("q88 range join: bins turn the interval predicate into a hash join") {
    val plan = planString(graft.operators.RangeJoin.q88RangeJoinBinned(spark, sfDir))
    // the whole point of the decomposition: a naive ts>=start AND ts<end
    // join has no equi keys and would force a nested-loop join over the
    // fact table. (The 1-row global-stats crossJoin upstream is a BNLJ by
    // design — only the join carrying the range predicate is audited.)
    val lines = plan.linesIterator.toSeq
    assert(!lines.exists(l => l.contains("NestedLoopJoin") && l.contains("start_ns")),
      s"range predicate fell back to a nested-loop join:\n$plan")
    assert(lines.exists(l => l.contains("BroadcastHashJoin") && l.contains("__bin")
        && l.contains("start_ns")),
      s"expected a bin-keyed hash join with the range residual:\n$plan")
    // the island window runs over the bounded hour table with the q81
    // constant-partition idiom (explicit non-foldable partitionSpec), so
    // WindowExec never takes its "No Partition Defined" warning path
    assert(plan.contains("Window") && plan.contains("substring"),
      s"island window lost its constant partitionSpec:\n$plan")
  }

  test("q89 tf-idf: per-lang top-k gets a map-side partial WindowGroupLimit") {
    val plan = planString(graft.operators.TextAnalysis.q89TfIdfTopTerms(spark, sfDir))
    // the per-lang window looks like the q56 low-cardinality trap, but for
    // row_number()<=k Catalyst plans WindowGroupLimit Partial BELOW the
    // exchange: each map partition pre-prunes to its local top-k per lang,
    // so the 5-partition final window sees a bounded input. If this node
    // disappears (filter shape change, rank fn swap), the query silently
    // becomes a 5-way-parallel full-vocabulary sort — fail loudly instead.
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"map-side partial top-k pruning missing:\n$plan")
  }

  test("q90 quota cap: map-side group-limit, and selection is input-order independent") {
    import org.apache.spark.sql.functions.{col, rand}
    val plan = planString(graft.operators.TextAnalysis.q90QuotaCap(spark, sfDir))
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"quota cap lost its map-side pre-pruning:\n$plan")
    // hash-order selection must be a pure function of (seed, id): the kept
    // set may not change when the input arrives shuffled and repartitioned
    val docs = Tables(spark, sfDir, "documents")
    val scrambled = docs.orderBy(rand(7)).repartition(7)
    val a = graft.operators.TextAnalysis
      .quotaCap(docs, "source", "doc_id", "q90", 15)
      .select("doc_id").orderBy("doc_id").collect().toSeq
    val b = graft.operators.TextAnalysis
      .quotaCap(scrambled, "source", "doc_id", "q90", 15)
      .select("doc_id").orderBy("doc_id").collect().toSeq
    assert(a == b, "kept set depends on input order/partitioning")
    assert(a.size == 15 * 20, s"cap k=15 over 20 sources: ${a.size}")
  }

  test("q93 inverted index: posting cap pre-prunes map-side; stopword lists stay bounded") {
    val plan = planString(graft.operators.TextAnalysis.q93InvertedIndex(spark, sfDir))
    // the rnk<=5 filter must plan WindowGroupLimit(Partial) below the term
    // exchange — without it a corpus-wide stopword ships its ENTIRE posting
    // list (every doc_id) through one window partition before the cap.
    // Match the Partial mode ON the WindowGroupLimit node itself, not any
    // partial HashAggregate elsewhere in the tree.
    assert("(?i)windowgrouplimit[^\\n]*partial".r.findFirstIn(plan).isDefined,
      s"posting-list cap lost its map-side pre-pruning:\n$plan")
    // and no collect_list ever sees an uncapped group: the aggregate must
    // be an ANCESTOR of the group-limit window (cap below = cap before
    // collection; tree printing puts the parent first). Both tokens must
    // actually be present — indexOf(-1) on a missing collect_list would
    // pass the ordering check vacuously.
    val planLower = plan.toLowerCase
    val iCollect = planLower.indexOf("collect_list")
    val iCap = planLower.indexOf("windowgrouplimit")
    assert(iCollect >= 0, s"collect_list missing from plan:\n$plan")
    assert(iCap >= 0, s"WindowGroupLimit missing from plan:\n$plan")
    assert(iCollect < iCap, s"collect_list runs before the cap:\n$plan")
  }

  test("q91 bloom semi-join: might_contain filter sits at the probe scan") {
    val plan = planString(graft.operators.Scale.q91BloomSemiJoin(spark, sfDir))
    // the bloom predicate must be a scan-stage filter (before the join
    // exchange), not a post-join residual — that IS the operator's value
    assert(plan.contains("might_contain"),
      s"bloom predicate missing from the physical plan:\n$plan")
    assert(plan.contains("LeftSemi"), s"no semi-join in plan:\n$plan")
  }

  test("IVF assignment: one narrow kernel pass, no N×C join rows, no corpus shuffle") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorOps
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
    val assigned = graft.operators.Similarity.ivfAssign(e, stride = 100)
    val plan = planString(assigned)
    // the fused argmax kernel must be IN the projection (not a join+agg)
    assert(plan.contains("bestcentroid") || plan.toLowerCase.contains("bestcentroid"),
      s"BestCentroid kernel missing — assignment regressed to join+agg:\n$plan")
    // the only exchanges allowed are the tiny centroid-side fold to one row
    // (partial/final agg pair) — the CORPUS must never shuffle for
    // assignment; a corpus exchange here is the N·√N-row scale bug
    assert(!plan.contains("HashAggregate") ||
      !"(?s)Exchange hashpartitioning\\(vec_id".r.findFirstIn(plan).isDefined,
      s"corpus shuffles for IVF assignment:\n$plan")
  }

  // --- TPC-H decorrelation stress shapes (r4 directive #5): the physical
  // plan must contain NO residual subquery execution — a correlated subquery
  // left per-row is O(n²) and can never run at 100 TB. "subquery" appearing
  // anywhere in the executed-plan text (ScalarSubquery / InSubqueryExec /
  // SubqueryExec reuse nodes) is the failure signature.

  test("q102 TPC-H Q17: correlated scalar aggs decorrelate to grouped agg + outer join") {
    val plan = planString(graft.operators.Relational.q102TpchQ17(spark, sfDir))
    assert(!plan.toLowerCase.contains("subquery"),
      s"residual per-row subquery in plan:\n$plan")
    // the decorrelated agg joins back LeftOuter on l_partkey, and the
    // 5·qty·cnt < sum predicate folds into a join condition
    assert(plan.contains("LeftOuter"), s"decorrelated agg join missing:\n$plan")
    assert(plan.contains("HashAggregate"), s"grouped per-partkey agg missing:\n$plan")
  }

  test("q103 TPC-H Q20: nested IN over correlated agg plans as semi joins") {
    val plan = planString(graft.operators.Relational.q103TpchQ20(spark, sfDir))
    assert(!plan.toLowerCase.contains("subquery"),
      s"residual per-row subquery in plan:\n$plan")
    assert(plan.contains("LeftSemi"), s"IN levels must plan as semi joins:\n$plan")
  }

  test("q104 TPC-H Q21: EXISTS/NOT EXISTS plan as semi/anti joins with the <> folded in") {
    val plan = planString(graft.operators.Relational.q104TpchQ21(spark, sfDir))
    assert(!plan.toLowerCase.contains("subquery"),
      s"residual per-row subquery in plan:\n$plan")
    assert(plan.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"NOT EXISTS must plan as an anti join:\n$plan")
    // the correlated non-equality predicate must ride the join itself
    // (as a NOT(=) join condition), not a post-join filter
    assert("(?i)(leftsemi|leftanti)[^\\n]*NOT \\(l_suppkey".r.findFirstIn(plan).isDefined
      || plan.contains("NOT (l_suppkey"),
      s"<> predicate not folded into the semi/anti join:\n$plan")
  }

  test("q119 LATERAL + LIMIT: decorrelates to one window rank, no nested loop") {
    val plan = planString(graft.operators.Relational.q119LateralTopk(spark, sfDir))
    // per-row re-execution of the inner sort+limit would surface as a
    // BroadcastNestedLoopJoin (or a residual subquery) — either is O(n·m)
    // and the query could never leave a laptop
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"lateral ran as a nested loop:\n$plan")
    assert(!plan.toLowerCase.contains("scalarsubquery"),
      s"residual per-row subquery in plan:\n$plan")
    assert(plan.contains("Window"),
      s"expected the decorrelated window rank:\n$plan")
  }

  test("q124 TPC-H Q18: HAVING-IN plans as a semi join; top-k never global-sorts") {
    val plan = planString(graft.operators.Relational.q124TpchQ18(spark, sfDir))
    assert(!plan.toLowerCase.contains("subquery"),
      s"residual per-row subquery in plan:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"IN over the HAVING aggregate must plan as a semi join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"ORDER BY+LIMIT must plan as top-k, not a global sort:\n$plan")
    // r11: the SHUFFLE_HASH subquery hint must hold at EVERY size estimate —
    // an SMJ semi here sorts the full orders/lineitem probe sides the
    // moment the pre-HAVING size estimate outgrows the broadcast threshold
    // (the r10 3.63 drill-ratio mechanism; q124 scaladoc regime note)
    assert(!plan.contains("SortMergeJoin LeftSemi"),
      s"the HAVING semi join must never sort its probe side:\n$plan")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin"),
      s"expected a hash semi join:\n$plan")
  }

  test("q126 multi-DISTINCT: one Expand, hash aggregation throughout") {
    val plan = planString(graft.operators.Relational.q126MultiDistinct(spark, sfDir))
    // the one-pass multi-distinct rewrite: exactly one Expand replica step;
    // all aggregate levels stay hash (narrow integer keys — a SortAggregate
    // here would mean the distinct exprs stopped being hashable)
    assert("Expand \\[".r.findAllIn(plan).size == 1,
      s"expected exactly one Expand:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"multi-distinct fell out of hash aggregation:\n$plan")
  }

  test("q128 latest-per-key: partial+final agg, one shuffle, zero windows") {
    val df = graft.operators.Relational.q128LatestPerKey(spark, sfDir)
    val plan = planString(df)
    // the scale contract vs the oracle's ROW_NUMBER()=1 spelling: struct
    // max plans as partial+final SortAggregate (no mutable hash buffer),
    // the map-side sort is LOCAL, and only |keys| structs cross the wire
    assert(!plan.contains("Window"),
      s"latest-per-key must not run as a window rank:\n$plan")
    assert("SortAggregate\\(".r.findAllIn(plan).size == 2,
      s"expected partial+final SortAggregate pair:\n$plan")
    assert(countShuffles(df) <= 2, // agg exchange + output range sort
      s"latest-per-key shuffles more than agg+sort:\n$plan")
  }

  test("q118 MAD: the fact table is never shuffled or row-sorted") {
    val df = graft.operators.Relational.q118MadOutliers(spark, sfDir)
    // every shuffle in the plan must carry count/mark rows, never the fact
    // table: a fact-sized exchange means the histogram refinement regressed
    // to the full-rank spelling
    val n = countShuffles(df)
    // per median: l1 partial-agg exchange + 2 window exchanges over count
    // rows + l2 agg exchange (≈4, ×2 medians) + the final flag agg + sort;
    // the pin is the CLASS of shuffle, so count them and assert none is a
    // row_number sort over raw rows
    val plan = planString(df)
    assert(!plan.contains("row_number"),
      s"histogram median must not rank raw rows:\n$plan")
    assert(n <= 12, s"q118 shuffle count grew to $n:\n$plan")
    GraftSession.releasePersisted(spark)
  }

  test("q118 MAD: ONE live fact scan — both medians + outlier count off the collapsed frame (executed plan)") {
    // r12 verdict #4: the level-2 histogram used to re-scan lineitem for
    // its exact-value aggregate; since r13 the (flag, cents) → cnt collapse
    // is the ONLY consumer of the fact table. r14 (r13 verdict #2): the
    // median cascades run at CONSTRUCTION (collected to ≤|flags|-row
    // literal CASEs), so the parquet read happens exactly once when the
    // collapse's cache fills during the first cascade; the returned plan
    // must carry ZERO live FileScans and read the in-memory collapse for
    // the final deviation/outlier pass
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val qe = graft.operators.Relational.q118MadOutliers(spark, sfDir).queryExecution
    qe.toRdd.foreach(_ => ())
    val nodes = ScanAudit.walk(qe.executedPlan)
    val scans = nodes.count(_.isInstanceOf[FileSourceScanExec])
    val cached = nodes.count(_.isInstanceOf[InMemoryTableScanExec])
    assert(scans == 0, s"q118: a consumer re-read parquet past the collapse ($scans live scans)")
    assert(cached >= 1, s"q118: expected the final pass to read the persisted collapse, got $cached")
    GraftSession.releasePersisted(spark)
  }

  test("r20 artifact lanes fit their checked-in scan budgets (measured, " +
      "not asserted by hand): q173 replay, q174 model round trip, q175 " +
      "curate→split composition, q176 quantizer refresh") {
    val budgets = ScanAudit.loadBudgets("scan_budgets.json")
      .getOrElse(fail("scan_budgets.json missing from the repo root"))
    for (lane <- Seq("q173_bpe_encode_unseen", "q174_nb_model_artifact",
        "q175_curated_split", "q176_ann_index_retrain")) {
      val rows = ScanAudit.collect(spark, sfDir, only = Some(lane))
      assert(rows.nonEmpty, s"$lane crashed under the audit")
      val (_, byTable, _) = rows.head
      byTable.foreach { case (table, n) =>
        val budget = budgets.getOrElse(lane, Map.empty).getOrElse(table, 1)
        assert(n <= budget, s"$lane scans $table $n times (budget $budget)")
      }
      GraftSession.releasePersisted(spark)
    }
  }

  test("q116: scoring join is salted and the count side broadcasts at test SF") {
    val df = graft.operators.TextAnalysis.q116BigramRarity(spark, sfDir)
    val plan = planString(df)
    // the fact side must carry the skew-spreading salt into the join key
    assert(plan.contains("pmod"),
      s"q116 scoring join lost its salt (hot bigrams re-serialize):\n$plan")
    // vocabulary-sized count table → broadcast at any test SF (beyond the
    // threshold it degrades to an SMJ the salt keeps even — either is
    // acceptable; a NESTED LOOP is not)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"q116 join shape unexpected:\n$plan")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"q116 must stay an equi-join:\n$plan")
    // bottom-k must not global-sort the doc scores
    assert(plan.contains("TakeOrderedAndProject"),
      s"q116 bottom-k regressed to a global sort:\n$plan")
  }

  test("q121: blocked fuzzy join stays an equi-join with the block-cap window") {
    val df = graft.operators.Dedup.q121FuzzyPairs(spark, sfDir)
    val plan = planString(df)
    // candidate generation must be an equi-join on the blocking keys —
    // a theta/nested-loop join here means the blocking decomposition is gone
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"q121 candidate join must be blocked, not all-pairs:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"q121 expected a hash/merge equi-join:\n$plan")
    // the mega-block guard is a window count over the block key
    assert(plan.contains("windowspecdefinition"),
      s"q121 lost its block-size cap window:\n$plan")
  }

  test("q135 TPC-H Q13: correlated COUNT decorrelates with the COUNT-bug patch") {
    val df = graft.operators.Relational.q135TpchQ13(spark, sfDir)
    val plan = planString(df)
    assert(!plan.toLowerCase.contains("subquery"),
      s"residual per-row subquery in plan:\n$plan")
    // the decorrelated shape: orders pre-aggregated, LEFT OUTER join to
    // customer, and the null patch (`if (isnull(alwaysTrue)) 0 else count`)
    // that keeps the zero-order class — an inner rewrite drops it silently
    assert(plan.contains("LeftOuter"),
      s"COUNT decorrelation must keep the outer join:\n$plan")
    assert(plan.contains("alwaysTrue"),
      s"missing the COUNT-bug null patch:\n$plan")
    // and the zero class itself must surface (18 customers at sf0.001)
    val zero = df.collect().find(_.getLong(0) == 0L)
    assert(zero.exists(_.getLong(1) > 0L),
      "the zero-order customer bucket vanished — the COUNT bug is back")
  }

  test("q136 TPC-H Q16: NOT IN plans as a null-aware anti join") {
    val plan = planString(graft.operators.Relational.q136TpchQ16(spark, sfDir))
    // isNullAwareAntiJoin=true prints as the trailing flag on the BHJ node
    assert("BroadcastHashJoin \\[l_suppkey#\\d+L\\], \\[s_suppkey#\\d+L\\], LeftAnti, BuildRight, true".r
      .findFirstIn(plan).isDefined,
      s"NOT IN must plan as a null-aware broadcast anti join:\n$plan")
    // the IN-list + brand/type predicates filter part BEFORE its join
    assert("p_size#\\d+ IN \\(1,4,9,16,25,36,49\\)".r.findFirstIn(plan).isDefined,
      s"p_size IN-list must filter the part side below the join:\n$plan")
  }

  test("q137 TPC-H Q19: the OR-of-ANDs pushes per-side disjuncts to both scans") {
    val plan = planString(graft.operators.Relational.q137TpchQ19(spark, sfDir))
    // PushExtraPredicateThroughJoin: the quantity-range union reaches the
    // lineitem scan, the brand/size union reaches the part scan — neither
    // side scans rows only the joined predicate could reject
    assert(plan.contains("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"),
      s"quantity disjunct union not pushed to the lineitem scan:\n$plan")
    assert(plan.contains("Or(Or(And(EqualTo(p_brand"),
      s"brand/size disjunct union not pushed to the part scan:\n$plan")
    // part prunes to 3 brands -> dim-sized -> broadcast
    assert(plan.contains("BroadcastHashJoin"),
      s"filtered part side should broadcast:\n$plan")
  }

  test("q138 TPC-H Q2: correlated MIN decorrelates to an aggregate join, no per-row subquery") {
    val df = graft.operators.Relational.q138TpchQ2(spark, sfDir)
    val plan = planString(df)
    // the rewrite must leave NO subquery node anywhere in the physical
    // plan: the per-partkey MIN becomes a pre-aggregated join input
    assert(!plan.toLowerCase.contains("subquery"),
      s"residual per-row subquery in plan:\n$plan")
    assert("HashAggregate.*functions=\\[(partial_)?min\\(l_extendedprice".r
      .findFirstIn(plan).isDefined,
      s"the correlated MIN must plan as a pre-aggregated min per partkey:\n$plan")
    // and ties at the minimum survive: the result is non-empty at sf0.001
    assert(df.limit(1).count() == 1L, "q138 returned no rows at sf0.001")
  }

  test("q112: the skew collapse aggregates distinct cents BELOW the window, reusing the shard exchange") {
    val df = graft.operators.Relational.q112PercentileDiscSharded(spark, sfDir)
    val plan = planString(df)
    // the value collapse: a hash aggregate keyed (flag, sh, c) with a
    // partial map-side phase — duplicates fold before anything sorts
    assert("HashAggregate\\(keys=\\[l_returnflag#\\d+, sh#\\d+L, c#\\d+L\\], functions=\\[partial_count".r
      .findFirstIn(plan).isDefined,
      s"missing the map-side distinct-cents collapse:\n$plan")
    // ranks run on count-weighted cumulative sums now — no row_number over
    // raw rows anywhere
    assert(!plan.contains("row_number"),
      s"raw-row ranking crept back into the sharded percentile:\n$plan")
    // the collapse must NOT add an exchange: partitioning on (flag, sh)
    // satisfies grouping on (flag, sh, c). Budget: the shard repartition +
    // the two tiny post-collapse aggregations (per-shard stats, final
    // per-flag row) — fact rows cross exactly the first one
    assert(countShuffles(df) <= 3, s"exchange crept in:\n$plan")
  }

  test("q99: the skew collapse aggregates distinct cents BELOW the window (the q112 port, r11 verdict #1)") {
    val df = graft.operators.Relational.q99Winsorized(spark, sfDir)
    val plan = planString(df)
    // the value collapse: a map-side partial aggregate keyed (flag, sh, c)
    // — duplicates fold before anything sorts, so per-shard sort input is
    // bounded by the cents domain, never the row count
    assert("HashAggregate\\(keys=\\[l_returnflag#\\d+, sh#\\d+L, c#\\d+L\\], functions=\\[partial_count".r
      .findFirstIn(plan).isDefined,
      s"missing the map-side distinct-cents collapse:\n$plan")
    // ranks run on count-weighted cumulative sums — no per-row ranking
    assert(!plan.contains("row_number"),
      s"raw-row ranking crept back into the winsorized stats:\n$plan")
    // the clip total runs on the COLLAPSED frame too: fact rows cross the
    // wire exactly once (the shard repartition); everything after is
    // |distinct-cents|-sized. Budget: shard exchange + the tiny post-
    // collapse stats/threshold/final aggregations
    assert(countShuffles(df) <= 4, s"exchange crept in:\n$plan")
  }

  test("q99/q112: the fact table SCANS once — every branch reuses the shard exchange (executed plan)") {
    // the pre-AQE shuffle count above cannot see this: the r12 bench found
    // both percentile-family lanes scanning AND shuffling lineitem twice
    // because an inferred IsNotNull(sh) (q99) / a pruned min(v) (q112)
    // made the branches' subtrees differ and ReuseExchange never fired.
    // Drive the executed plan and assert the final AQE tree carries
    // exactly ONE live FileScan plus reused exchanges.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import ScanAudit.walk // the one shared AQE-aware traversal
    for (name <- Seq("q99_winsorized", "q112_percentile_disc_sharded")) {
      val qe = SparkEntry.baseQueries(name)(spark, sfDir).queryExecution
      qe.toRdd.foreach(_ => ())
      val nodes = walk(qe.executedPlan)
      val scans = nodes.count(_.isInstanceOf[FileSourceScanExec])
      val reused = nodes.count(_.isInstanceOf[ReusedExchangeExec])
      assert(scans == 1, s"$name: expected ONE live fact scan, got $scans")
      assert(reused >= 1, s"$name: expected the shard exchange to be reused")
    }
    // the other r12 scan-audit fixes, pinned at their new scan budgets:
    // q41 (IN-filter + tag replaced a two-branch union), q130 (prune guard
    // shares the per-source aggregate), q85/q89 (window-derived totals /
    // guarded tf exchange — one corpus pass each plus the documented
    // second pass)
    for ((name, budget) <- Seq("q41_asof_join" -> 1, "q130_source_mixing" -> 1,
        "q85_quality_gate" -> 2, "q89_tfidf_top_terms" -> 2)) {
      val qe = SparkEntry.baseQueries(name)(spark, sfDir).queryExecution
      qe.toRdd.foreach(_ => ())
      val scans = walk(qe.executedPlan).count(_.isInstanceOf[FileSourceScanExec])
      assert(scans <= budget, s"$name: expected <= $budget live scans, got $scans")
    }
  }

  test("q140 TPC-H Q8: the 8-table galaxy join broadcasts every dim and shuffles the fact once") {
    val df = graft.operators.Relational.q140TpchQ8(spark, sfDir)
    val plan = planString(df)
    // six dimension hops (part, customer, nation x2, region, supplier) ride
    // broadcast joins; only the lineitem-orders edge may shuffle
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 6, s"expected >=6 broadcast joins, got $bhj:\n$plan")
    assert(countShuffles(df) <= 3,
      s"the fact table must shuffle at most once (plus the final agg):\n$plan")
    // each dim predicate reaches its OWN scan
    assert(plan.contains("EqualTo(p_type,PROMO)"),
      s"p_type must push to the part scan:\n$plan")
    assert(plan.contains("EqualTo(r_name,ASIA)"),
      s"r_name must push to the region scan:\n$plan")
  }

  test("q141 TPC-H Q9: the part LIKE reaches its scan and the fact shuffles at most twice") {
    val df = graft.operators.Relational.q141TpchQ9(spark, sfDir)
    val plan = planString(df)
    // the selective dim filter must push to the part SCAN — exploiting it
    // is the whole point of Q9's join-order stress
    assert(plan.contains("StringContains(p_name,ol)"),
      s"p_name LIKE must push to the part scan:\n$plan")
    // part/supplier/nation broadcast; only the lineitem-orders edge may
    // shuffle the fact (orders outgrows broadcast at real SF) — budget:
    // that join's two exchanges + the final nation×year agg
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 3, s"expected >=3 broadcast dim joins, got $bhj:\n$plan")
    assert(countShuffles(df) <= 3,
      s"fact may shuffle at most twice (orders join + final agg):\n$plan")
  }

  test("q142 TPC-H Q12: the shipdate window prunes the fact before the join") {
    val df = graft.operators.Relational.q142TpchQ12(spark, sfDir)
    val plan = planString(df)
    // the selective fact filter must reach the lineitem scan, not sit
    // above the join — at real SF it cuts the shuffled bytes ~7x
    assert("PushedFilters:.*GreaterThanOrEqual\\(l_shipdate".r
      .findFirstIn(plan).isDefined,
      s"l_shipdate window must push to the lineitem scan:\n$plan")
    // the CASE split folds map-side: a partial aggregate below the final
    // |flags|-row exchange
    assert(plan.contains("partial_sum"),
      s"missing the map-side partial CASE-count aggregation:\n$plan")
  }

  test("q143 TPC-H Q4: the non-equi EXISTS plans as a left semi join carrying the date predicate") {
    val df = graft.operators.Relational.q143TpchQ4(spark, sfDir)
    val plan = planString(df)
    assert(plan.contains("LeftSemi"),
      s"the EXISTS must decorrelate to a left semi join:\n$plan")
    // the ship-lag comparison is part of the JOIN's own condition — the
    // simple plan string renders it inline on the join node's line; match
    // both on ONE line (the earlier anywhere-in-plan regex was vacuous:
    // l_shipdate always appears in the scan's ReadSchema)
    assert("(?m)^.*LeftSemi.*l_shipdate.*>=.*o_orderdate.*$".r
      .findFirstIn(plan).isDefined,
      s"the correlated date predicate must ride the semi join's condition:\n$plan")
  }

  test("q144 TPC-H Q6: every predicate reaches the scan and the aggregate folds map-side") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = graft.operators.Relational.q144TpchQ6(spark, sfDir)
    // the formatted plan string TRUNCATES long PushedFilters lists — read
    // the scan node's metadata, which carries the full set
    val pushed = ScanAudit.walk(df.queryExecution.sparkPlan)
      .collectFirst { case f: FileSourceScanExec => f.metadata("PushedFilters") }
      .getOrElse(fail("no file scan in the q144 plan"))
    for (p <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity"))
      assert(pushed.contains(p), s"predicate $p must push to the lineitem scan: $pushed")
    assert(planString(df).contains("partial_sum"),
      s"the one-row answer must partial-aggregate map-side")
  }

  test("q145 TPC-H Q14: the month window prunes the fact scan and part broadcasts") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = graft.operators.Relational.q145TpchQ14(spark, sfDir)
    val plan = planString(df)
    val pushed = ScanAudit.walk(df.queryExecution.sparkPlan)
      .collect { case f: FileSourceScanExec => f.metadata("PushedFilters") }
      .mkString(" ")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_shipdate"),
      s"the one-month window must push to the lineitem scan: $pushed")
    assert(plan.contains("BroadcastHashJoin"),
      s"part must broadcast against the windowed fact slice:\n$plan")
    assert(plan.contains("partial_sum"),
      s"the one-row answer must partial-aggregate map-side:\n$plan")
  }

  test("q139 TPC-H Q11: the HAVING's global scalars run as once-computed subqueries, not joins") {
    val df = graft.operators.Relational.q139TpchQ11(spark, sfDir)
    val plan = planString(df)
    // BOTH scalar aggregates must survive as Subquery exec nodes (computed
    // once, broadcast into the filter) — a decorrelation into a join here
    // would re-shuffle the fact table against a one-row side
    assert("Subquery subquery".r.findAllIn(plan).size >= 2,
      s"expected two once-computed scalar subqueries in the HAVING:\n$plan")
    // the HAVING filter sits ABOVE the partkey aggregate (it references the
    // group's sum), never below it
    assert(plan.contains("HashAggregate"),
      s"missing the partkey aggregate:\n$plan")
  }

  test("scan gate: budget file parses, and the gate fires both ways (r12 verdict #3)") {
    // the checked-in budget file must load and cover the documented
    // multi-scan lanes with explicit budgets >1
    val budgets = ScanAudit.loadBudgets("scan_budgets.json")
      .getOrElse(fail("scan_budgets.json missing from the repo root"))
    assert(budgets.nonEmpty)
    assert(budgets.get("q114_ivfpq_recall").exists(_.getOrElse("embeddings", 0) > 1),
      "the ANN truth-pass lane must carry its documented multi-scan budget")
    // violation math, both ways: within budget → empty; over → named;
    // unknown lane/table → strict default of 1
    val rows = Seq(
      ("q_ok",   Map("lineitem" -> 1), 2),
      ("q_over", Map("lineitem" -> 2), 0),
      ("q_new",  Map("orders" -> 2), 0))
    val b = Map("q_ok" -> Map("lineitem" -> 1), "q_over" -> Map("lineitem" -> 1))
    val v = ScanAudit.violations(rows, b)
    assert(v == Seq("scan_budget:q_over:lineitem(2>1)", "scan_budget:q_new:orders(2>1)"),
      s"unexpected violations: $v")
    // a fixed lane's budget must never silently loosen. r14 recalibration:
    // the audit now counts scan EXECUTIONS across ALL jobs (r13 verdict
    // #3), so the two r12 headline fixes measure 2 — their documented
    // construction-time pre-pass (shard-width count/min/max first()) plus
    // exactly ONE fact pass for the whole percentile plan. The regression
    // this pin exists for (the split-exchange double fact-scan) would
    // read 3+.
    for (lane <- Seq("q99_winsorized", "q112_percentile_disc_sharded"))
      assert(budgets.get(lane).forall(_.values.forall(_ <= 2)),
        s"$lane budget loosened beyond pre-pass + one fact scan")
    // the r14 one-scan reshape (q118): the collapse's single fact read is
    // IN the file, finally visible to the gate at all
    assert(budgets.get("q118_mad_outliers").exists(_.getOrElse("lineitem", 0) == 1),
      "q118 must carry exactly one lineitem scan across all its jobs")
  }
}
