package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the canonical flow a pipeline user
  * runs, composed entirely from this library's oracle-gated operators —
  * the proof that the pieces CHAIN, not just pass their individual gates.
  *
  *   non-empty → quality gate (alpha ratio) → exact dedup (16-byte
  *   fingerprints, min-id keeper) → benchmark decontamination (5-shingle
  *   broadcast semi-join) → per-source quota cap (md5-rank survivors) →
  *   deterministic global shuffle position
  *
  * Every stage is embarrassingly parallel or partial-aggregated (the
  * per-operator scaladocs carry the 100 TB arguments); the composition
  * adds nothing but the stages themselves.
  *
  * Funnel accounting rides `observe()` (CollectMetrics) nodes at each
  * stage boundary, all populated by ONE internal materialization — never
  * a count() per stage. The count-per-stage spelling re-derives the whole
  * upstream chain for every count (k stages → k(k+1)/2 cumulative stage
  * executions): the r5 scale drill measured it at 26.7 s for the sf0.1
  * corpus where the flow itself costs ~5 s — at 100 TB that multiplier is
  * the difference between one pass over the data and eleven.
  *
  * What the ONE internal action materializes (and persists) is (a) the
  * survivor ID SET — 8 bytes/row — and (b), since r17 (r16 verdict #5),
  * ONE narrow tokenized projection of the non-empty corpus: (doc_id,
  * source, quality verdict, 16-byte fingerprint, words array). Every
  * build side of the ladder — exact-dedup keeper election, the MinHash
  * signature AND Jaccard-verify passes, benchmark decontamination's
  * probe — reads that cached projection instead of re-deriving
  * tokenization/fingerprints from raw text per stage, which collapses
  * the flow from 7 corpus scans to 3 (projection fill + the benchmark
  * side + the caller's output join; ScanAudit budget pins it). At
  * 100 TB the projection is corpus-sized — MEMORY_AND_DISK here; a
  * production run checkpoints it to durable storage — and the
  * difference between 7 corpus passes and 3 is most of the job cost.
  * Document TEXT still never persists (words/fingerprint only).
  *
  * The returned frame joins the raw input against the persisted
  * (id, pos) assignment, so a caller's write pays one cheap input scan +
  * a tiny join — the expensive chain (fingerprint dedup + shingle
  * decontamination + quota ranking) runs exactly once, inside curate().
  *
  * Persist lifecycle: the id set and the narrow projection stay pinned
  * UNDER the returned plan (same contract as Dedup.confirmedNearDups) —
  * callers release after materializing via unpersist/
  * GraftSession.releasePersisted; afterwards the plan remains correct
  * but re-derives the selection chain lazily. The input `docs` plan is
  * evaluated twice (once under the projection fill, once under the
  * returned join) — callers pass a cheap scan or persist their input if
  * it is itself an expensive derivation.
  */
object Curation {
  final case class StageCount(stage: String, rows: Long)

  /** Materialize `df` as a parquet artifact at `path` (overwrite) and
    * return the table-shaped read of it — the scale-safe replacement for
    * a corpus-sized MEMORY_AND_DISK persist or an eager localCheckpoint
    * (r20 verdict #3/#4): local checkpoints and cached blocks are
    * unreplicated executor state (one lost executor kills a 100 TB job
    * mid-split), while a materialized corpus stage is durable, releases
    * deterministically (no block sweep), and is what a production
    * curation pipeline lands anyway — the curated corpus IS a
    * deliverable. Consumers compose over a LogicalRelation leaf, so the
    * producing lineage is truncated exactly as localCheckpoint truncated
    * it (the q175 plan-explosion fix is preserved). */
  private def materialize(df: DataFrame, path: String): DataFrame = {
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** @param docs      corpus with (doc_id, source, text) columns
    * @param benchmark frame with (doc_id, text) — the eval sets whose
    *                  5-shingles must not leak into training data
    * @param nearDupEmbeddings when set (vec_id, v: array<double>), the flow
    *                  runs the full production dedup ladder (r15 verdict
    *                  #5): exact → MinHash near-dup (the q50 LSH→Jaccard
    *                  pipeline; victims = the higher id of every confirmed
    *                  pair) → SemDeDup (the q152 embedding verdicts;
    *                  keyed doc_id = vec_id, docs without an embedding
    *                  pass through — you cannot semantically dedup what
    *                  was never embedded). None keeps the r6 exact-only
    *                  canonical flow (q111's gated shape).
    * @param exactSubstrTrim when true, the q163 span-trim stage runs FIRST
    *                  (r18 verdict Next #1's ladder integration): q161's
    *                  duplicated spans are discovered over the non-empty
    *                  input and CUT (Dedup.trimSpans), so every downstream
    *                  stage — quality, fingerprints, near-dup signatures,
    *                  decontamination shingles — operates on the trimmed
    *                  text, exactly as Lee et al. train on the trimmed
    *                  corpus. Funnel accounting gains two entries computed
    *                  from the persisted narrow projection (never a second
    *                  corpus scan): `span_trim_docs` (docs that lost ≥1
    *                  token among non-empty survivors) and
    *                  `span_trim_tokens` (Σ tokens cut). A doc trimmed to
    *                  emptiness leaves the ladder at the non_empty stage.
    * @return (curated frame: all input columns + `pos`, the deterministic
    *         1..n training order; per-stage funnel counts) */
  def curate(docs: DataFrame, benchmark: DataFrame,
      minAlphaRatio: Double = 0.45, quotaPerSource: Int = 1000,
      seed: String = "curate",
      nearDupEmbeddings: Option[DataFrame] = None,
      exactSubstrTrim: Boolean = false): (DataFrame, Seq[StageCount]) = {
    val acc = scala.collection.mutable.ArrayBuffer
      .empty[(String, org.apache.spark.sql.Observation)]
    def stage(name: String, d: DataFrame): DataFrame = {
      val obs = org.apache.spark.sql.Observation() // unique auto-name
      acc += name -> obs
      d.observe(obs, count(lit(1)).as("rows"))
    }
    // layout-independent parallelism for the whole text chain (quality
    // regexes, fingerprints, shingle explode): a no-op on an already-parallel
    // input, one raw-input rebalance when the source is few unsplittable
    // files (see Scale.ensureParallel — the r5 drill's single-threaded-map
    // failure mode)
    val raw = Scale.ensureParallel(docs)
    val nonEmptyPred = col("text").isNotNull && length(trim(col("text"))) > 0
    // the opt-in ExactSubstr trim stage: discovery over the non-empty raw
    // corpus, the cut applied to the full input (NULL text passes through
    // as "" and falls out at non_empty exactly like before). The trim
    // accounting column rides into the narrow projection so the funnel
    // reads it from the ONE persisted materialization — an Observation
    // here would sit under both the spine and the returned join and hit
    // the duplicate-CollectMetrics race the stage discipline above bans.
    // The trimmed corpus is read by TWO actions — the observed spine's
    // narrow projection (materialized at ids.count) and the returned
    // position join (materialized when the caller consumes `ordered`) —
    // and the trim chain behind it is two full ExactSubstr passes, so it
    // is MATERIALIZED as a parquet artifact (r21, closing r20 verdict #4:
    // the r20 shape was a MEMORY_AND_DISK persist, which at 100 TB caches
    // the entire trimmed corpus as unreplicated cluster-wide block state;
    // the artifact write is the production shape — a curation pipeline
    // lands the trimmed corpus before the downstream stages — and both
    // consumers read a durable table instead). Raw, un-trimmed input
    // stays un-materialized: it is a plain scan the trim chain pushes its
    // own projections into. Every call overwrites, never memoized: the
    // trimmed corpus differs per caller's canary injection, and a stale
    // artifact must never serve. The leaf names ("trimmed", "survivors")
    // stay fixed for the checked-in scan budgets.
    val input = if (!exactSubstrTrim) raw
      else materialize(
        Dedup.trimSpans(raw,
            Dedup.exactSubstrSpans(
              raw.filter(nonEmptyPred).select(col("doc_id"), col("text"))))
          .drop("kept_tokens"),
        Artifacts.path("curated") + "/trimmed")
    val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
      .cast("double") / length(col("text"))
    // r17 (r16 verdict #5): ONE narrow tokenized projection — the quality
    // verdict, fingerprint, and words array are all pure functions of text,
    // computed here exactly once; spine and every build side below read
    // this cache instead of re-scanning the corpus per stage. Text itself
    // is projected away before the persist.
    val narrowCols = Seq(col("doc_id"), col("source"),
      (alpha >= minAlphaRatio).as("__q"),
      Dedup.contentFp(col("text")).as("__fp"),
      Dedup.wordsOf(col("text")).as("__words")) ++
      (if (exactSubstrTrim) Seq(col("trimmed_tokens").as("__trim")) else Nil)
    val narrow = input.filter(nonEmptyPred)
      .select(narrowCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nonEmpty = stage("non_empty", narrow)
    val quality = stage("quality_gate", nonEmpty.filter(col("__q")))
    // The observed spine must stay TREE-shaped: a CollectMetrics node that
    // ends up under two plan branches (e.g. the probe AND the join build of
    // a fan-out operator) executes as duplicate instances, and with
    // exchange/stage reuse one instance is dead — whichever accumulator the
    // harvest picks decides between the true count and 0 (observed as an
    // intermittent exact_dedup=0). So every BUILD side below derives from
    // the raw, un-observed `passers` with the stage gates re-applied —
    // semantically identical (keeper election and shingle contamination are
    // pure functions of text), and each observe node appears exactly once.
    val passers = narrow.filter(col("__q"))
    // inline exact-dedup with an un-observed keeper build; same contract as
    // Dedup.dropExactDuplicates (16-byte fingerprint, min-id keeper)
    val keepers = passers
      .select(col("__fp"), col("doc_id"))
      .groupBy("__fp").agg(min("doc_id").as("doc_id"))
    val deduped = stage("exact_dedup",
      quality.join(keepers, Seq("__fp", "doc_id"), "left_semi"))
    // the near-dup ladder (opt-in): both victim sets are PURE functions of
    // un-observed inputs (passers' words / the embeddings frame), so the
    // observed spine stays tree-shaped — the same discipline as the keeper
    // build above
    val afterNearDup = nearDupEmbeddings match {
      case None => deduped
      case Some(embs) =>
        // MinHash near-dup (the q50 pipeline at the production threshold):
        // a doc is dropped when it is the HIGHER id of any confirmed pair
        // — the pairwise min-id survivor rule; the bucket cap inside
        // confirmedNearDups bounds the pair join exactly as in q50
        val ndVictims = Dedup.confirmedNearDupsFromWords(
            passers.select(col("doc_id"), col("__words").as("words")))
          .select(col("id2").as("doc_id")).distinct()
        val nd = stage("minhash_neardup",
          deduped.join(ndVictims, Seq("doc_id"), "left_anti"))
        // SemDeDup (the q152 verdicts): drop docs whose embedding is a
        // within-cluster semantic duplicate (is_dup, min-id survivor)
        val sdVictims = Dedup.semDedupVerdicts(embs)
          .filter(col("is_dup")).select(col("vec_id").as("doc_id"))
        stage("semdedup", nd.join(sdVictims, Seq("doc_id"), "left_anti"))
    }
    // contamination is text-pure, so screening ALL quality-passers yields
    // the same id set restricted to deduped survivors — and keeps the
    // observed chain out of the anti-join's build side
    val clean = stage("decontaminated",
      afterNearDup.join(
        Dedup.contaminatedIdsFromWords(
          passers.select(col("doc_id"), col("__words").as("words")), benchmark)
          .select("doc_id"),
        Seq("doc_id"), "left_anti"))
    val capped = stage("quota_capped",
      TextAnalysis.quotaCap(clean, "source", "doc_id", seed, quotaPerSource))
    // ids-only persist: Catalyst prunes the chain to the columns selection
    // needs, and the blocks pinned for the position stage and the returned
    // join are 8-byte ids — never text
    val ids = capped.select(col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the ONE action: executes the observed chain a single time (each stage
    // observation fires exactly once) and fills the id cache every
    // downstream consumer reads instead of re-deriving the chain
    ids.count()
    // trim accounting reads the PERSISTED narrow blocks (cheap cached agg,
    // not a corpus re-scan) — see the exactSubstrTrim scaladoc
    val trimStages = if (!exactSubstrTrim) Nil else {
      val r = narrow.agg(
        coalesce(sum(when(col("__trim") > 0, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum("__trim"), lit(0L))).first()
      Seq(StageCount("span_trim_docs", r.getLong(0)),
        StageCount("span_trim_tokens", r.getLong(1)))
    }
    val funnel = trimStages ++ acc.map { case (name, obs) =>
      StageCount(name, obs.get("rows").asInstanceOf[Long])
    }.toList
    // The position stage derives its hash from a DISTINCT seed ("<seed>|pos").
    // quotaCap keeps the k smallest md5(seed|id) per source, so survivors of
    // capped sources are concentrated in the low quantile of THAT key; reusing
    // it for the global order would front-load large sources and the final
    // shuffle would not be independent of selection. Both fan-out branches
    // inside deterministicShuffle read the persisted id blocks.
    val ordered = input.drop("trimmed_tokens").join(
      TextAnalysis.deterministicShuffle(ids, "doc_id", seed + "|pos"),
      Seq("doc_id"))
    (ordered, funnel)
  }

  /** Q111 — the COMPOSED curation flow under the DuckDB oracle gate (r5
    * verdict #6): every stage is gated individually (q85 quality, q28 dedup,
    * q76 decon, q90 quota, q81 positions); this row proves the COMPOSITION —
    * per-stage funnel counts, the survivor id-sum (pins WHICH docs survive),
    * and a position checksum Σ doc_id·pos (pins the exact training-order
    * assignment) all have a closed relational form DuckDB replays. Benchmark
    * = every 100th doc (the drill's stand-in eval slice) — benchmark members
    * are corpus members, so they share their own shingles and the decon
    * stage is non-vacuous at every SF. quota k=15 binds at every SF (q90's
    * choice). One output row. */
  def q111CurationFunnel(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(s, dir, "documents")
    val benchmark = docs.filter(col("doc_id") % 100 === 0).select("doc_id", "text")
    val (ordered, funnel) = curate(docs, benchmark, quotaPerSource = 15)
    val sums = ordered.agg(
      sum(col("doc_id")).cast("long").as("kept_id_sum"),
      sum(col("doc_id") * col("pos")).cast("long").as("pos_checksum")).first()
    // curate()'s contract pins the survivor-id persist for the caller to
    // release; the funnel row above is this query's ONLY consumer of it, so
    // release here — a harness that runs q111 twice per session (the q/s
    // conformance lanes) must not accumulate pinned MEMORY_AND_DISK blocks
    // (r6 ADVICE #2).
    graft.GraftSession.releasePersisted(s)
    val f = funnel.map(sc => sc.stage -> sc.rows).toMap
    import s.implicits._
    Seq((f("non_empty"), f("quality_gate"), f("exact_dedup"), f("decontaminated"),
      f("quota_capped"), sums.getLong(0), sums.getLong(1)))
      .toDF("n_non_empty", "n_quality", "n_dedup", "n_clean", "n_capped",
        "kept_id_sum", "pos_checksum")
  }

  /** Q156 — the PRODUCTION dedup ladder composed into the curation flow
    * (r15 verdict #5): q111's gated shape with the two near-dup stages
    * inserted between exact dedup and decontamination — MinHash near-dup
    * (q50's full LSH→Jaccard pipeline, pairwise min-id survivors) and
    * SemDeDup (q152's embedding verdicts, doc_id = vec_id). Every stage is
    * individually oracle-gated (q85/q28/q50/q152/q76/q90/q81); this row
    * proves the nine-stage COMPOSITION: funnel counts, survivor id-sum,
    * and the Σ doc_id·pos training-order checksum all replay in DuckDB.
    * Same benchmark/quota parameters as q111 so the two funnels are
    * directly comparable (the near-dup stages are the only delta). */
  def q156CurationNearDup(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(s, dir, "documents")
    val benchmark = docs.filter(col("doc_id") % 100 === 0).select("doc_id", "text")
    val embs = graft.Tables(s, dir, "embeddings")
      .select(col("vec_id"), graft.functions.VectorOps.asDouble(col("embedding")).as("v"))
    val (ordered, funnel) = curate(docs, benchmark, quotaPerSource = 15,
      nearDupEmbeddings = Some(embs))
    val sums = ordered.agg(
      sum(col("doc_id")).cast("long").as("kept_id_sum"),
      sum(col("doc_id") * col("pos")).cast("long").as("pos_checksum")).first()
    // release the survivor-id persist AND confirmedNearDups'/semDedup's
    // internal persists (the q111 lifecycle note)
    graft.GraftSession.releasePersisted(s)
    val f = funnel.map(sc => sc.stage -> sc.rows).toMap
    import s.implicits._
    Seq((f("non_empty"), f("quality_gate"), f("exact_dedup"), f("minhash_neardup"),
      f("semdedup"), f("decontaminated"), f("quota_capped"),
      sums.getLong(0), sums.getLong(1)))
      .toDF("n_non_empty", "n_quality", "n_dedup", "n_neardup", "n_semdedup",
        "n_clean", "n_capped", "kept_id_sum", "pos_checksum")
  }

  // --------------------------------------------- leakage-free split (q162)

  /** Q162 — leakage-free train/val/test split: assignment is a pure
    * function of the CONTENT fingerprint, not the document id, so every
    * exact-duplicate cluster lands in one split by construction — the
    * eval-contamination failure mode of naive per-row splits ("the test
    * set is in the training set because the crawl stored it twice") is
    * structurally impossible, and the lane EMITS the audit that proves it
    * rather than asserting it in prose.
    *
    *   split(doc) = bucket(md5("q162|" ++ md5(text))) → 8/1/1 train/val/test
    *
    * Scale (100 TB): no membership table and no join — a doc's split is
    * recomputable from its bytes alone by any engine at any time (the
    * property that makes the split STABLE under re-crawls: a duplicate
    * arriving next year lands in the same split as its twin). The only
    * shuffles are the audit groupBys on 16-byte fingerprints. Contrast
    * with random-split-then-persist, which needs the membership table
    * shipped to every consumer and re-leaks on every refresh.
    *
    * Emitted audits:
    *   - exact_leak_groups: fingerprint groups straddling >1 split — 0 by
    *     construction (the lane's theorem, made observable);
    *   - prefix_leak_groups: 24-char-normalized-prefix groups (the q121
    *     blocking sig) straddling splits with ≥2 distinct fingerprints —
    *     the RESIDUAL near-duplicate leakage a content-hash split cannot
    *     prevent (measurably nonzero on the fixture), i.e. the honest
    *     reason production pipelines run q50/q152 BEFORE splitting;
    *   - max_cluster: largest exact-dup cluster (canary ≥ 2, non-vacuity).
    *
    * Conformance canary (q92 rule): every doc_id % 100 == 7 doc's text is
    * replaced by a fixed passage, forming one multi-doc exact-dup cluster
    * that must co-locate; the oracle replays the replacement. */
  def q162LeakageFreeSplit(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val canary = "this exact passage appears verbatim in several crawl snapshots of the corpus"
    val ne = graft.Tables(s, dir, "documents")
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        when(col("doc_id") % 100 === 7, canary).otherwise(col("text")).as("text"))
    val withFp = ne.select(col("doc_id"), col("text"), md5(col("text")).as("fp"))
    val assigned = withFp
      .withColumn("h",
        conv(substring(md5(concat(lit("q162|"), col("fp"))), 1, 8), 16, 10)
          .cast("long") % 10)
      .withColumn("split",
        when(col("h") < 8, "train").when(col("h") === 8, "val").otherwise("test"))
    // one (fp, split) pre-aggregation feeds BOTH the per-split stats and the
    // exact-leak audit: map-side partial agg collapses each duplicate
    // cluster to one row per (fp, split) before the exchange, and the two
    // downstream rollups re-aggregate that tiny frame — one corpus scan,
    // one corpus-wide shuffle for three outputs
    val lvl = assigned.groupBy("fp", "split")
      .agg(count(lit(1)).as("sz"), sum(length(col("text"))).as("chars"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perSplit = lvl.groupBy("split")
      .agg(sum("sz").as("n_docs"), count(lit(1)).as("n_clusters"),
        sum("chars").as("n_chars"))
    // (fp, split) rows are distinct by construction, so count(*) per fp IS
    // the distinct-split count
    val exactLeak = lvl.groupBy("fp")
      .agg(count(lit(1)).as("n_splits"), sum("sz").as("csz"))
      .agg(sum(when(col("n_splits") >= 2, 1L).otherwise(0L)).as("exact_leak_groups"),
        max(col("csz")).as("max_cluster"))
    val prefixLeak = assigned
      .select(lower(substring(trim(col("text")), 1, 24)).as("sig"),
        col("fp"), col("split"))
      .groupBy("sig")
      .agg(countDistinct(col("split")).as("n_splits"),
        countDistinct(col("fp")).as("n_fps"))
      .agg(sum(when(col("n_splits") >= 2 && col("n_fps") >= 2, 1L).otherwise(0L))
        .as("prefix_leak_groups"))
    // two 1-row audit frames broadcast onto three split rows — no keys
    perSplit.crossJoin(exactLeak).crossJoin(prefixLeak)
      .select(col("split"), col("n_docs"), col("n_clusters"),
        col("n_chars").cast("long").as("n_chars"),
        col("exact_leak_groups").cast("long").as("exact_leak_groups"),
        col("max_cluster").cast("long").as("max_cluster"),
        col("prefix_leak_groups").cast("long").as("prefix_leak_groups"))
      .orderBy("split")
  }

  /** Q167 — the TRIM-FIRST curation funnel: q111's composed flow with the
    * ExactSubstr span-trim stage enabled (`curate(exactSubstrTrim = true)`)
    * — the oracle-gated proof of the q163 ladder integration, run over the
    * q161-canaried corpus so the trim is guaranteed non-vacuous at every
    * SF. The canaries also DEMONSTRATE the stage's value end-to-end:
    * benchmark docs (every 100th) carry the injected footer (and often the
    * header), so WITHOUT the trim their shingles would decontaminate every
    * header/footer doc out of the corpus; the trim removes those spans
    * from corpus AND the spans' other copies first, so the funnel keeps
    * documents whose only sin was shared boilerplate — Lee et al.'s
    * trim-don't-drop result as a funnel delta. Output = the q111 funnel
    * columns plus (trim_docs, trim_tokens) from the span_trim funnel
    * entries. One row. */
  def q167CurationTrimmed(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val header = "shared license header text appears before many documents in the crawl corpus"
    val footer = "subscribe to our newsletter for updates and special offers"
    val docs = graft.Tables(s, dir, "documents")
    val ne = col("text").isNotNull && length(trim(col("text"))) > 0
    val canaried = docs.select(col("doc_id"), col("source"),
      when(ne, concat(
        when(col("doc_id") % 3 === 0, header + " ").otherwise(""),
        col("text"),
        when(col("doc_id") % 5 === 0, " " + footer).otherwise("")))
        .otherwise(col("text")).as("text"))
    val benchmark = canaried.filter(col("doc_id") % 100 === 0).select("doc_id", "text")
    val (ordered, funnel) = curate(canaried, benchmark, quotaPerSource = 15,
      exactSubstrTrim = true)
    val sums = ordered.agg(
      sum(col("doc_id")).cast("long").as("kept_id_sum"),
      sum(col("doc_id") * col("pos")).cast("long").as("pos_checksum")).first()
    graft.GraftSession.releasePersisted(s)
    val f = funnel.map(sc => sc.stage -> sc.rows).toMap
    import s.implicits._
    Seq((f("span_trim_docs"), f("span_trim_tokens"), f("non_empty"),
      f("quality_gate"), f("exact_dedup"), f("decontaminated"), f("quota_capped"),
      sums.getLong(0), sums.getLong(1)))
      .toDF("trim_docs", "trim_tokens", "n_non_empty", "n_quality", "n_dedup",
        "n_clean", "n_capped", "kept_id_sum", "pos_checksum")
  }

  // ----------------------------------------- near-dup-aware split (q164)

  /** The q164 near-dup conformance canary (q92 rule): every doc_id % 50 ==
    * 3 doc becomes a member of a ~10-doc near-dup cluster keyed by
    * doc_id div 500 — the group token is interleaved every third word so
    * cross-GROUP texts share almost no 3-shingles (LSH buckets stay
    * group-local, ~10 members at EVERY scale factor — never near the
    * bucket cap), while within a group only the trailing per-doc variant
    * token differs (word-set Jaccard ≈ 0.92 — well above the 0.6
    * confirm threshold). */
  private[graft] def neardupCanaryText(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val g = concat(lit("g"), floor(docId / 500).cast("long").cast("string"))
    concat(lit("neardup canary cluster "), g,
      lit(" alpha beta "), g, lit(" gamma delta "), g, lit(" epsilon zeta "), g,
      lit(" eta theta "), g, lit(" iota kappa "), g, lit(" lambda mu "), g,
      lit(" nu xi "), g, lit(" omicron pi "), g, lit(" rho sigma v"),
      docId.cast("string"))
  }

  /** Q164 — near-dup-AWARE train/val/test split (r18 verdict Next #2):
    * closes q162's own measured residual. q162 co-locates exact-duplicate
    * clusters by construction but honestly reports the near-dup leakage a
    * content-hash split cannot prevent; this lane composes the existing
    * oracle-gated pieces into the production fix its scaladoc names:
    *
    *   confirmed near-dup pairs (the q50 LSH→Jaccard pipeline, threshold
    *   0.6) → connected components over exact-group REPRESENTATIVES (the
    *   q79 operator; exact-dup groups contract to their min-id rep first,
    *   so a giant identical-text cluster is ONE node, never a chain) →
    *   split = bucket(md5("q164|" ++ component MIN content fingerprint))
    *
    * Assignment is per CLUSTER, a pure function of the cluster's minimum
    * content fingerprint — exact dups share fp (same singleton rule as
    * q162), near-dups share a component, so BOTH co-locate. The lane
    * emits the paired positive/negative audit: `neardup_leak_pairs` =
    * confirmed pairs straddling splits under THIS assignment (0 — the
    * theorem, made observable) vs `naive_leak_pairs` = the same pairs
    * under q162's per-doc rule with the same seed (> 0 on the canaried
    * fixture — the residual this lane closes). `exact_leak_groups` stays
    * 0; `max_component` ≥ the canary cluster size pins non-vacuity.
    *
    * Scale (100 TB): the q50 pipeline is the corpus's near-dedup scale
    * path (bucketed, capped, never all-pairs); components run on the
    * CONTRACTED rep graph (nodes = distinct fingerprints with ≥1 edge —
    * sparse on real crawls); everything downstream shuffles 16-byte
    * fingerprints and 8-byte labels only. */
  def q164NearDupAwareSplit(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val ne = graft.Tables(s, dir, "documents")
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        when(col("doc_id") % 50 === 3, neardupCanaryText(col("doc_id")))
          .otherwise(col("text")).as("text"))
    nearDupAwareSplit(ne, "q164")
  }

  /** The near-dup-aware split operator proper, over any non-empty
    * (doc_id, text) corpus — see [[q164NearDupAwareSplit]] for the
    * algorithm scaladoc; `seed` keys the md5 bucket hash so different
    * consumers (q164 raw, q175 post-curation) draw independent splits. */
  def nearDupAwareSplit(ne: DataFrame, seed: String): DataFrame = {
    val f = ne.select(col("doc_id"), col("text"), md5(col("text")).as("fp"))
    def splitOf(fpCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val h = conv(substring(md5(concat(lit(seed + "|"), fpCol)), 1, 8), 16, 10)
        .cast("long") % 10
      when(h < 8, "train").when(h === 8, "val").otherwise("test")
    }
    // exact-dup groups contract to their min-id representative BEFORE the
    // component pass (the closed form q79's oracle pins) — a mega exact
    // cluster is one node, and the iterative operator starts from its
    // fixpoint for the exact half
    val rep = f.withColumn("rep",
      min("doc_id").over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
    val pairs = Dedup.confirmedNearDups(ne)
      .select(col("id1"), col("id2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val r1 = rep.select(col("doc_id").as("id1"), col("rep").as("rep1"))
    val r2 = rep.select(col("doc_id").as("id2"), col("rep").as("rep2"))
    val redge = pairs.join(r1, Seq("id1")).join(r2, Seq("id2"))
      .filter(col("rep1") =!= col("rep2"))
      .select(col("rep1").as("src"), col("rep2").as("dst")).distinct()
    val nodes = rep.select(col("rep").as("id")).distinct()
    val comp = Dedup.connectedComponents(nodes, redge)
      .select(col("id").as("rep"), col("lbl").as("comp"))
    val assigned = rep.join(comp, Seq("rep"))
    val repFp = assigned.groupBy("comp").agg(min("fp").as("rep_fp"))
    val docSplit = assigned.join(repFp, Seq("comp"))
      .select(col("doc_id"), col("fp"), col("comp"), splitOf(col("rep_fp")).as("split"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perSplit = docSplit.groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct("comp").as("n_components"))
    val s1 = docSplit.select(col("doc_id").as("id1"), col("split").as("sp1"),
      splitOf(col("fp")).as("nv1"))
    val s2 = docSplit.select(col("doc_id").as("id2"), col("split").as("sp2"),
      splitOf(col("fp")).as("nv2"))
    val pairSplits = pairs.join(s1, Seq("id1")).join(s2, Seq("id2"))
    val leak = pairSplits.agg(
      sum(when(col("sp1") =!= col("sp2"), 1L).otherwise(0L)).as("neardup_leak_pairs"),
      sum(when(col("nv1") =!= col("nv2"), 1L).otherwise(0L)).as("naive_leak_pairs"))
    val exactLeak = docSplit.groupBy("fp")
      .agg(countDistinct("split").as("nsp"))
      .agg(sum(when(col("nsp") >= 2, 1L).otherwise(0L)).as("exact_leak_groups"))
    val maxComp = docSplit.groupBy("comp").agg(count(lit(1)).as("csz"))
      .agg(max("csz").as("max_component"))
    perSplit.crossJoin(leak).crossJoin(exactLeak).crossJoin(maxComp)
      .select(col("split"), col("n_docs"), col("n_components"),
        coalesce(col("neardup_leak_pairs"), lit(0L)).cast("long").as("neardup_leak_pairs"),
        coalesce(col("naive_leak_pairs"), lit(0L)).cast("long").as("naive_leak_pairs"),
        col("exact_leak_groups").cast("long").as("exact_leak_groups"),
        col("max_component").cast("long").as("max_component"))
      .orderBy("split")
  }

  // ------------------------------- curate → split composition (q175)

  /** The q175 TRIM-PROOF near-dup canary: high word-set Jaccard within a
    * group (0.6364 — above the 0.6 confirm bar), below-bar across groups
    * (0.5652 — both exact rationals, safely off the rounding boundary),
    * and NO 8-token window shared between any two docs: every run of
    * shared tokens is exactly 7 long and separated by a doc-unique token
    * (u<d>a/b/c, v<d>), so ExactSubstr trim — which cuts any ≥2-copy
    * 8-gram — provably never touches it. This is what lets ONE corpus
    * exercise the full production order: trim cuts the header/footer
    * boilerplate (injected on NON-canary docs), then the split must still
    * co-locate the surviving near-dup clusters. 13 shared words + the
    * group token g<g> (g = doc_id div 200); 4 doc-unique tokens. */
  private[graft] def trimSafeCanaryText(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val g = concat(lit("g"), floor(docId / 200).cast("long").cast("string"))
    val d = docId.cast("string")
    concat(
      lit("trimsafe neardup canary "), g, lit(" alpha beta "), g,
      lit(" u"), d, lit("a gamma delta "), g, lit(" epsilon zeta "), g,
      lit(" canary u"), d, lit("b eta theta "), g, lit(" alpha iota "), g,
      lit(" beta u"), d, lit("c kappa "), g, lit(" gamma delta "), g,
      lit(" eta theta v"), d)
  }

  /** Q175 — the PRODUCTION sequence composed end-to-end (r19 verdict Next
    * #4): `curate(exactSubstrTrim = true)` first — trim shared spans,
    * quality-gate, exact-dedup, decontaminate — then the q164 near-dup-
    * aware split over the SURVIVORS' TRIMMED texts ("components on the
    * cleaned corpus"). One gated output carries the funnel AND the split
    * audits, so the composition itself is what the oracle replays:
    * ladder → edges → components → assignment.
    *
    * Fixture: doc_id % 10 == 3 docs become [[trimSafeCanaryText]] members
    * (~10-doc clusters the TRIM CANNOT DISSOLVE — the q164 canary's
    * identical 30-token prefixes would be discovered as duplicated spans
    * and cut, leaving singletons, which is itself a true and measurable
    * production effect but would make this lane's split audit vacuous);
    * all other docs carry the q167 header/footer trim canaries, so the
    * trim stage is non-vacuous in the SAME run. Quota is set not to bind
    * (1,000,000/source — a split consumes the whole cleaned corpus; the
    * quota stage stays in the chain because the composition is the thing
    * under test, and q90/q111 own its binding behavior).
    *
    * Audits: neardup_leak_pairs = 0 (the theorem, now proven to hold
    * POST-curation); naive_leak_pairs = the same confirmed pairs under
    * the per-doc rule (the residual the composition closes). */
  def q175CuratedSplit(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val header = "shared license header text appears before many documents in the crawl corpus"
    val footer = "subscribe to our newsletter for updates and special offers"
    val docs = graft.Tables(s, dir, "documents")
    val ne = col("text").isNotNull && length(trim(col("text"))) > 0
    val canaried = docs.select(col("doc_id"), col("source"),
      when(col("doc_id") % 10 === 3 && ne, trimSafeCanaryText(col("doc_id")))
        .otherwise(when(ne, concat(
          when(col("doc_id") % 3 === 0, header + " ").otherwise(""),
          col("text"),
          when(col("doc_id") % 5 === 0, " " + footer).otherwise("")))
          .otherwise(col("text"))).as("text"))
    val benchmark = canaried.filter(col("doc_id") % 100 === 0).select("doc_id", "text")
    val (ordered, funnel) = curate(canaried, benchmark, quotaPerSource = 1000000,
      exactSubstrTrim = true)
    // survivors with their TRIMMED text (curate's returned join reads the
    // trimmed input when exactSubstrTrim is on), MATERIALIZED as a parquet
    // artifact before the split composes over it. The materialization is
    // load-bearing (the r20 plan-explosion fix): nearDupAwareSplit
    // references this frame from ~8 subtrees (token explode, fingerprints,
    // LSH bands, rep window, leak joins), and composing those directly
    // over the lazy curate() lineage re-inlined the WHOLE trim chain —
    // two full ExactSubstr passes — into each reference: ~17,500 Exchange
    // nodes in formatted explain, 25.6 s at sf0.1 in mostly plan work.
    // r20 used an eager localCheckpoint; r21 lands the survivors as a
    // parquet artifact instead (r20 verdict #3: local checkpoints are
    // unreplicated executor blocks — at 100 TB one lost executor kills
    // the job mid-split, and the curated corpus is a deliverable a
    // production pipeline materializes to storage anyway). Same rows,
    // same lineage truncation, durable instead of block-state.
    val survivors = {
      val p = Artifacts.path("curated") + "/survivors"
      ordered.select(col("doc_id"), col("text"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
      s.read.parquet(p)
    }
    val split = nearDupAwareSplit(survivors, "q175")
    val f = funnel.map(sc => sc.stage -> sc.rows).toMap
    import s.implicits._
    val funnelDf = Seq((f("span_trim_docs"), f("span_trim_tokens"),
      f("non_empty"), f("quality_gate"), f("exact_dedup"),
      f("decontaminated"), f("quota_capped")))
      .toDF("trim_docs", "trim_tokens", "n_non_empty", "n_quality", "n_dedup",
        "n_clean", "n_capped")
    split.crossJoin(broadcast(funnelDf)).orderBy("split")
  }
}
