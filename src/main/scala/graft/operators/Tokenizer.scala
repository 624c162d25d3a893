package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tokenizer induction — distributed BPE training (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units").
  *
  * The missing pillar of the LLM-data surface: the engine could COUNT
  * tokens under a fixed regex (q29) but not LEARN a subword vocabulary
  * from the corpus. This is the production shape every real trainer
  * (subword-nmt, HuggingFace tokenizers, SentencePiece-BPE) uses:
  *
  *   1. ONE corpus pass builds the word-frequency table — the Zipf
  *      compression that makes tokenizer training tractable at 100 TB
  *      (distinct words ≪ corpus tokens; the merge loop never touches
  *      the corpus again).
  *   2. Each word becomes its character-symbol sequence + an end-of-word
  *      marker (`</w>` — the Sennrich formulation, so "est" as a suffix
  *      and "est" as a word-interior unit stay distinct).
  *   3. N merge rounds: count adjacent symbol pairs weighted by word
  *      frequency (map-side explode + one 2-string-key shuffle over the
  *      VOCAB table, never the corpus), pick the most frequent pair
  *      (count desc, then lexicographic — the deterministic tie-break
  *      both oracle engines replay), fuse every left-to-right
  *      non-overlapping occurrence, repeat.
  *
  * The fuse is a row-local string fold (`aggregate` HOF, string
  * accumulator): symbols re-joined on a unit-separator (U+001F), a merge
  * appends the right symbol WITHOUT the separator — exactly the
  * greedy-left BPE apply ("a a a" + merge (a,a) → ["aa","a"]), and the
  * separator guarantees exact-symbol matching (acc ends with SEP+left ⟺
  * the last SYMBOL is left, since symbols never contain SEP). DuckDB
  * replays the identical fold via list_reduce; the s168 twin spells the
  * loop as one linear window chain (see SqlFrontDoor).
  *
  * Per round the driver collects ONE best-pair row and ONE total-symbols
  * scalar (bounded metric collects, ≤ 2·NMerges rows total) — the same
  * driver-loop shape as real distributed BPE trainers, where the merge
  * decision is inherently sequential but each round is a full-parallel
  * pass over the vocabulary.
  *
  * All arithmetic is integer (counts); output is strings + longs — no
  * float drift anywhere in the lane.
  */
object Tokenizer {

  /** One shape object (the PqShape discipline — r18 verdict #7): merge
    * rounds, the word-length guard (HuggingFace WordPiece ships
    * max_input_chars_per_word for the same reason — one pathological
    * token must not dominate the fold), the symbol separator and the
    * end-of-word marker. */
  val NMerges = 12
  val MaxWordLen = 24
  val Sep = "\u001F"
  val Eow = "</w>"

  /** Word-frequency table with initial symbol decomposition:
    * (word, freq, syms) where syms = chars + Eow. Lowercased, letter-runs
    * only (the corpus pre-tokenizer; digits/punct are their own q29
    * classes and contribute nothing to subword learning on this fixture),
    * length-capped. */
  def wordSymbols(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .filter(col("word").rlike("^[a-z]+$") && length(col("word")) <= MaxWordLen)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        concat(
          expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
          array(lit(Eow))).as("syms"))

  /** Adjacent symbol pairs of one row's syms: array of (a, b) structs.
    * Guarded for fully-fused words (|syms| = 1): Spark's sequence(1, 0)
    * DESCENDS ([1, 0] — not empty), and element_at(syms, 0) throws, so a
    * word reduced to one symbol by earlier merges needs the explicit
    * empty-pairs branch (it still carries vocabulary mass, it just has
    * no adjacency left; DuckDB's half-open range(1, 1) = [] agrees). */
  private def pairsExpr: Column =
    expr("CASE WHEN size(syms) >= 2 THEN transform(sequence(1, size(syms) - 1), " +
      "j -> struct(element_at(syms, j) AS a, element_at(syms, CAST(j + 1 AS INT)) AS b)) " +
      "ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) END")

  /** The greedy-left BPE fuse for merge pair (a, b) over an ARBITRARY
    * symbol-array column: fold syms into a SEP-joined string where a
    * matched (last == a, current == b) appends b with NO separator. Init
    * = first symbol (syms always ≥ 2: one char + Eow), exactly
    * list_reduce's seeding, so oracle and lane share one semantics. The
    * column parameter is what lets [[replayMerges]] nest NMerges of these
    * into one row-local expression. */
  private def fuseOn(syms: Column, a: String, b: String): Column =
    aggregate(
      slice(syms, lit(2), size(syms) - 1),
      element_at(syms, 1),
      (acc, x) =>
        when(x === lit(b) && (acc === lit(a) || acc.endsWith(lit(Sep + a))),
          concat(acc, x))
          .otherwise(concat(acc, lit(Sep), x)))

  /** [[fuseOn]] bound to the training loop's `syms` column. */
  private def fuseExpr(a: String, b: String): Column = fuseOn(col("syms"), a, b)

  /** Train NMerges BPE merges over a text corpus. Returns the merge table
    * (rank, left, right, merged, pair_count, merges_applied,
    * symbols_after):
    *  - pair_count — the weighted adjacent-pair count that won the round
    *    (counts OVERLAPPING occurrences: "a a a" contributes 2 to (a,a));
    *  - merges_applied — fusions actually performed (non-overlapping:
    *    the same word contributes 1), measured as the drop in total
    *    symbol mass — the audit that the apply really ran;
    *  - symbols_after — Σ freq·|syms| after the round: the corpus token
    *    count under the vocabulary-so-far, i.e. the compression curve a
    *    tokenizer report plots. */
  def bpeTrain(s: SparkSession, docs: DataFrame): DataFrame = {
    val (merges, vocab) = trainWithVocab(s, docs)
    vocab.unpersist(blocking = false)
    merges
  }

  /** Training plus the FINAL vocabulary table (word, freq, syms) under
    * the learned merges — the apply stage's model artifact (returned
    * PERSISTED; the caller owns the unpersist). */
  def trainWithVocab(s: SparkSession, docs: DataFrame): (DataFrame, DataFrame) = {
    import s.implicits._
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // AQE OFF for the duration of the training loop (r20 optimization,
    // guide §1.2 step 3 — measured, not assumed: Prof q168 7.7 s → 3.3 s
    // steady-state at sf0.1). Rationale: after the one corpus pass, every
    // query in here runs over the VOCAB table — Zipf-bounded, orders of
    // magnitude below corpus scale by construction — so AQE's per-stage
    // materialize-and-replan loop costs 2-3 driver round-trips per merge
    // round and buys nothing (there is no skew to split and nothing
    // corpus-scale to coalesce; the pair groupBy partial-aggregates to
    // one row per distinct pair per partition before its shuffle). The
    // prior value is restored on exit — corpus-scale operators keep the
    // 100 TB safety net. Results are unchanged (AQE never changes
    // semantics), so every gated oracle stays byte-identical.
    //
    // SESSION-SCOPE CAVEAT (r20 ADVICE #4): the toggle flips the SHARED
    // session conf for the duration of the loop, so any query another
    // driver thread runs on the same SparkSession meanwhile would silently
    // execute AQE-off (the AQE-dependent path in the library is
    // writeVectors' coalesce-to-advisory-size file sizing). Safe under the
    // harness's invariant that lanes run strictly sequentially on one
    // session — Bench/Verify/ScanAudit all do — and the library's only
    // intra-lane driver-thread fan-out (Similarity.awaitWrites) never runs
    // concurrently with BPE training. A caller that interleaves queries
    // across threads must give training its own session (s.newSession()
    // shares the context but isolates the conf).
    val aqePrior = s.conf.get("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try trainWithVocabImpl(s, docs, lvl)
    finally s.conf.set("spark.sql.adaptive.enabled", aqePrior)
  }

  private def trainWithVocabImpl(s: SparkSession, docs: DataFrame,
      lvl: org.apache.spark.storage.StorageLevel): (DataFrame, DataFrame) = {
    import s.implicits._
    var cur = wordSymbols(docs).persist(lvl)
    // Per-round driver work is ONE collect: the best pair rides the pair
    // aggregation together with the round's TOTAL pair mass (a window over
    // the small pair table), and symbol mass derives from the identity
    //   Σ freq·|syms|  =  Σ pair-mass + Σ freq
    // (each word contributes |syms|-1 adjacent pairs), so the separate
    // mass aggregation per round disappears — 14 jobs instead of 25 for
    // NMerges = 12. The identity doubles as a per-round self-check: round
    // i's observed pair mass must equal the running mass minus W.
    val init = cur.agg(sum(col("freq") * size(col("syms"))).as("mass"),
      sum(col("freq")).as("w")).first()
    val initMass = init.getLong(0)
    val w = init.getLong(1)
    // best pair + round total in ONE global aggregation (r20 optimization,
    // guide §2.4): the old spelling window-summed `tot` over an EMPTY
    // partitionSpec — WindowExec moves the whole pair table to a single
    // partition and sorts it — and then paid a second global sort for the
    // orderBy().limit(1), BOTH once per merge round (the bench log showed
    // 1,800+ "No Partition Defined" warnings per recording, all from here).
    // min(struct(-cnt, a, b)) is the identical pick (max cnt, then lexi-
    // cographically smallest a, b — struct comparison is field-ordered and
    // Spark string order is the same binary order orderBy used), and sum +
    // min aggregate map-side, so the shuffle after the pair groupBy carries
    // one partial row per partition instead of the full pair table.
    // empty-supply guard (r20 ADVICE #1): a GLOBAL aggregate over zero
    // pair rows returns ONE all-null row where the old orderBy().limit(1)
    // returned zero — filter it out so the loud "pair supply exhausted"
    // require below still fires instead of an opaque NPE at getLong
    def pairStats(v: DataFrame): Array[org.apache.spark.sql.Row] = v
      .select(col("freq"), explode(pairsExpr).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("freq").as("cnt"))
      .agg(min(struct((-col("cnt")).as("negc"), col("a").as("a"),
          col("b").as("b"))).as("best"),
        sum(col("cnt")).as("tot"))
      .select(col("best.a"), col("best.b"), (-col("best.negc")).as("cnt"),
        col("tot"))
      .collect()
      .filterNot(_.isNullAt(0))
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long, Long)] // rank,a,b,merged,cnt,massBefore
    // release discipline: a round's vocab may only unpersist AFTER its
    // child materialized (the pairStats collect of the FOLLOWING round) —
    // unpersisting before that recomputes the whole lineage back to the
    // corpus scan (caught by the r19 scan audit at documents=14)
    var parent: Option[DataFrame] = None
    for (rank <- 1 to NMerges) {
      val bestRows = pairStats(cur) // materializes cur → its parent is now free
      parent.foreach(_.unpersist(blocking = false))
      parent = Some(cur)
      // the lane contract requires a corpus that sustains NMerges rounds
      // (any real corpus does by decades; the oracle's UNION replay has no
      // spelling for a short merge table, so fail loudly, not shorter)
      require(bestRows.nonEmpty,
        s"BPE pair supply exhausted at round $rank of $NMerges")
      val best = bestRows(0)
      val (a, b, cnt, tot) = (best.getString(0), best.getString(1),
        best.getLong(2), best.getLong(3))
      // massBefore(rank) = observed pair mass + W, by the identity; round
      // 1 checks it against the independent init aggregation (later rounds
      // have no second measurement — that's the whole saving)
      val massBefore = tot + w
      if (rank == 1) require(massBefore == initMass,
        s"BPE mass identity broke: pairs $tot + words $w != initial mass $initMass")
      picked += ((rank.toLong, a, b, a + b, cnt, massBefore))
      val next = cur
        .select(col("word"), col("freq"),
          split(fuseExpr(a, b), java.util.regex.Pattern.quote(Sep)).as("syms"))
        .persist(lvl)
      cur = next
    }
    // masses AFTER each round: rounds 1..N-1 read the following round's
    // observed pair totals; round N pays one closing aggregation
    val observedTots = picked.map(_._6).drop(1) // massBefore(i+1) == massAfter(i)
    val lastTotRows = cur
      .select(col("freq"), explode(pairsExpr).as("p"))
      .agg(coalesce(sum("freq"), lit(0L))).collect()
    parent.foreach(_.unpersist(blocking = false)) // final vocab materialized above
    val lastMass = lastTotRows(0).getLong(0) + w
    val massAfter = observedTots.toSeq :+ lastMass
    val merges = picked.toSeq.zip(massAfter).map {
      case ((rank, a, b, m, cnt, massBefore), after) =>
        (rank, a, b, m, cnt, massBefore - after, after)
    }
    (merges.toDF("merge_rank", "lhs", "rhs", "merged", "pair_count",
      "merges_applied", "symbols_after"), cur)
  }

  /** Q168 — BPE tokenizer training over the documents corpus, gated via
    * the PERSISTED merge table: the lane that pays the family's training
    * run and grades the TRAIN leg (the oracle retrains in DuckDB, so
    * parquet round-tripping the merges is part of what's gated — strings
    * and longs round-trip bit-exactly). Deliberately retrains on EVERY
    * call — never [[Artifacts.ensure]] — because this lane's scale drill
    * is where the "merge loop never touches the corpus" claim is
    * measured (r19: ratio 1.08 vs the 12.23 volume bar); a memoized
    * train would reduce the drill to timing a 12-row parquet read. The
    * write still feeds the memo ([[Artifacts.build]]), so q170/q172
    * reuse it. */
  def q168BpeTrain(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(s, dir, "documents")
    val path = Artifacts.path("bpe_tok", dir)
    Artifacts.build(path)(writeTokenizer(s, docs.select(col("text")), path))
    loadTokenizer(s, path)._1.orderBy("merge_rank")
  }

  /** Persist a trained tokenizer as a table artifact — merges (the
    * portable model: rank-ordered pairs any BPE runtime can replay) and
    * the materialized word→symbols vocabulary (the fast path for
    * corpus-internal apply). Strings + longs round-trip parquet
    * bit-exactly, so artifact-served tokenization ≡ inline is an
    * identity, not an approximation — the q157 ANN-artifact discipline
    * applied to the tokenizer model. */
  def writeTokenizer(s: SparkSession, docs: DataFrame, path: String): Unit = {
    val (merges, vocab) = trainWithVocab(s, docs)
    merges.write.mode("overwrite").parquet(path + "/merges")
    vocab.write.mode("overwrite").parquet(path + "/vocab")
    vocab.unpersist(blocking = false)
  }

  /** Load a [[writeTokenizer]] artifact: (merges, vocab). */
  def loadTokenizer(s: SparkSession, path: String): (DataFrame, DataFrame) =
    (s.read.parquet(path + "/merges"), s.read.parquet(path + "/vocab"))

  /** Q172 — tokenizer-as-artifact round trip: train → WRITE the model →
    * LOAD it back → tokenize the corpus FROM THE LOADED ARTIFACT. Output
    * = exactly q170's (the save/load identity — same columns, same
    * integers), gated on the same computed oracle; the s172 twin replays
    * inline (SQL text cannot run the save side effect — the s157
    * precedent), so lane conformance IS the round-trip proof. This is
    * how a tokenizer actually ships to a 1000-executor job: trained
    * once, persisted, broadcast-loaded by every consumer — and since r20
    * the lane family LIVES that sentence: q168/q170/q172 share one
    * training run per (process, SF) through the [[Artifacts]] memo and
    * each gates a different leg (train table / apply / artifact serve) of
    * the same persisted model. Three separate runs of the 12-round
    * training loop cost ~16% of the whole bench suite (r19 verdict
    * What's wrong #3). */
  def q172BpeArtifactTokenize(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(s, dir, "documents")
    val path = Artifacts.path("bpe_tok", dir)
    Artifacts.ensure(path)(writeTokenizer(s, docs.select(col("text")), path))
    val (_, vocab) = loadTokenizer(s, path)
    tokenizeWith(docs, vocab)
  }

  /** Q170 — tokenize the corpus under the learned vocabulary: the APPLY
    * half (train without apply can't budget a data mixture). Per doc:
    * n_words (whitespace tokens), n_conforming (words the pre-tokenizer
    * admits), bpe_tokens (Σ subword count under the final merge state).
    * ONE corpus re-pass + ONE word-keyed join against the vocab table;
    * membership IS the conformance test (the vocabulary was built from
    * this corpus, so a conforming word always hits and a non-conforming
    * word never can — no second regex pass). At 100 TB the vocab side is
    * the Zipf-bounded model artifact: broadcast it when it fits, else a
    * word-keyed shuffle join. Serves from the SHARED per-process artifact
    * ([[Artifacts.ensure]]); the inline [[bpeTokenize]] spelling remains
    * for programmatic callers and is spec-pinned equal. */
  def q170BpeTokenize(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(s, dir, "documents")
    val path = Artifacts.path("bpe_tok", dir)
    Artifacts.ensure(path)(writeTokenizer(s, docs.select(col("text")), path))
    val (_, vocab) = loadTokenizer(s, path)
    tokenizeWith(docs, vocab)
  }

  /** The INLINE operator over any (doc_id, text) frame — train + apply in
    * one lazy plan, no artifact (see [[q170BpeTokenize]] for the
    * artifact-served lane spelling). NOTE (r19 ADVICE): the returned
    * frame's laziness means the persisted vocab CANNOT be unpersisted
    * here — it stays pinned under the plan until the caller materializes
    * and releases it (unpersist or GraftSession.releasePersisted), the
    * same contract as Curation.curate's narrow projection. */
  def bpeTokenize(s: SparkSession, docs: DataFrame): DataFrame = {
    val (_, vocab) = trainWithVocab(s, docs.select(col("text")))
    tokenizeWith(docs, vocab)
  }

  /** The apply tail shared by q170 (inline vocab) and q172 (loaded
    * artifact): one corpus pass left-joined to (word → |syms|). */
  def tokenizeWith(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .join(vocab.select(col("word"), size(col("syms")).cast("long").as("nsym")),
        Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("nsym").isNotNull, 1L).otherwise(0L)).as("n_conforming"),
        coalesce(sum("nsym"), lit(0L)).as("bpe_tokens"))
      .orderBy("doc_id")

  // ------------------------------------------- merge-replay apply (q173)

  /** Merge-REPLAY encode (r19 verdict Next #1 — closes the artifact's
    * out-of-vocabulary gap): segment ANY conforming word, seen in training
    * or not, by decomposing it to chars + [[Eow]] and applying the learned
    * merge table IN RANK ORDER — each merge one greedy-left [[fuseOn]]
    * fold, the same kernel the trainer evolves its vocabulary with. For an
    * in-vocab word this reproduces the trainer's final symbol sequence
    * EXACTLY (induction: the trainer applies the identical fuse sequence
    * to the identical char seed — TokenizerSpec pins the agreement); for
    * an unseen word it produces the segmentation subword-nmt's apply
    * yields when, as here, every created pair is replayed in creation
    * order. (The deliberate, documented divergence from priority-queue
    * apply: HuggingFace re-scans for the LOWEST-rank pair after every
    * fuse; rank-order replay never revisits earlier ranks. The two agree
    * whenever a fuse cannot create an earlier-rank pair — in particular on
    * every in-vocab word, where agreement with the trainer is the property
    * the persisted artifact actually promises.)
    *
    * Input: a (word) frame — call it on DISTINCT words (the Zipf bound:
    * segmentation cost is per distinct word, not per occurrence). The
    * merge list is the 12-row persisted model riding in as expression
    * LITERALS — the same bounded driver-side artifact the trainer already
    * collects one row per round of — so the whole replay is a chain of
    * row-local projections: no join, no shuffle, no state. Each round is
    * its own withColumn REBINDING `syms` (never a nested expression:
    * [[fuseOn]] references its input 3×, so literal nesting would copy
    * the subtree 3^NMerges times and hang the analyzer — the expression-
    * level form of the q164 CTE-inlining lesson; CollapseProject keeps
    * the bound references because the aggregate HOF is not cheap-to-
    * inline). Returns (word, nsym). */
  def replayMerges(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val seeded = words.withColumn("syms", concat(
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
      array(lit(Eow))))
    val replayed = merges.foldLeft(seeded) { case (d, (a, b)) =>
      d.withColumn("syms",
        split(fuseOn(col("syms"), a, b), java.util.regex.Pattern.quote(Sep)))
    }
    replayed.select(col("word"), size(col("syms")).cast("long").as("nsym"))
  }

  /** Encode a corpus the tokenizer never saw: replay-segment every
    * conforming word (in-vocab or not), and audit vocabulary coverage.
    * Output per doc: n_words (whitespace tokens), n_conforming (words the
    * pre-tokenizer admits — all of them now TOKENIZED, the q170 gap this
    * closes), n_oov (conforming words absent from the training vocab —
    * segmented by replay alone), bpe_tokens (Σ replayed subword counts).
    *
    * 100 TB shape: ONE corpus pass — the token explode is persisted
    * (MEMORY_AND_DISK, the Classifier.trainFrames one-scan discipline)
    * because both the distinct-word replay frame and the per-doc
    * occurrence aggregation read it; replay runs over the DISTINCT-word
    * frame (Zipf-bounded) as a row-local expression; the join back to
    * occurrences and the vocab-membership join are word-keyed
    * (broadcast-or-shuffle by size, unhinted). The returned plan is lazy,
    * so the cache stays pinned until the caller's unpersist/
    * releasePersisted sweep (the bpeTokenize contract). */
  def encodeUnseen(docs: DataFrame, vocab: DataFrame,
                   merges: Seq[(String, String)]): DataFrame = {
    val words = docs
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val conforming = words
      .filter(col("word").rlike("^[a-z]+$") && length(col("word")) <= MaxWordLen)
      .select("word").distinct()
    val replayed = replayMerges(conforming, merges)
    val inVocab = vocab.select(col("word"), lit(1L).as("in_vocab"))
    words
      .join(replayed, Seq("word"), "left")
      .join(inVocab, Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("nsym").isNotNull, 1L).otherwise(0L)).as("n_conforming"),
        sum(when(col("nsym").isNotNull && col("in_vocab").isNull, 1L)
          .otherwise(0L)).as("n_oov"),
        coalesce(sum("nsym"), lit(0L)).as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Q173 — the persisted tokenizer serving HELD-OUT text (the artifact's
    * actual deployment: eval sets, a new crawl): train on the doc_id-even
    * HALF of the corpus, persist, load, then merge-replay-encode the odd
    * half from the loaded artifact. Every odd doc is unseen by training;
    * its in-vocab words exercise the replay ≡ vocab agreement, its OOV
    * words exercise the segmentation q170 could not perform at all. The
    * fixture's two halves share one synthetic word pool, so each held-out
    * doc additionally carries an OOV conformance CANARY (the q92 rule —
    * ` oovcanaryz[a-g]`, letters-only so the pre-tokenizer admits it,
    * impossible in the even half by construction) making n_oov non-vacuous
    * at every SF; the oracle replays the injection. The DuckDB oracle
    * retrains the half-corpus model and replays the same rank-ordered
    * fold per held-out word via list_reduce. */
  def q173BpeEncodeUnseen(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(s, dir, "documents")
    val path = Artifacts.path("bpe_tok", dir) + "_half"
    Artifacts.ensure(path)(
      writeTokenizer(s, docs.filter(col("doc_id") % 2 === 0).select(col("text")), path))
    val (merges, vocab) = loadTokenizer(s, path)
    val mergeList = merges.orderBy("merge_rank").select("lhs", "rhs")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val held = docs.filter(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"),
        // concat null-propagates: a NULL text stays NULL and still falls
        // out at encodeUnseen's non-empty filter
        concat(col("text"), lit(" oovcanaryz"),
          expr("substring('abcdefg', CAST(doc_id % 7 + 1 AS INT), 1)")).as("text"))
    encodeUnseen(held, vocab, mergeList)
  }
}
