package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the classifier stage of the modern
  * curation recipes (FineWeb-Edu's educational-value classifier, DCLM's
  * fastText filter): train a text classifier on a LABELED SAMPLE, score
  * the whole corpus, keep what the model likes. The engine's ladder so
  * far filters on hand heuristics (q30/q85 ratios, q116 rarity); this
  * operator adds the learned stage.
  *
  * Spelled as multinomial Naive Bayes with Laplace smoothing, because NB
  * training IS one aggregation pass — per-token class counts — which
  * makes the whole model exactly replayable in SQL (the DuckDB oracle
  * retrains it), where a fastText/LR loop would be a gradient black box.
  * At 100 TB the shapes are identical: one pass over the labeled sample
  * builds the model (vocab-sized, Zipf-bounded), one token-keyed join
  * scores the corpus.
  *
  * Weak supervision: the labeled sample is `doc_id % 10 < 3` (the
  * deterministic 30% — stands in for the human/LLM-annotated subset) and
  * its label is the house heuristic gate (alpha-ratio ≥ 0.45, the q85/
  * curate quality signal). The spec's learnability check trains on a
  * SEPARABLE constructed corpus and requires held-out recovery, so the
  * mechanism is tested independently of this fixture labeling.
  *
  * Float discipline: every per-token log-odds is quantized to integer
  * MICRO-NATS (round(ln·1e6) — the q115 ln-determinism argument: both
  * engines' ln agree to < 1 ulp, and a 1-ulp flip at a .5 micro-nat
  * boundary needs the true value within ~1e-10 of the grid), then summed
  * EXACTLY as BIGINTs, so the keep decision (score > 0) is an integer
  * compare — no float accumulation order anywhere.
  */
object Classifier {

  /** Labeled-sample modulus: doc_id % TrainMod < TrainKeep is train. */
  val TrainMod = 10
  val TrainKeep = 3
  /** The weak-supervision label threshold (the q85/curate alpha gate). */
  val MinAlphaRatio = 0.45

  /** Q169 — Naive-Bayes quality classifier: train on the 30% sample with
    * heuristic labels, score EVERY document. Output per doc:
    * (doc_id, is_train, heur_label, n_tokens, score_micronats, pred) —
    * heur_label beside pred makes train/held-out agreement a downstream
    * GROUP BY, and score_micronats is the exact integer posterior
    * log-odds. */
  def q169QualityClassifier(s: SparkSession, dir: String): DataFrame =
    nbQualityClassifier(graft.Tables(s, dir, "documents"))

  /** The trained model as a driver-side artifact: per-token micro-nat
    * log-odds, the out-of-vocabulary constant, the prior term. The
    * broadcast-model shape `semDedupStream` already uses for centroids —
    * vocab-sized (Zipf-bounded), which is exactly what makes NB/fastText
    * filters deployable at ingest. */
  case class NbModel(loq: Map[String, Long], oovLoq: Long, priorQ: Long)

  /** Train the q169 model and collect it (the streaming scorer's input).
    * Every constant is computed by the SAME Spark expressions the batch
    * lane uses, so stream scores equal batch scores integer-for-integer.
    * Releases its training caches before returning (r19 verdict hygiene
    * #4) — the collected NbModel is self-contained. */
  def trainModel(input: DataFrame): NbModel = {
    val f = trainFrames(input)
    val loRows = f.lo.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val consts = f.scalars.select(
      loMicro(lit(0.0), lit(0.0)).as("oov"),
      round((log(col("dpos") + lit(1.0)) - log(col("dneg") + lit(1.0))) * lit(1e6))
        .cast("long").as("prior")).first()
    f.release()
    NbModel(loRows, consts.getLong(0), consts.getLong(1))
  }

  // ------------------------------------------- model artifact (q174)

  /** Persist a trained quality model as a TABLE artifact — the per-token
    * micro-nat log-odds table plus the 1-row scalars frame (class masses,
    * vocab size, doc priors). Longs and strings round-trip parquet
    * bit-exactly, so artifact-served scoring ≡ inline is an identity —
    * the q172/q157 write→load→serve discipline applied to the classifier
    * (r19 verdict Next #3: "train once, score every ingest" needs the
    * model to OUTLIVE the training session). Training caches are released
    * here: the write is the materializing action, so nothing lazy still
    * needs them (the trainFrames hygiene note). */
  def writeModel(s: SparkSession, input: DataFrame, path: String): Unit = {
    val f = trainFrames(input)
    f.lo.write.mode("overwrite").parquet(path + "/log_odds")
    f.scalars.write.mode("overwrite").parquet(path + "/scalars")
    f.release()
  }

  /** Load a [[writeModel]] artifact: (log-odds table, scalars row). */
  def loadModelFrames(s: SparkSession, path: String): (DataFrame, DataFrame) =
    (s.read.parquet(path + "/log_odds"), s.read.parquet(path + "/scalars"))

  /** Load a [[writeModel]] artifact into the driver-side [[NbModel]] the
    * streaming scorer consumes — the ingest-deploy path: train offline,
    * persist, and every stream job broadcast-loads the frozen model
    * (vocab-sized, the Zipf bound). */
  def loadModel(s: SparkSession, path: String): NbModel = {
    val (lo, scalars) = loadModelFrames(s, path)
    val loRows = lo.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val consts = scalars.select(
      loMicro(lit(0.0), lit(0.0)).as("oov"),
      round((log(col("dpos") + lit(1.0)) - log(col("dneg") + lit(1.0))) * lit(1e6))
        .cast("long").as("prior")).first()
    NbModel(loRows, consts.getLong(0), consts.getLong(1))
  }

  /** Score any (doc_id, text) corpus from LOADED model frames — the
    * artifact-serve tail: ONE corpus scan (attrs ride the token explode,
    * first()-folded back out of the aggregation), a token-keyed left join
    * to the log-odds table (broadcast-or-shuffle by size, unhinted), the
    * 1-row scalars broadcast twice (OOV constant inside the sum, prior
    * after it). Output ≡ [[nbQualityClassifier]] row-for-row. */
  def scoreWith(docs: DataFrame, lo: DataFrame, scalars: DataFrame): DataFrame = {
    val sc = broadcast(scalars)
    val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
      .cast("double") / length(col("text"))
    // two-step spelling (the trainFrames shape, r21 optimization): an
    // inline `select(attrs..., explode(...))` analyzes to Project ABOVE
    // Generate, so the alpha-ratio regexp over the FULL doc text was
    // re-evaluated once per TOKEN (O(len · n_tokens) per doc) and `text`
    // rode through every token row. A separate attrs projection keeps the
    // regexp below the Generate — once per doc — and drops text from the
    // per-token rows. Same rows, same integers.
    val base = docs
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        (col("doc_id") % TrainMod < TrainKeep).as("is_train"),
        when(alpha >= MinAlphaRatio, 1L).otherwise(0L).as("heur_label"),
        col("text"))
    val toks = base.select(col("doc_id"), col("is_train"), col("heur_label"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
    toks.join(lo, Seq("tok"), "left")
      .crossJoin(sc)
      .select(col("doc_id"), col("is_train"), col("heur_label"),
        coalesce(col("loq"), loMicro(lit(0.0), lit(0.0))).as("contrib"))
      .groupBy("doc_id")
      .agg(first("is_train").as("is_train"),
        first("heur_label").as("heur_label"),
        count(lit(1)).as("n_tokens"), sum("contrib").as("tok_score"))
      .crossJoin(sc)
      .select(col("doc_id"), col("is_train"), col("heur_label"), col("n_tokens"),
        (col("tok_score") +
          round((log(col("dpos") + lit(1.0)) - log(col("dneg") + lit(1.0))) * lit(1e6))
            .cast("long")).as("score_micronats"))
      .withColumn("pred", when(col("score_micronats") > 0, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  /** Q174 — quality-model-as-artifact round trip: train → WRITE the model
    * → LOAD it back → score the whole corpus FROM THE LOADED ARTIFACT.
    * Output = exactly q169's (same columns, same integers), gated on the
    * same computed retrain oracle; the s174 twin replays inline (SQL text
    * cannot run the save side effect — the s157/s172 precedent), so lane
    * conformance IS the round-trip proof. Training is deterministic in
    * the corpus, so the lane's cold and warm passes re-serve one trained
    * model per (process, SF) through the [[Artifacts]] memo. */
  def q174NbModelArtifact(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(s, dir, "documents")
    val path = Artifacts.path("nb_model", dir)
    Artifacts.ensure(path)(writeModel(s, docs, path))
    val (lo, scalars) = loadModelFrames(s, path)
    scoreWith(docs, lo, scalars)
  }

  /** The operator proper, over any (doc_id, text) frame — see [[q169QualityClassifier]]. */
  def nbQualityClassifier(input: DataFrame): DataFrame = {
    val f = trainFrames(input)
    // ---- score the WHOLE corpus: token-keyed left join to the model
    val scored = f.toks
      .join(f.lo, Seq("tok"), "left")
      .crossJoin(f.scalars)
      .select(col("doc_id"),
        coalesce(col("loq"), loMicro(lit(0.0), lit(0.0))).as("contrib"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("contrib").as("tok_score"))
    f.docAttrs
      .join(scored, Seq("doc_id"))
      .crossJoin(f.scalars)
      .select(col("doc_id"), col("is_train"), col("heur_label"), col("n_tokens"),
        // class priors with +1 smoothing — a one-sided labeled sample
        // (every seed doc passing, or failing, the heuristic) must yield
        // a finite prior, not ln(0)
        (col("tok_score") +
          round((log(col("dpos") + lit(1.0)) - log(col("dneg") + lit(1.0))) * lit(1e6))
            .cast("long")).as("score_micronats"))
      .withColumn("pred", when(col("score_micronats") > 0, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  /** Per-token integer micro-nat log-odds under Laplace smoothing; the
    * SAME formula with cp = cn = 0 is the out-of-vocabulary constant.
    * Expects np/nn/v in scope (the scalars frame). */
  private def loMicro(cp: org.apache.spark.sql.Column,
                      cn: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round((log(cp + lit(1.0)) - log(cn + lit(1.0))
      - log(col("np") + col("v")) + log(col("nn") + col("v"))) * lit(1e6))
      .cast("long")

  /** `release` unpersists the training caches (toks explode + counts) —
    * callable only AFTER a materializing action consumed them (collect or
    * artifact write); [[nbQualityClassifier]]'s returned LAZY plan still
    * references the caches, so the inline lane instead relies on the
    * caller's unpersist/releasePersisted sweep (the bpeTokenize note). */
  private case class NbFrames(toks: DataFrame, docAttrs: DataFrame,
                              lo: DataFrame, scalars: DataFrame,
                              release: () => Unit)

  /** The shared train pipeline: ONE corpus scan into a persisted token
    * explode; counts, scalars and the log-odds table derive from its
    * cache. */
  private def trainFrames(input: DataFrame): NbFrames = {
    val docs = input
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
    val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
      .cast("double") / length(col("text"))
    val base = docs.select(col("doc_id"),
      (col("doc_id") % TrainMod < TrainKeep).as("is_train"),
      when(alpha >= MinAlphaRatio, 1L).otherwise(0L).as("heur_label"),
      col("text"))
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // multinomial features: every lowercase whitespace-token OCCURRENCE.
    // This persisted explode is the ONE corpus scan — priors and the
    // final per-doc attributes re-derive from its cache (a non-empty doc
    // always has ≥ 1 token, so distinct doc_ids here ARE the base set),
    // instead of re-reading documents three more times (r19 scan gate).
    val toks = base.select(col("doc_id"), col("is_train"), col("heur_label"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .persist(lvl)
    val docAttrs = toks.select("doc_id", "is_train", "heur_label").distinct()
    // ---- train: per-token class counts over the labeled sample only
    val trainToks = toks.filter(col("is_train"))
    val counts = trainToks.groupBy("tok").agg(
      sum(when(col("heur_label") === 1, 1L).otherwise(0L)).as("cp"),
      sum(when(col("heur_label") === 0, 1L).otherwise(0L)).as("cn"))
      .persist(lvl)
    // model scalars: class token masses, vocab size, class doc priors —
    // one broadcast row (the house 1-row-metric crossJoin shape)
    val masses = counts.agg(
      sum("cp").as("np"), sum("cn").as("nn"),
      count(lit(1)).cast("long").as("v"))
    val priors = docAttrs.filter(col("is_train")).agg(
      sum(when(col("heur_label") === 1, 1L).otherwise(0L)).as("dpos"),
      sum(when(col("heur_label") === 0, 1L).otherwise(0L)).as("dneg"))
    val scalars = broadcast(masses.crossJoin(priors))
    val lo = counts.crossJoin(scalars)
      .select(col("tok"), loMicro(col("cp"), col("cn")).as("loq"))
    NbFrames(toks, docAttrs, lo, scalars, () => {
      toks.unpersist(blocking = false)
      counts.unpersist(blocking = false): Unit
    })
  }
}
