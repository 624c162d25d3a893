package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Event-time streaming operators (SURVEY §2.3.9) — the watermark/window/
  * session/stateful surface the north star requires on top of the
  * reference's plain poll-insert loop (AvroConsumer.java:116-138 has no
  * event-time semantics at all; every windowing op here is new capability).
  *
  * All operators take and return streaming DataFrames so they compose with
  * the pipeline layer (ConfluentAvro.decodeAuto upstream, the txn sink
  * downstream). Each is a thin declarative wrapper over Structured
  * Streaming built-ins — state lives in the checkpointed state store, which
  * scales horizontally with shuffle partitions (state is hash-partitioned
  * by group key). The arbitrary-state operators run on `transformWithState`,
  * which requires the RocksDB state store provider; [[graft.GraftSession.builder]]
  * sets it, so a builder session runs every operator here as is.
  */
object StreamOps {

  /** Tumbling event-time window aggregation with late-data drop.
    * @param tsCol      TimestampType column (epoch-nanos longs from the test
    *                   data convert via `nanosToTimestamp`)
    * @param watermark  e.g. "10 minutes" — rows later than max(ts)-watermark
    *                   are dropped, bounding state (SURVEY §2.3.9 late data)
    */
  def tumblingAgg(df: DataFrame, tsCol: String, watermark: String, width: String,
                  keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Sliding (overlapping) windows: width + slide. */
  def slidingAgg(df: DataFrame, tsCol: String, watermark: String, width: String,
                 slide: String, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width, slide) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Session windows — gap-based grouping, closes when no event for `gap`. */
  def sessionAgg(df: DataFrame, tsCol: String, watermark: String, gap: String,
                 keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Streaming exact dedup: first-writer-wins on `keys`, state expired past
    * the watermark (dedup extension, SURVEY §2.3.9 stateful ops). */
  def dedup(df: DataFrame, tsCol: String, watermark: String, keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicates(keys :+ tsCol)

  /** Dedup where two rows with the same keys but different timestamps are
    * still dupes (id-based): dropDuplicatesWithinWatermark keeps state only
    * for the watermark horizon — the 100 TB-safe variant. */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, watermark: String,
                           keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming CONTENT dedup: the ingest-time twin of the batch exact-dedup
    * path (Dedup.dropExactDuplicates) — first occurrence of each content
    * fingerprint passes, later copies are dropped, state bounded by the
    * watermark horizon. The state key is the 16-byte binary md5 (unhex'd),
    * not the document text, so the store holds 16 bytes + key overhead per
    * distinct doc in the horizon — never the corpus. NULL-text rows pass
    * through un-deduped (a NULL fingerprint is not a dup claim — the same
    * contract as the batch q79 oracle), and the output schema equals the
    * input schema (the fingerprint column is internal).
    *
    * The NULL pass-through is a second branch over the same input, and
    * Catalyst does not prune it in a micro-batch even when it can hold no
    * row: it keeps a second full scan (and decode) of each batch. So the
    * branch exists only when `textCol` is nullable (MemoryStream, permissive
    * decode, a raw file source); over strict `decodeAuto` output, which is
    * non-nullable, each batch is read once. */
  def dedupByContent(df: DataFrame, tsCol: String, watermark: String,
                     textCol: String = "text"): DataFrame = {
    val deduped = df.filter(col(textCol).isNotNull)
      .withColumn("__fp", unhex(md5(col(textCol))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("__fp"))
      .drop("__fp")
    if (df.schema(textCol).nullable) deduped.unionByName(df.filter(col(textCol).isNull))
    else deduped
  }

  /** Streaming NB quality scoring — the ingest-time twin of the batch
    * q169 model-based filter (Classifier.nbQualityClassifier): score
    * every arriving document against a FROZEN classifier, the way a
    * crawl pipeline actually deploys its fastText/NB quality model
    * (train offline on the labeled sample, filter online at ingest).
    *
    * The model rides in as a driver-side artifact
    * ([[graft.operators.Classifier.NbModel]] — per-token integer
    * micro-nat log-odds + OOV constant + prior; vocab-sized, the
    * Zipf-bounded broadcast the semDedupStream centroids already
    * established), so scoring is STATELESS and row-local: no state
    * store, no shuffle, no watermark — each doc scores inside the
    * micro-batch it arrives in, and the operator composes with any
    * downstream dedup/curation stage.
    *
    * Parity contract (spec-pinned): tokenization replicates the batch
    * lane's SQL exactly — space-only trim (SQL `trim` strips U+0020
    * only, NOT Java trim's ≤U+0020), `\s+` split with limit -1 (Spark's
    * split keeps trailing empties; Java's default drops them), ROOT
    * lowercase — and every arithmetic step is the same integer sum, so
    * stream scores equal batch scores integer-for-integer.
    *
    * Locale caveat (r19 ADVICE): the ROOT lowercase here matches Spark's
    * `lower()` bit-for-bit on ASCII (UTF8String's fast path is
    * locale-free), but Spark's slow path for non-ASCII strings lowercases
    * under the JVM DEFAULT locale — on e.g. a tr_TR-default JVM, batch
    * and stream can case-fold dotted/dotless I differently. The parity
    * contract is therefore exact for ASCII corpora unconditionally, and
    * for non-ASCII corpora only on a ROOT/en-default JVM (the fixtures,
    * the harness, and any sanely-configured cluster; pinning
    * -Duser.language at deploy is the production guard — flipping
    * Locale.setDefault in library code is NOT safe, see HostLoad's
    * Derby note). */
  def nbScoreStream(ds: Dataset[DocRecord],
                    model: graft.operators.Classifier.NbModel): DataFrame = {
    val s = ds.sparkSession
    import s.implicits._
    ds.filter((d: DocRecord) => d.text != null &&
        d.text.exists(_ != ' ') && d.text.nonEmpty)
      .map { d =>
        // index-based U+0020-only trim (the SQL `trim` contract) — the old
        // dropWhile + double-reverse spelling copied the string three
        // times per doc (r21, guide §1.2)
        var b = 0; var e = d.text.length
        while (b < e && d.text.charAt(b) == ' ') b += 1
        while (e > b && d.text.charAt(e - 1) == ' ') e -= 1
        val trimmed = d.text.substring(b, e)
        val toks = trimmed.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
        val score = model.priorQ +
          toks.iterator.map(t => model.loq.getOrElse(t, model.oovLoq)).sum
        (d.doc_id, toks.length.toLong, score, if (score > 0) 1L else 0L)
      }
      .toDF("doc_id", "n_tokens", "score_micronats", "pred")
  }

  /** Streaming SemDeDup — the ingest-time twin of the batch q152 lane
    * (Dedup.q152SemDedup): online embedding near-dup detection against a
    * FROZEN centroid index, the shape a 100 TB crawl pipeline actually
    * runs (train the coarse quantizer offline, then stream the corpus
    * through it; FAISS/Milvus online-insert does exactly this).
    *
    * Stateless prefix per record: cast float→double, argmax-cosine assign
    * against the centroid list (the BestCentroid contract — strict `>`
    * over ascending cent_id, fused index-order cosine, all-NaN → -1),
    * unit-normalize with the 0.0-seeded index-order norm fold. Stateful
    * stage keyed by cluster: each arriving vector is compared (pure
    * index-order dot — cosine of unit vectors, the q152 kernel spelling)
    * against the cached first-`cap` members; `dup_of` = lowest matching
    * cached id at ROUND(dot,4) ≥ tau, and the vector joins the cache only
    * while it has room. Arrivals past the cap get a (−1, false) verdict
    * without scanning — exactly the batch rank-cap semantics.
    *
    * Parity contract (spec-pinned): with in-order-by-vec_id delivery the
    * arrival rank equals q152's `mrk` rank, so the emitted verdicts equal
    * the batch lane's rows EXACTLY (same doubles, same rounding, same
    * min-id survivor rule). Out-of-order delivery degrades gracefully to
    * first-arrival-wins — the verdicts stay internally consistent, they
    * just pin to arrival order instead of id order. Within one
    * micro-batch the group's rows are processed in vec_id order, so
    * batch-boundary placement never changes a verdict.
    *
    * State is bounded by construction ([[SemClusterState]]), needs no
    * timeout to stay bounded, and lives in the checkpointed RocksDB store
    * (a `transformWithState` named value per cluster). Clusters are the
    * state keys, so the pair stage parallelizes across the shuffle exactly
    * like the batch self-join. */
  def semDedupStream(ds: Dataset[EmbRecord], centroids: Seq[(Long, Array[Double])],
                     cap: Int, tau: Double): Dataset[SemVerdict] = {
    import ds.sparkSession.implicits._
    val cents = centroids.sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def dotp(a: Seq[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var d = 0.0; var i = 0
      while (i < n) { d += a(i) * b(i); i += 1 }
      d
    }
    def r4(x: Double): Double = // Spark round(c, 4): HALF_UP on the decimal repr;
      // NaN passes through instead of BigDecimal.valueOf throwing on a zero
      // vector; the dup check below treats NaN as ABOVE tau because that is
      // what the batch lane and the DuckDB oracle both do (SQL comparison
      // semantics order NaN greater than any double), so the PAIRWISE dup
      // comparison agrees in all three spellings (r15 ADVICE #1). The parity
      // claim is scoped to that comparison: CLUSTER ASSIGNMENT of a NaN-sim
      // vector among normal ones still diverges (Scala `NaN > -Inf` is
      // false → cluster -1 here, while the batch ORDER BY sim DESC ranks
      // NaN first and assigns a real cluster) — only the all-degenerate
      // case is spec-pinned; mixed degenerate/normal keeps that residual
      // divergence (r16 ADVICE #2).
      if (x.isNaN) x
      else java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    def geTau(sim: Double, tau: Double): Boolean = sim.isNaN || sim >= tau
    val proc = new StatefulProcessor[Long, (Long, Long, Seq[Double]), SemVerdict] {
      @transient private var st: ValueState[SemClusterState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[SemClusterState]("members",
          Encoders.product[SemClusterState], TTLConfig.NONE)
      override def handleInputRows(cluster: Long,
          rows: Iterator[(Long, Long, Seq[Double])],
          tv: TimerValues): Iterator[SemVerdict] = {
        val prev = if (st.exists()) st.get()
          else SemClusterState(Vector.empty, Vector.empty)
        var ids = prev.ids.toVector
        var vecs = prev.vecs.map(_.toArray).toVector
        val out = rows.toSeq.sortBy(_._1).map { case (vid, _, vn) =>
          if (ids.size < cap) {
            var dupOf = -1L
            var i = 0
            while (i < ids.size) {
              if (geTau(r4(dotp(vn, vecs(i))), tau) && (dupOf == -1L || ids(i) < dupOf))
                dupOf = ids(i)
              i += 1
            }
            ids :+= vid; vecs :+= vn.toArray
            SemVerdict(vid, cluster, dupOf, dupOf != -1L)
          } else SemVerdict(vid, cluster, -1L, is_dup = false)
        }
        st.update(SemClusterState(ids, vecs.map(_.toSeq)))
        out.iterator
      }
    }
    ds.map { r =>
      val v = r.embedding.map(_.toDouble).toArray
      var bid = -1L; var bs = Double.NegativeInfinity
      cents.foreach { case (cid, cv) =>
        val s = cos(v, cv); if (s > bs) { bs = s; bid = cid }
      }
      var n2 = 0.0; var i = 0
      while (i < v.length) { n2 += v(i) * v(i); i += 1 }
      val nrm = math.sqrt(n2)
      (r.vec_id, bid, v.map(_ / nrm).toSeq)
    }.groupByKey(_._2)
      .transformWithState(proc, TimeMode.None(), OutputMode.Append())
  }

  /** Streaming MinHash near-dup ingest — the q50 twin (r16 verdict #3),
    * completing the streaming mirror of the batch dedup ladder
    * (dedupByContent mirrors exact dedup, [[semDedupStream]] mirrors q152,
    * this mirrors the LSH→Jaccard pipeline).
    *
    * Stateless prefix per document ([[StreamMinhash.signature]] — the
    * MinhashSig kernel's math re-spelled record-at-a-time, bit-parity
    * pinned in StreamingSpec): 3-word shingles → base hash → 16 universal
    * min-hashes → 4 losslessly-packed band signatures. Each doc fans out
    * to its 4 band records; state is keyed by the LSH BUCKET
    * (band, sig1, sig2) — exactly the batch join key — and holds the
    * first-`bucketCap` members' (id, distinct word-HASH set). An arriving
    * doc is verified by EXACT Jaccard against every held member of its
    * bucket (the batch confirm stage, same ROUND-half-up-4 spelling, same
    * ≥ threshold cut); confirmed pairs emit as (min id, max id, jaccard)
    * and a downstream streaming dropDuplicates collapses the cross-band
    * repeats the batch pipeline's candidate `distinct()` removes.
    *
    * State holds 64-bit word hashes ([[StreamMinhash.wordHash]]), not the
    * words (r17 verdict #4): Jaccard is a pure set statistic, so computing
    * it over hashed sets gives identical verdicts whenever the hash is
    * injective on the compared documents' vocabulary — at FNV-1a-64 width
    * a collision inside a compared pair's union (~10³ words) has
    * probability ~10⁻¹³, and the hashes never leave the operator (output
    * pairs carry ids + jaccard only). The footprint drops from
    * per-member word strings to 8 bytes/word — StreamingSpec measures the
    * reduction on the fixture corpus — which at real document sizes is the
    * difference between megabytes and tens of KB per hot bucket.
    *
    * Parity contract (spec-pinned): with in-order-by-doc_id delivery and
    * buckets under the cap, the emitted pair set EQUALS batch
    * `Dedup.confirmedNearDups` — same ids, same jaccard doubles.
    * Divergence at the cap is the streaming trade, documented here: the
    * batch drops an over-cap bucket's pairs RETROACTIVELY (its members
    * are exact-dup fodder the cheaper md5 pass collapses); a stream
    * cannot unemit, so members past the cap are neither compared nor
    * cached (the [[semDedupStream]] admission shape) while the first
    * cap members' pairs stand.
    *
    * State is bounded by construction: ≤ bucketCap · 8·(2 + |word set|)
    * bytes per bucket regardless of stream length, in the checkpointed
    * store (RocksDB at scale — required by the transformWithState API
    * this runs on). The pair-dedup stage keeps one (id1, id2) key per
    * emitted pair — unbounded on an endless stream; when the input
    * carries event time, use [[neardupStreamWithinWatermark]], whose
    * pair dedup expires with the watermark. Buckets are the state keys,
    * so verification parallelizes across the shuffle exactly like the
    * batch bucket join. */
  def neardupStream(ds: Dataset[DocRecord], threshold: Double = 0.6,
      bucketCap: Int = graft.operators.Dedup.MinhashBucketCap): Dataset[NearDupPair] = {
    import ds.sparkSession.implicits._
    neardupPairs(ds.map(d => TimedDocRecord(d.doc_id, d.text, 0L)), threshold, bucketCap)
      .dropDuplicates("id1", "id2")
      .select(col("id1"), col("id2"), col("jaccard"))
      .as[NearDupPair]
  }

  /** [[neardupStream]] for event-timed ingest (r17 ADVICE #4 — the
    * [[dedupByContent]] shape): the cross-band pair dedup runs as
    * `dropDuplicatesWithinWatermark`, so its state expires `watermark`
    * past each pair's event time instead of growing one row per distinct
    * pair forever. A pair's event time is the LATER member's `tsUs` —
    * deterministic across the bands that re-emit it (both emissions carry
    * the same two members), so the within-watermark dedup always sees the
    * duplicates at one timestamp. Bucket-member state is unchanged
    * (bounded by construction); only the pair-dedup state gains the TTL. */
  def neardupStreamWithinWatermark(ds: Dataset[TimedDocRecord], watermark: String,
      threshold: Double = 0.6,
      bucketCap: Int = graft.operators.Dedup.MinhashBucketCap): Dataset[NearDupPair] = {
    import ds.sparkSession.implicits._
    neardupPairs(ds, threshold, bucketCap)
      .withColumn("ts", timestamp_micros(col("tsUs")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("id1", "id2")
      .select(col("id1"), col("id2"), col("jaccard"))
      .as[NearDupPair]
  }

  /** Shared core of the two near-dup ingest spellings: band fan-out →
    * bucket-keyed transformWithState → confirmed pairs WITH the cross-band
    * repeats still present (callers own the dedup discipline). */
  private def neardupPairs(ds: Dataset[TimedDocRecord], threshold: Double,
      bucketCap: Int): Dataset[NearDupPairT] = {
    import ds.sparkSession.implicits._
    val k = graft.operators.Dedup.ShingleWords
    val nBands = graft.operators.Dedup.MinHashK / graft.operators.Dedup.BandRows
    val banded = ds.flatMap { d =>
      val words =
        if (d.text == null) Array.empty[String] else d.text.trim.split("\\s+")
      if (words.length < k) Iterator.empty
      else {
        val mh = StreamMinhash.signature(words)
        val wset = {
          val s = scala.collection.mutable.HashSet.empty[Long]
          words.foreach(w => s += StreamMinhash.wordHash(w))
          s.toSeq.sorted
        }
        (0 until nBands).iterator.map { b =>
          BandRecord(b,
            mh(b * 4) * StreamMinhash.PackBase + mh(b * 4 + 1),
            mh(b * 4 + 2) * StreamMinhash.PackBase + mh(b * 4 + 3),
            d.doc_id, d.tsUs, wset)
        }
      }
    }
    def r4(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val proc = new StatefulProcessor[(Int, Long, Long), BandRecord, NearDupPairT] {
      @transient private var st: ValueState[BucketMembers] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[BucketMembers]("members",
          Encoders.product[BucketMembers], TTLConfig.NONE)
      override def handleInputRows(key: (Int, Long, Long), rows: Iterator[BandRecord],
                                   tv: TimerValues): Iterator[NearDupPairT] = {
        val prev =
          if (st.exists()) st.get()
          else BucketMembers(Vector.empty, Vector.empty, Vector.empty)
        var ids = prev.ids.toVector
        var tss = prev.ts.toVector
        // members stay in their STORED form (sorted distinct hash seqs —
        // both the state rows and arriving r.wh are built that way), and
        // only the ARRIVING record materializes a probe HashSet: the old
        // spelling re-built a Set per stored member on every read AND
        // re-sorted every member's seq on every write — O(m·w log w) per
        // arriving band record for byte-identical stored state (r21
        // optimization, guide §1.2 per-task work). `whs(i).count(ws.
        // contains)` equals the old set-set intersection count because
        // stored seqs are distinct by construction.
        var whs = prev.wh.toVector
        // in-order contract: within a micro-batch the bucket's arrivals
        // process in doc_id order, so batch-boundary placement never
        // changes which pairs confirm
        val out = rows.toSeq.sortBy(_.doc_id).flatMap { r =>
          if (ids.size >= bucketCap) Iterator.empty
          else {
            val ws = r.wh.toSet
            val pairs = ids.indices.iterator.flatMap { i =>
              val inter = whs(i).count(ws.contains)
              val j = r4(inter.toDouble / (whs(i).size + ws.size - inter))
              if (j >= threshold && ids(i) != r.doc_id)
                Iterator.single(NearDupPairT(
                  math.min(ids(i), r.doc_id), math.max(ids(i), r.doc_id), j,
                  math.max(tss(i), r.tsUs)))
              else Iterator.empty
            }.toVector
            ids :+= r.doc_id; tss :+= r.tsUs; whs :+= r.wh
            pairs
          }
        }
        st.update(BucketMembers(ids, tss, whs))
        out.iterator
      }
    }
    banded.groupByKey(r => (r.band, r.sig1, r.sig2))
      .transformWithState(proc, TimeMode.None(), OutputMode.Append())
  }

  /** `ttl` → the state variable's TTL and the query's time mode. Spark
    * accepts a state TTL only in processing-time mode (a TTLConfig with
    * TimeMode.None fails at query start — r16 ADVICE #1), so the mode
    * follows the option; no TTL keeps the timer-free TimeMode.None plan. */
  private def ttlMode(ttl: Option[java.time.Duration]): (TTLConfig, TimeMode) =
    ttl match {
      case Some(d) => (TTLConfig(d), TimeMode.ProcessingTime())
      case None => (TTLConfig.NONE, TimeMode.None())
    }

  /** Per-key running aggregate via explicit state — the Spark-native shape
    * of the reference's in-memory offset map (AvroConsumer.java:168: state
    * keyed by partition, advanced per record, externalized periodically).
    * Emits (key, runningCount, runningSum) every update. State is one
    * `transformWithState` named value per key on the RocksDB store.
    *
    * @param ttl e.g. Some(Duration.ofHours(1)): state for keys idle that
    *   long is dropped. At 100 TB the key space is unbounded — without a TTL
    *   the state store grows forever; with it, state size tracks the ACTIVE
    *   key set. None keeps reference semantics (offsets never expire).
    *   A TTL switches the query to processing-time mode, under which the
    *   engine keeps scheduling timer micro-batches to expire state: run a
    *   TTL'd query with a real `Trigger.ProcessingTime(interval)` (a
    *   default/0 ms trigger busy-loops empty batches, and
    *   `processAllAvailable` never settles — measured in StreamingSpec's
    *   TTL test, which polls instead). The same holds for every `ttl` in
    *   this object. */
  def runningPerKey(ds: Dataset[KeyedEvent],
                    ttl: Option[java.time.Duration] = None): Dataset[KeyRunning] = {
    import ds.sparkSession.implicits._
    val (ttlConf, timeMode) = ttlMode(ttl)
    val proc = new StatefulProcessor[String, KeyedEvent, KeyRunning] {
      @transient private var st: ValueState[KeyRunning] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[KeyRunning]("running",
          Encoders.product[KeyRunning], ttlConf)
      override def handleInputRows(key: String, rows: Iterator[KeyedEvent],
                                   tv: TimerValues): Iterator[KeyRunning] = {
        val prev = if (st.exists()) st.get() else KeyRunning(key, 0L, 0.0)
        var cnt = prev.count
        var sum = prev.sum
        rows.foreach { e => cnt += 1; sum += e.value }
        val next = KeyRunning(key, cnt, sum)
        st.update(next)
        Iterator.single(next)
      }
    }
    ds.groupByKey(_.key)
      .transformWithState(proc, timeMode, OutputMode.Update())
  }

  /** Per-key admission cap — the streaming twin of the batch quota cap
    * (operators.TextAnalysis.quotaCap): admit at most `k` events per key
    * over the stream's lifetime, drop the rest. State is ONE long per key.
    * Where the batch op selects survivors by deterministic hash rank
    * (order-independent, needs the whole group), a stream must decide at
    * arrival — so the streaming contract is first-k-by-arrival, the
    * admission-control shape of a per-source ingest throttle. Within a
    * micro-batch, events are admitted in (event time, value) order.
    *
    * `ttl` drops the admitted count of keys idle that long, bounding state
    * to the active key set (processing-time mode, see [[runningPerKey]]). */
  def admitPerKey(ds: Dataset[KeyedEvent], k: Long,
                  ttl: Option[java.time.Duration] = None): Dataset[KeyedEvent] = {
    import ds.sparkSession.implicits._
    val (ttlConf, timeMode) = ttlMode(ttl)
    val proc = new StatefulProcessor[String, KeyedEvent, KeyedEvent] {
      @transient private var st: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[Long]("admitted", Encoders.scalaLong, ttlConf)
      override def handleInputRows(key: String, rows: Iterator[KeyedEvent],
                                   tv: TimerValues): Iterator[KeyedEvent] = {
        val admitted = if (st.exists()) st.get() else 0L
        // within a batch, admit in event-time order (ties by value) so
        // the micro-batch boundary doesn't make admission arbitrary;
        // clamp before the Int conversion: a Long cap > Int.MaxValue must
        // saturate, not wrap into a small/negative take()
        val room = math.min(math.max(0L, k - admitted), Int.MaxValue.toLong)
        val take = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
          .take(room.toInt)
        st.update(admitted + take.size)
        take.iterator
      }
    }
    ds.groupByKey(_.key)
      .transformWithState(proc, timeMode, OutputMode.Append())
  }

  /** Per-user streaming funnel state machine — the stateful twin of the
    * batch q96 (operators.Relational.q96Funnel): first view → first click
    * strictly after it → first purchase strictly after that. State is three
    * epoch-micros longs per user (-1 = stage unreached), emitted on every
    * update; the batch query computes the same stages with three
    * aggregate+join passes.
    *
    * Events are applied in (ts, type) order WITHIN each micro-batch, so
    * intra-batch disorder is harmless; an event arriving in a LATER batch
    * with an earlier timestamp cannot retroactively lower a stage (the
    * stage timestamps only ever fill forward) — the same trade every
    * at-most-once-pass streaming funnel makes. Use a `ttl` in production
    * (processing-time mode, see [[runningPerKey]]): without one, one small
    * fixed-size state row per user ever seen. */
  def funnelPerUser(ds: Dataset[FunnelEvent],
                    ttl: Option[java.time.Duration] = None): Dataset[FunnelProgress] = {
    import ds.sparkSession.implicits._
    val (ttlConf, timeMode) = ttlMode(ttl)
    val proc = new StatefulProcessor[Long, FunnelEvent, FunnelProgress] {
      @transient private var st: ValueState[FunnelProgress] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[FunnelProgress]("funnel",
          Encoders.product[FunnelProgress], ttlConf)
      override def handleInputRows(uid: Long, rows: Iterator[FunnelEvent],
                                   tv: TimerValues): Iterator[FunnelProgress] = {
        var cur = if (st.exists()) st.get() else FunnelProgress(uid, -1L, -1L, -1L)
        rows.toSeq.sortBy(e => (e.tUs, e.etype)).foreach { e =>
          e.etype match {
            case "view" if cur.vt < 0 => cur = cur.copy(vt = e.tUs)
            case "click" if cur.vt >= 0 && cur.ct < 0 && e.tUs > cur.vt =>
              cur = cur.copy(ct = e.tUs)
            case "purchase" if cur.ct >= 0 && cur.pt < 0 && e.tUs > cur.ct =>
              cur = cur.copy(pt = e.tUs)
            case _ => // stage already reached, out of order, or other type
          }
        }
        st.update(cur)
        Iterator.single(cur)
      }
    }
    ds.groupByKey(_.user_id)
      .transformWithState(proc, timeMode, OutputMode.Update())
  }

  /** Stream-stream interval join (SURVEY §2.3.3 "as-of / interval
    * (streaming)"): equi-key plus a time-range condition, both sides
    * watermarked so Spark can bound the buffered state (without watermarks a
    * stream-stream join's state grows forever — the 100 TB failure mode).
    *
    * `joinType` supports the outer variants ("left_outer" / "right_outer" /
    * "full_outer"): an unmatched row is emitted with NULLs on the other side
    * only once the WATERMARK proves no future match can arrive — outer
    * results are therefore delayed by the watermark horizon, the price of a
    * correct negative ("no purchase followed this click") on an unbounded
    * stream.
    * @param joinCond time-range predicate, e.g.
    *   col("r_ts").between(col("l_ts"), col("l_ts") + expr("interval 5 minutes")) */
  def intervalJoin(left: DataFrame, leftTs: String, leftWm: String,
                   right: DataFrame, rightTs: String, rightWm: String,
                   joinCond: Column, joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTs, leftWm)
      .join(right.withWatermark(rightTs, rightWm), joinCond, joinType)

  /** Stream-static enrichment join: a streaming fact joined to a batch
    * dimension table. No watermark needed — the static side is not stateful;
    * Spark re-plans the static relation per micro-batch, so a broadcast hint
    * keeps every batch a map-side join (no shuffle of the stream). This is
    * the streaming twin of the batch dimension joins (q03): at 100 TB/day
    * the stream side never repartitions, only the dim ships. */
  def enrich(stream: DataFrame, dim: DataFrame, joinCond: Column,
             joinType: String = "inner"): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), joinCond, joinType)

  /** Epoch-nanos bigint (the test data's `events.ts` under nanosAsLong,
    * FIXTURES.md §B) -> TimestampType for event-time ops. Nanos truncate to
    * micros — Spark timestamps are micro-precision. Division goes through
    * decimal, NOT Column `/` (double): above 2^53 ns a double quotient can
    * be off by 1 µs, putting boundary events in the wrong window. */
  def nanosToTimestamp(c: Column): Column =
    timestamp_micros((c.cast("decimal(38,0)") / lit(1000)).cast("long"))

  /** Online exact-substring duplicate discovery — the streaming twin of
    * batch [[graft.operators.Dedup.exactSubstrSpans]] (q161): each arriving
    * document fans out to its k-token rolling windows, and a window-hash-
    * keyed [[StatefulProcessor]] emits every occurrence that belongs to a
    * duplicated window (≥ 2 occurrences corpus-to-date). When a window's
    * SECOND occurrence arrives, the first is emitted RETROACTIVELY beside
    * it (across micro-batch boundaries — the state carries the pending
    * first); third and later occurrences emit themselves on arrival. Each
    * (doc, pos) emits at most once, so no downstream dedup state is
    * needed. Callers reassemble maximal spans with the batch lane's
    * island merge (equal-width intervals: new span iff pos > prev + k) —
    * the emitted occurrence set EQUALS the batch pipeline's duplicated-
    * occurrence relation, so the merged spans equal q161's, pinned in
    * StreamingSpec across a micro-batch split.
    *
    * Hash note: the stream keys on FNV-1a-64 of the space-rejoined window
    * (the [[StreamMinhash.wordHash]] footprint discipline) where the batch
    * lane uses md5 — equality of WINDOWS is the semantic, hashes never
    * appear in output, and a 64-bit collision between distinct windows in
    * one corpus is ~10⁻⁸ at 10⁹ distinct windows (the same engineering
    * trade the batch lane's scaladoc documents for md5).
    *
    * State: one (firstDoc, firstPos, count) row per DISTINCT window seen —
    * the exact-recall price of online ExactSubstr, ~28 B/window in the
    * checkpointed RocksDB store, growing with distinct-window volume, NOT
    * with duplicate volume. A 100 TB ingest bounds it one of two ways,
    * both semantic trades this twin leaves to the caller: an event-time
    * TTL (dups across the horizon are missed) or a Bloom-filter pre-gate
    * (the BFF shape: lossy, constant space). */
  def exactSubstrStream(ds: Dataset[DocRecord],
      k: Int = graft.operators.Dedup.ExactSubstrK): Dataset[ExactSubstrOcc] = {
    import ds.sparkSession.implicits._
    val grams = ds.flatMap { d =>
      val words =
        if (d.text == null) Array.empty[String] else d.text.trim.split("\\s+")
      if (words.length < k) Iterator.empty
      else {
        // words UTF-8-encoded once per doc; each window folds over the
        // byte arrays (windowHash — bit-identical to hashing the joined
        // string, without the per-window slice/join/re-encode)
        val wb = words.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        (0 to words.length - k).iterator.map { i =>
          GramOcc(StreamMinhash.windowHash(wb, i, k), d.doc_id, i)
        }
      }
    }
    val proc = new StatefulProcessor[Long, GramOcc, ExactSubstrOcc] {
      @transient private var st: ValueState[GramFirst] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[GramFirst]("first",
          Encoders.product[GramFirst], TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[GramOcc],
                                   tv: TimerValues): Iterator[ExactSubstrOcc] = {
        // deterministic in-batch order; the emitted SET is order-invariant
        // (every occurrence of a duplicated window emits exactly once),
        // ordering only fixes WHICH occurrence the state calls "first"
        val rs = rows.toSeq.sortBy(r => (r.doc_id, r.pos))
        var cur: Option[GramFirst] = if (st.exists()) Some(st.get()) else None
        val out = Vector.newBuilder[ExactSubstrOcc]
        rs.foreach { r =>
          cur match {
            case None => cur = Some(GramFirst(r.doc_id, r.pos, 1L))
            case Some(f) =>
              if (f.n == 1L) out += ExactSubstrOcc(f.doc, f.pos)
              out += ExactSubstrOcc(r.doc_id, r.pos)
              cur = Some(f.copy(n = f.n + 1))
          }
        }
        cur.foreach(st.update)
        out.result().iterator
      }
    }
    grams.groupByKey(_.h).transformWithState(proc, TimeMode.None(), OutputMode.Append())
  }

  /** [[exactSubstrStream]] with BOUNDED state — the event-time-horizon
    * variant (r18 verdict "What's wrong" #1 / Next #3): the base twin's
    * per-distinct-window state grows with distinct-window volume forever,
    * which a long-horizon 100 TB ingest cannot afford. This variant keys
    * the same (first, count) state but schedules an EVENT-TIME TIMER at
    * each window's last-seen event time: the timer fires once the
    * watermark passes it — i.e. a window's state lives for exactly the
    * `watermark` delay beyond its latest occurrence (the chained-extension
    * contract `dropDuplicatesWithinWatermark` ships, spelled with
    * transformWithState timers because the emission logic needs the
    * first-occurrence retro-emit the built-in cannot express).
    *
    * Semantic trade, documented: duplicate occurrences separated by more
    * than the horizon are MISSED — the evicted first is never retro-
    * emitted, and the late re-occurrence restarts as a fresh first. Within
    * the horizon the emitted occurrence set equals the batch q161
    * relation (StreamingSpec pins parity across a micro-batch split, and
    * separately that eviction actually happens — a re-occurrence after
    * the horizon emits nothing).
    *
    * State per LIVE window: ~36 B (doc, pos, n, timerMs) + one timer row —
    * bounded by the distinct windows of the last `watermark` of event
    * time, not the stream's lifetime. */
  def exactSubstrStreamWithinWatermark(ds: Dataset[TimedDocRecord], watermark: String,
      k: Int = graft.operators.Dedup.ExactSubstrK): Dataset[ExactSubstrOcc] = {
    import ds.sparkSession.implicits._
    val grams = ds.flatMap { d =>
      val words =
        if (d.text == null) Array.empty[String] else d.text.trim.split("\\s+")
      if (words.length < k) Iterator.empty
      else {
        // per-doc pre-encode + byte fold — the base twin's windowHash shape
        val wb = words.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        (0 to words.length - k).iterator.map { i =>
          TimedGramOcc(StreamMinhash.windowHash(wb, i, k),
            d.doc_id, i, new java.sql.Timestamp(d.tsUs / 1000))
        }
      }
    }.withWatermark("eventTime", watermark)
    val proc = new StatefulProcessor[Long, TimedGramOcc, ExactSubstrOcc] {
      @transient private var st: ValueState[GramFirstT] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[GramFirstT]("firstT",
          Encoders.product[GramFirstT], TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[TimedGramOcc],
                                   tv: TimerValues): Iterator[ExactSubstrOcc] = {
        // same deterministic order + emit-once contract as the base twin
        val rs = rows.toSeq.sortBy(r => (r.doc_id, r.pos))
        var cur: Option[GramFirstT] = if (st.exists()) Some(st.get()) else None
        val out = Vector.newBuilder[ExactSubstrOcc]
        rs.foreach { r =>
          cur match {
            case None => cur = Some(GramFirstT(r.doc_id, r.pos, 1L, -1L))
            case Some(f) =>
              if (f.n == 1L) out += ExactSubstrOcc(f.doc, f.pos)
              out += ExactSubstrOcc(r.doc_id, r.pos)
              cur = Some(f.copy(n = f.n + 1))
          }
        }
        // eviction timer rides the window's last-seen event time, only ever
        // extended FORWARD (an out-of-order batch must not shorten the
        // horizon); the stale timer is deleted so each window holds one
        val lastMs = rs.map(_.eventTime.getTime).max
        cur.foreach { f =>
          val next = math.max(f.timerMs, lastMs)
          if (next != f.timerMs) {
            if (f.timerMs >= 0L) getHandle.deleteTimer(f.timerMs)
            getHandle.registerTimer(next)
          }
          st.update(f.copy(timerMs = next))
        }
        out.result().iterator
      }
      override def handleExpiredTimer(key: Long, tv: TimerValues,
          info: ExpiredTimerInfo): Iterator[ExactSubstrOcc] = {
        // the watermark passed the window's last occurrence: evict. A
        // pending never-retro-emitted first is dropped with it (the
        // documented outside-the-horizon miss).
        st.clear()
        Iterator.empty
      }
    }
    grams.groupByKey(_.h).transformWithState(proc, TimeMode.EventTime(), OutputMode.Append())
  }
}

/** Input shape for runningPerKey — (key, event-time, value). */
case class KeyedEvent(key: String, ts: java.sql.Timestamp, value: Double)

/** Streaming-ingest document record for [[StreamOps.neardupStream]]. */
case class DocRecord(doc_id: Long, text: String)

/** [[DocRecord]] with event time in epoch-micros — the input of
  * [[StreamOps.neardupStreamWithinWatermark]] (tsUs = 0 on the untimed
  * path). */
case class TimedDocRecord(doc_id: Long, text: String, tsUs: Long)

/** One LSH band record of a document: the bucket key (band, packed band
  * signature halves) plus the doc's event time and sorted distinct 64-bit
  * word hashes ([[StreamMinhash.wordHash]]) for the exact-Jaccard confirm
  * stage. */
case class BandRecord(band: Int, sig1: Long, sig2: Long, doc_id: Long,
                      tsUs: Long, wh: Seq[Long])

/** Confirmed near-dup pair — the q50 output contract: id1 < id2, exact
  * word-set Jaccard rounded half-up to 4 dp. */
case class NearDupPair(id1: Long, id2: Long, jaccard: Double)

/** [[NearDupPair]] plus the pair's event time (the later member's tsUs) —
  * the internal row the watermarked pair dedup keys its TTL on. */
case class NearDupPairT(id1: Long, id2: Long, jaccard: Double, tsUs: Long)

/** Per-bucket member cache for [[StreamOps.neardupStream]]: the first
  * `bucketCap` members' ids, event times, and sorted distinct word-hash
  * sets, in arrival order. Bounded by construction — the state never
  * holds the corpus, and holds hashes (8 B/word), never text. */
case class BucketMembers(ids: Seq[Long], ts: Seq[Long], wh: Seq[Seq[Long]])

/** The MinHash pipeline's per-record spelling for streaming ingest: the
  * SAME math as the batch `MinhashSig` kernel (base hash = Java
  * String#hashCode of the space-joined 3-shingle reinterpreted unsigned
  * mod p; 16 pairwise-independent (a·x+b) mod p mins; 2³¹ band packing) —
  * StreamingSpec pins bit-parity against `Dedup.minhashSignatures` on the
  * fixture corpus. */
object StreamMinhash {
  import graft.operators.Dedup
  val PackBase = 2147483648L // 2³¹ — the batch lshBands packing base

  private[graft] def signature(words: Array[String]): Array[Long] = {
    val k = Dedup.ShingleWords
    val p = Dedup.MinhashP
    val as = Dedup.minhashA
    val bs = Dedup.minhashB
    val mins = Array.fill(Dedup.MinHashK)(Long.MaxValue)
    var i = 0
    while (i <= words.length - k) {
      // the shingle's String.hashCode folded directly over the window's
      // chars (31·h + c over the joined sequence IS the String contract),
      // bit-identical to building the string — without the per-window
      // StringBuilder copy + toString copy + hashCode re-scan the old
      // spelling paid 3 passes and 2 allocations for (r21, guide §1.2)
      var hc = 0
      var j = 0
      while (j < k) {
        if (j > 0) hc = 31 * hc + ' '
        val w = words(i + j)
        var c = 0
        while (c < w.length) { hc = 31 * hc + w.charAt(c); c += 1 }
        j += 1
      }
      val x = (hc.toLong & 0xFFFFFFFFL) % p
      var h = 0
      while (h < Dedup.MinHashK) {
        val g = (as(h) * x + bs(h)) % p
        if (g < mins(h)) mins(h) = g
        h += 1
      }
      i += 1
    }
    mins
  }

  /** FNV-1a 64-bit over UTF-8 bytes — the word-set compaction hash for
    * [[StreamOps.neardupStream]]'s bucket state. Internal to the operator
    * (hashes never appear in output), so the only requirement is practical
    * injectivity over a compared pair's vocabulary: at 64 bits a collision
    * within a ~10³-word union has probability ~10⁻¹³. */
  private[graft] def wordHash(w: String): Long = {
    val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** [[wordHash]] of `wb(start..start+k-1)` joined by ' ' — bit-identical
    * to `wordHash(words.slice(start, start+k).mkString(" "))` because the
    * UTF-8 encoding of a joined string is the concatenation of the words'
    * encodings with 0x20 between (space is ASCII; an unpaired surrogate at
    * a word edge encodes to '?' either way). Folding over the per-doc
    * pre-encoded word bytes removes the per-window array slice, join
    * string, and UTF-8 re-encode the old spelling allocated — each word
    * was being re-encoded in up to k windows (r21, guide §1.2). */
  private[graft] def windowHash(wb: Array[Array[Byte]], start: Int, k: Int): Long = {
    var h = 0xcbf29ce484222325L
    var j = 0
    while (j < k) {
      if (j > 0) { h ^= 0x20L; h *= 0x100000001b3L }
      val bytes = wb(start + j)
      var i = 0
      while (i < bytes.length) {
        h ^= (bytes(i) & 0xffL)
        h *= 0x100000001b3L
        i += 1
      }
      j += 1
    }
    h
  }
}

/** One k-token window occurrence for [[StreamOps.exactSubstrStream]]:
  * the 64-bit window hash (state key), owning doc, 0-based token start. */
case class GramOcc(h: Long, doc_id: Long, pos: Int)

/** A duplicated-window occurrence emitted by
  * [[StreamOps.exactSubstrStream]] — the streaming spelling of q161's
  * duplicated-occurrence relation, island-merged by the caller. */
case class ExactSubstrOcc(doc: Long, pos: Int)

/** Per-window state for [[StreamOps.exactSubstrStream]]: the first-seen
  * occurrence (retro-emitted when the second arrives) and the running
  * occurrence count. One row per distinct window, ~28 B. */
case class GramFirst(doc: Long, pos: Int, n: Long)

/** [[GramOcc]] with the owning document's event time — the input row of
  * [[StreamOps.exactSubstrStreamWithinWatermark]] (the watermark column). */
case class TimedGramOcc(h: Long, doc_id: Long, pos: Int,
                        eventTime: java.sql.Timestamp)

/** [[GramFirst]] plus the scheduled eviction timer's timestamp (epoch ms;
  * -1 = none yet) — the watermarked variant's per-window state, evicted
  * when the event-time watermark passes the last occurrence. */
case class GramFirstT(doc: Long, pos: Int, n: Long, timerMs: Long)

/** Streaming-ingest embedding record (vec_id + raw float vector). */
case class EmbRecord(vec_id: Long, embedding: Seq[Float])

/** Per-vector semantic-dedup verdict — the q152 output row. */
case class SemVerdict(vec_id: Long, cluster: Long, dup_of: Long, is_dup: Boolean)

/** Per-cluster member cache: the first `cap` members' ids and unit vectors,
  * in arrival order. Bounded by construction: ≤ cap·(8 + 8·dim) bytes per
  * cluster, REGARDLESS of stream length — the state never holds the corpus. */
case class SemClusterState(ids: Seq[Long], vecs: Seq[Seq[Double]])

/** Streaming funnel input: (user, epoch-micros, event type). */
case class FunnelEvent(user_id: Long, tUs: Long, etype: String)

/** Funnel stage timestamps in epoch-micros; -1 = stage unreached. */
case class FunnelProgress(user_id: Long, vt: Long, ct: Long, pt: Long)

/** Running state/output of runningPerKey. */
case class KeyRunning(key: String, count: Long, sum: Double)
