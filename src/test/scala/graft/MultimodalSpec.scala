package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

/** Multimodal plumbing: payload attachment, batched stub decode (schema,
  * determinism, partition-parallel shape), frame sampling geometry. */
class MultimodalSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs() =
    Multimodal.withPayload(Tables(spark, sfDir, "documents").filter(col("doc_id") < 50))

  test("decodeBatched: fixed-dim features, deterministic, schema as declared") {
    val out = Multimodal.decodeBatched(docs(), dim = 8)
    assert(out.schema.fieldNames.toSeq == Seq("doc_id", "features"))
    val a = out.orderBy("doc_id").collect()
    val b = Multimodal.decodeBatched(docs(), dim = 8).orderBy("doc_id").collect()
    assert(a.length == 50)
    a.zip(b).foreach { case (x, y) => assert(x == y) } // deterministic
    a.foreach { r =>
      val f = r.getSeq[Double](1)
      assert(f.length == 8)
      assert(f.forall(_ >= 0.0))
    }
  }

  test("decodeBatched features vary with content (stub is not constant)") {
    val feats = Multimodal.decodeBatched(docs(), dim = 8)
      .collect().map(_.getSeq[Double](1))
    assert(feats.distinct.length > 1)
  }

  test("frameSample: n frames of the requested size from within the payload") {
    val out = Multimodal.frameSample(docs(), n = 4, frameBytes = 16)
      .select(col("doc_id"), col("frames"), octet_length(col("payload")).as("len"))
      .collect()
    out.foreach { r =>
      val frames = r.getSeq[Array[Byte]](1)
      assert(frames.length == 4)
      if (r.getInt(2) >= 64) frames.foreach(f => assert(f.length == 16))
    }
  }

  test("q146/q147/q148: the payload NEVER crosses an exchange (executed plan)") {
    // the pillar's scale property (r12 verdict #1): fingerprints and
    // metadata shuffle, the opaque binary stays on its executor — at
    // 100 TB of media the difference between shuffling hashes and
    // shuffling the corpus. Walk every exchange in the EXECUTED plan and
    // assert no shuffled attribute is binary-typed.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.BinaryType
    for (name <- Seq("q146_payload_dedup", "q147_frame_fingerprints", "q148_modality_mix",
        "q149_decode_features", "q150_frame_neardup", "q151_decode_ivf")) {
      val qe = SparkEntry.baseQueries(name)(spark, sfDir).queryExecution
      qe.toRdd.foreach(_ => ())
      val exchanges = ScanAudit.walk(qe.executedPlan)
        .collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, s"$name: expected at least one exchange (agg/sort)")
      exchanges.foreach { e =>
        // "buf" is ObjectHashAggregate's serialized PARTIAL-AGG buffer —
        // q151's centroid collect_list folds the ≈64 stride-sampled
        // (cent_id, 8-double features) structs toward one row, the
        // sanctioned broadcast-centroid pattern (Similarity.assignTo); it
        // carries decoded features, never the payload. Everything else
        // binary-typed on an exchange IS the payload leaking.
        val binCols = e.output
          .filter(a => a.dataType == BinaryType && a.name != "buf").map(_.name)
        assert(binCols.isEmpty,
          s"$name: binary payload columns $binCols crossed an exchange:\n$e")
      }
    }
  }

  test("q150: clusters are exactly the ≥2-shared-head-frame families (naive recompute)") {
    // independent reference: group long docs by their 64-byte head (2
    // frames) OR confirm via any 2-of-4 shared 32-byte head frames —
    // recomputed driver-side from raw strings, no Spark involved
    val raw = Tables(spark, sfDir, "documents")
      .filter(col("text").isNotNull && octet_length(col("text").cast("binary")) >= 128)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val frames = raw.map { case (id, t) =>
      id -> (0 until 4).map(k => t.slice(k * 32, k * 32 + 32))
    }
    val pairs = for {
      (a, fa) <- frames; (b, fb) <- frames if a < b
      if fa.zip(fb).count { case (x, y) => x == y } >= 2
    } yield (a, b)
    val nbs = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expect = nbs.map { case (d, mn) => d -> math.min(d, mn) }
      .groupBy(_._2).map { case (cl, ms) => (cl, ms.size.toLong, ms.keys.sum) }
      .toSeq.sortBy(_._1)
    val got = Multimodal.q150FrameNeardup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty, "q150 must find the fixture's prefix families")
    assert(got == expect, s"q150 clusters diverge:\n got=$got\n exp=$expect")
  }

  test("q151: kernel assignment equals a naive driver-side argmax over decoded features") {
    val feats = Multimodal.decodeBatched(
        Multimodal.withPayload(Tables(spark, sfDir, "documents")
          .filter(col("text").isNotNull && length(col("text")) > 0)),
        dim = 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq.sortBy(_._1)
    // the lane's fixed-budget stride: max(1, (max_id+1) div 64)
    val stride = math.max((feats.map(_._1).max + 1) / 64, 1L)
    val cents = feats.filter(_._1 % stride == 0)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expect = feats.map { case (id, v) =>
      // strict > over ascending cent_id = the BestCentroid tie rule
      id -> cents.foldLeft((-1L, Double.NegativeInfinity)) { case ((bid, bs), (cid, cv)) =>
        val s = cos(v, cv); if (s > bs) (cid, s) else (bid, bs)
      }._1
    }
    val got = Multimodal.q151DecodeIvf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.size == feats.size)
    assert(got == expect, "q151 kernel assignment diverges from the naive argmax")
    assert(got.map(_._2).distinct.size > 1, "q151 should use more than one centroid")
  }
}
