package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.queries.SemanticBlocking
import graft.streaming.CurationStream

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line for the driver (BENCH_r{N}.json).
  *
  * Results are forced through the noop sink so every column is fully
  * materialized (a bare .count() would let Catalyst prune the aggregates
  * under measurement). One untimed warm-up of the first query absorbs
  * one-off JVM/codegen/parquet-footer costs; each query then runs once,
  * timed.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // session configs (incl. the r21 preferSortMergeJoin=false posture)
    // live in BenchSession — ONE builder for every bench main and probe
    val spark = BenchSession.build()

    val names = SparkEntry.headline.filter(SparkEntry.queries.contains)

    // Machine 1-min load average — recorded for cross-round continuity
    // (load_before/load_after have been in the artifact since r5), but no
    // longer the GATE: loadavg counts this JVM's own just-finished work,
    // so gating on it mid-run waits for our own burst to decay (ADVICE
    // r8 — the r8 warm-up pushed loadavg over the threshold and
    // self-inflicted a ~90 s wait on an idle machine).
    def loadAvg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
      catch { case NonFatal(_) => -1.0 }

    // EXTERNAL busy CPUs, self-discounting: (total busy jiffies − this
    // process's jiffies) over a 1 s window, in units of "cpus busy with
    // someone else's work". Unlike loadavg this is instantaneous AND
    // blind to our own threads, so it can gate between passes without
    // waiting for our own 1-min average to decay. /proc/stat busy = all
    // fields except idle+iowait; /proc/self/stat utime+stime are fields
    // 14/15 (after the parenthesized comm). USER_HZ = 100 on Linux.
    def totalBusyJiffies(): Long = {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      f.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
    }
    def ownJiffies(): Long = {
      val s = scala.io.Source.fromFile("/proc/self/stat").mkString
      val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
      rest(11).toLong + rest(12).toLong // utime + stime
    }
    def externalBusyCpus(sampleMs: Int = 1000): Double =
      try {
        val (t0, o0) = (totalBusyJiffies(), ownJiffies())
        Thread.sleep(sampleMs)
        val (t1, o1) = (totalBusyJiffies(), ownJiffies())
        ((t1 - t0) - (o1 - o0)).toDouble / 100.0 / (sampleMs / 1000.0)
      } catch { case NonFatal(_) => -1.0 }

    // Load DISCIPLINE (VERDICT r6 item 3, hardened r9 per VERDICT r8
    // wrong#1): wait (bounded) for the machine to be externally idle
    // BEFORE the warm-up, and re-check before EVERY timed pass — the r8
    // artifact went hot DURING the passes (loadavg 1.95 → 4.85) and the
    // single before-gate could not see it, so three untouched queries
    // read as phantom regressions. If a pass must start hot anyway, the
    // artifact stamps loaded:true and the per-pass samples say which.
    val idleThreshold = 2.0 // external busy cpus on a 32-cpu box ≈ noise
    def waitForIdle(maxWaitSec: Int): Double = {
      var waited = 0
      var ext = externalBusyCpus()
      while (ext > idleThreshold && waited < maxWaitSec) {
        System.err.println(f"[bench] external busy cpus $ext%.2f > $idleThreshold%.1f, waiting (${waited}s)")
        Thread.sleep(14000); waited += 15
        ext = externalBusyCpus()
      }
      ext
    }

    waitForIdle(300)
    // Warm-up: JVM + codegen + file listing, untimed. Same failure policy
    // as the timed loop — a broken first query must not abort the whole
    // benchmark before any JSON is emitted (its own timed run records -1).
    try force(spark, sfDir, names.head) catch {
      case NonFatal(e) => System.err.println(s"[bench] warmup: ${e.getMessage}")
    }
    // Three timed reps per query, INTERLEAVED (three full passes over the
    // query list) and min-taken: single-shot numbers swing ±30% with
    // background machine load, and back-to-back reps share the same load
    // window, so a transient spike poisons both and reads as a false
    // regression round over round (r2→r3 drift on q30/q33/q41 — VERDICT
    // r3 §wrong#4). Interleaving separates a query's reps by a full pass
    // (~seconds to minutes), so min-of-3 sees three independent load
    // samples; every rep does all the work, so the min is honest.
    val loadBefore = loadAvg()
    val passExt = new scala.collection.mutable.ArrayBuffer[Double]
    val passes = (1 to 3).map { p =>
      // between-pass gate: shorter bound than the entry gate (a genuinely
      // busy machine should still produce an artifact, just a labeled one)
      passExt += (if (p == 1) externalBusyCpus() else waitForIdle(120))
      names.map(n => n -> timeOnce(spark, sfDir, n)).toMap
    }
    val loadAfter = loadAvg()
    val loaded = passExt.exists(_ > idleThreshold)
    val results = names.map { name =>
      val reps = passes.map(_(name)).filter(_ >= 0)
      name -> (if (reps.nonEmpty) reps.min else -1.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum

    // ---- quality fields (untimed; VERDICT r6 items 1 and 5) ----
    // ANN recall@10 vs the exact brute-force ranking, per round: a
    // recall regression in the approximate paths is a quality bug the
    // wall-times cannot see. Computed on the SAME sf dir the timings ran.
    val annRecalls: Seq[(String, Double)] =
      try {
        val brute = SparkEntry.queries("q33_ann_brute")(spark, sfDir)
          .select(col("query_id"), col("neighbor_id")).cache()
        val bruteN = brute.count().toDouble
        Seq("q34_ann_lsh", "q34c_ann_lsh_projected", "q35_ann_ivf",
            "q35b_ann_pq", "q35d_ann_ivfpq",
            "q65_ann_ivf_trained").map { n =>
          val hits = SparkEntry.queries(n)(spark, sfDir)
            .select(col("query_id"), col("neighbor_id"))
            .join(brute, Seq("query_id", "neighbor_id")).count()
          n -> hits / bruteN
        }
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] recall: ${e.getMessage}"); Seq.empty
      }
    // Pair recall for the embedding near-dup LSH paths (q36b/q36c) vs
    // the exact all-pairs reference at the SAME threshold on the SAME
    // doubled corpus (VERDICT r8 item 2): the pair-set-equality contract
    // lives in DedupSpec at fixture scale — this emits
    // |lsh ∩ exact| / |exact| at sf0.1 per round beside the wall-times,
    // at the registered operating points (SemanticBlocking).
    val pairRecalls: Seq[(String, Double)] =
      try {
        val corpus = graft.queries.TextVectorQueries
          .embedNearDupCorpus(spark, sfDir).cache()
        val out = Seq(
          "q36b_embed_neardup_lsh" -> SemanticBlocking.NearDupLsh,
          "q36c_embed_neardup_lsh08" -> SemanticBlocking.NearDupLsh08).map {
          case (n, lsh) =>
            val exact = graft.ops.Dedup.exactEmbeddingPairs(
              corpus, "embedding", "vec_id", lsh.threshold)
              .select("id_a", "id_b").cache()
            val nExact = exact.count().toDouble
            val hits = lsh.pairs(corpus).select("id_a", "id_b")
              .join(exact, Seq("id_a", "id_b")).count()
            exact.unpersist()
            n -> (if (nExact > 0) hits / nExact else -1.0)
        }
        corpus.unpersist()
        out
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] pair recall: ${e.getMessage}"); Seq.empty
      }
    // Pruned-set recall for blocked semantic dedup (q101b) vs the exact
    // O(n²) rule (q101) at the same threshold: the k-means blocking is
    // one-sided (every blocked prune is real), so recall is the single
    // number that says how much the cell scoping missed this round.
    // All three sides are the registered queries' own results; q101c is
    // the index-served twin, measured against the centroids the
    // PUBLISHED table carries (training is deterministic, so it equals
    // q101b's recall unless the served index is stale or corrupt —
    // which is exactly what the extra row detects).
    val semanticRecall: Seq[(String, Double)] =
      try {
        def pruned(name: String) = SparkEntry.queries(name)(spark, sfDir)
          .filter(!col("kept")).select("id")
        val exactPruned = pruned("q101_semantic_dedup").cache()
        val nExact = exactPruned.count().toDouble
        val out = Seq("q101b_semantic_dedup_blocked",
            "q101c_semantic_dedup_index").map { n =>
          val hits = pruned(n).join(exactPruned, Seq("id")).count()
          n -> (if (nExact > 0) hits / nExact else -1.0)
        }
        exactPruned.unpersist()
        out
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] semantic recall: ${e.getMessage}")
        Seq.empty
      }
    // Streaming semantic-dedup sink telemetry (VERDICT r11 item 5):
    // per-micro-batch arrived/kept/vet-cost for the q101g loop at this
    // sf — kept-rate drift is a vet-quality regression, vet-cost growth
    // an index/plan regression, and neither is visible in the batch
    // wall-times.
    // r18 (VERDICT r17 task 5): the sink section runs AFTER the main
    // interleaved passes, in a window the in-loop controls never see —
    // r16 AND r17 both logged vet spikes there that isolated reruns
    // adjudicated as co-tenant load (sink_vet_median_norm 3.547 vs
    // isolated 0.50-0.62). The section now times the SAME control
    // query immediately before batch 0 and the banded median
    // normalizes by THIS control, so the band is self-contained in its
    // own load window.
    val (sinkControlSec, sinkStats) = sinkSection(spark, sfDir, "default.semdedup_corpus_bench")
    val sinkJson = sinkStats.map(s =>
        f"""{"batch":${s.batchId},"rows":${s.batchRows},"kept":${s.keptRows},"vet_sec":${s.vetSec}%.3f}""")
      .mkString("[", ",", "]")
    // control-normalized MEDIAN vet (×0.52/control): the banded number
    // (BASELINE.md band 0.40–0.95) — the median dodges batch 0's
    // codegen cold start, the control discount dodges host windows
    // (the r16/r17 false alarms this field exists to catch). Since r18
    // the control is the SINK-SECTION one (timed in the same window);
    // the main-pass control is the fallback when it failed. -1 when
    // either side is missing.
    def sinkVetMedianNorm(controlSec: Double): Double = {
      val ctl = if (sinkControlSec > 0) sinkControlSec else controlSec
      if (sinkStats.isEmpty || ctl <= 0) -1.0
      else {
        val v = sinkStats.map(_.vetSec).sorted
        // true median: an even batch count averages the middles — the
        // upper-middle alone would be the MAX at size 2, i.e. batch
        // 0's codegen cold start, the one value this field must dodge
        val med =
          if (v.size % 2 == 1) v(v.size / 2)
          else (v(v.size / 2 - 1) + v(v.size / 2)) / 2.0
        med * 0.52 / ctl
      }
    }

    // Label-propagation convergence telemetry (VERDICT r12 item 8):
    // per-round changed-label counts over q114b's blocked kNN graph
    // (SemanticBlocking.propagationGraph). The changed count is the
    // propagation frontier; it must shrink round over round — a
    // frontier that stops shrinking means the argmax is oscillating or
    // the graph degenerated, neither of which is visible in wall-times.
    // GraphSpec pins the non-increase; this field makes the trajectory
    // auditable across rounds.
    val propRounds: Seq[(Int, Long)] =
      try {
        val (nodes, edges) = SemanticBlocking.propagationGraph(
          graft.core.Tables.load(spark, sfDir, "embeddings"))
        graft.ops.Graph.labelPropagationWithStats(
          SemanticBlocking.seedLabels(nodes), edges, iters = 3)._2
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] propagation: ${e.getMessage}")
        Seq.empty
      }
    val propJson = propRounds
      .map { case (r, c) => s"""{"round":$r,"changed":$c}""" }
      .mkString("[", ",", "]")

    // Z-order + Hilbert file-skipping ratios on real parquet footers
    // (same probe WriterSpec asserts as >=2x booleans):
    // linear-candidates / curve-candidates for the quadrant-interior
    // band predicate, tracked per round like latency. One probe writes
    // all three layouts, so the two ratios share the same band window.
    val (zratio, hratio): (Double, Double) =
      try {
        val li = graft.core.Tables.load(spark, sfDir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        val p = graft.core.Zorder.skipProbe(
          li, Seq("l_quantity", "l_extendedprice"), "l_extendedprice",
          loFrac = 0.32, hiFrac = 0.42, bits = 8, files = 8)
        (if (p.zorderCandidates > 0)
          p.linearCandidates.toDouble / p.zorderCandidates else -1.0,
         if (p.hilbertCandidates > 0)
          p.linearCandidates.toDouble / p.hilbertCandidates else -1.0)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] zorder: ${e.getMessage}"); (-1.0, -1.0)
      }

    // ---- machine-readable environmental control (VERDICT r9 #1) ----
    // Four rounds (r4/r5/r8/r9) each re-adjudicated bench noise in prose
    // because host-capacity windows (hypervisor contention invisible to
    // guest /proc) shift every row uniformly. The control makes the
    // discount a field instead of a paragraph: q12_fact_join — a plain
    // bucketed join untouched since r3 — is timed in the same
    // interleaved min-of-3 passes as everything else, and its ratio to
    // the steady band midpoint declared ONCE in BASELINE.md §control
    // band (0.52 s, the r5–r9 recorded range 0.478–0.565) is emitted
    // beside it. Reading rule: control_ratio ≈ 1 → rows are comparable
    // raw; control_ratio ≫ 1 → the host was slow by that factor, divide
    // every row by it before calling anything a regression; rows moving
    // AGAINST the shift carry real signal.
    val controlName = "q12_fact_join"
    val controlBandMid = 0.52
    val controlSec = results.toMap.getOrElse(controlName, -1.0)
    val controlRatio = if (controlSec > 0) controlSec / controlBandMid else -1.0
    // Second control (re-picked r19 per VERDICT r18 task 5): q51 was
    // both a banded headline row AND the normalizer, which conflated
    // signal with discount — its r18 excursion read as a control2
    // disagreement of its own making. The second control is now
    // q104_duplicated_spans: a mid-weight scan+window row untouched
    // since r10, NOT itself noise-adjudicated, with a four-round
    // steady control-normalized record of 1.64–1.74 (BASELINE.md
    // §round-19 control protocol) → band mid 1.70. q51 stays timed
    // and BANDED below — excursions on it now adjudicate like any
    // other banded row instead of poisoning the normalizer.
    val control2Name = "q104_duplicated_spans"
    val control2BandMid = 1.70
    val control2Sec = results.toMap.getOrElse(control2Name, -1.0)
    val control2Ratio = if (control2Sec > 0) control2Sec / control2BandMid else -1.0

    // ---- self-adjudicating bands (VERDICT r18 task 5) ----
    // The judge's reading rule, executed IN-SESSION: each banded row's
    // control-normalized value (raw ÷ control_ratio, i.e. ×0.52/
    // control_sec) must sit inside its BASELINE.md band. When a row
    // reads out of band, or the two controls disagree by >25% (a mixed
    // host window), the bench re-runs the BenchOne pair itself —
    // target and control interleaved, 3 reps, min-taken, in ONE tight
    // window — and emits the adjudication beside the reading, so the
    // four-rounds-running post-hoc drill-down happens before the
    // artifact lands. Bands restate HERE and in BASELINE.md together.
    val bands: Seq[(String, Double, Double)] = Seq(
      // q51 trio restated r22 after the connectedComponents structural
      // convergence change (OPTIMIZATION_r22.md change 1: the fixpoint
      // is now certified on the converged relation itself — one full
      // no-op star iteration plus the except confirm removed, cc-loop
      // 44 → 24 jobs, then 17 once the per-pair check landed). Same-
      // window A/B: q51 4.100 → 3.216, q51c
      // 3.512 → 2.531, q51e 3.652 → 2.615; control-normalized
      // full-bench readings 2.64 / 2.41 / 2.26. Old bands were
      // 2.1–3.4 / 2.0–3.4 / 2.1–3.2.
      ("q51_dedup_clusters", 2.0, 3.2),
      ("q51c_dedup_clusters_winnowed", 1.8, 3.0),
      ("q51e_dedup_clusters_lsh", 1.7, 2.9),
      ("q101b_semantic_dedup_blocked", 0.85, 1.25),
      ("q104_duplicated_spans", 1.55, 1.85),
      ("q104b_duplicated_spans_winnowed", 0.50, 0.95),
      ("q134_ngram_diversity", 0.55, 0.95),
      ("q136_embedding_coherence", 0.40, 0.65),
      ("q151d_triangle_census_winnowed", 0.40, 1.00),
      ("q162_mixture_preference_pipeline", 1.4, 2.1),
      // restated r20 from NEUTRAL-window evidence (VERDICT r19 item 5):
      // judge's calm reading 2.89, in-session pair 3.03 — the old 3.0
      // floor was set from loaded-window readings and read too high
      ("q122_curation_pipeline", 2.8, 3.4),
      // restated r21 after the Graph.symmetric pre-partition halved
      // the per-round ball cost (OPTIMIZATION_r21.md change 4:
      // reversed-order A/B 2.69-2.84 s -> 1.32-1.44 s per hyperBall
      // call); old bands were 1.3-2.3 / 1.2-2.6
      ("q167b_neighborhood_hyperball", 0.8, 1.8),
      ("q167d_hyperball_collapsed", 0.9, 2.1))
    def normOf(sec: Double): Double =
      if (controlRatio > 0 && sec > 0) sec / controlRatio else -1.0
    val resMap = results.toMap
    val bandReads = bands.flatMap { case (n, lo, hi) =>
      resMap.get(n).filter(_ > 0).map(sec => (n, normOf(sec), lo, hi)) }
    val outOfBand = bandReads.filter { case (_, nv, lo, hi) =>
      nv > 0 && (nv > hi || nv < lo) }
    val controlsDisagree = controlRatio > 0 && control2Ratio > 0 &&
      (controlRatio / control2Ratio > 1.25 ||
        control2Ratio / controlRatio > 1.25)
    // ALL flagged rows adjudicate, worst-first, capped at 6 (r20 —
    // VERDICT r19 item 5: a 3-slot cap spent itself on the biggest
    // excursions, which in a loaded window are exactly the load
    // artifacts, leaving real movement unadjudicated) + the second
    // control when the two controls split (its pair vs control-1
    // separates host window from real movement)
    val toAdjudicate = (outOfBand
      .sortBy { case (_, nv, lo, hi) =>
        -math.max(nv / hi, lo / math.max(nv, 1e-9)) }
      .take(6).map(_._1) ++
      (if (controlsDisagree) Seq(control2Name) else Nil)).distinct
    val adjudications = toAdjudicate.map { q =>
      val reps = (1 to 3).map(_ =>
        (timeOnce(spark, sfDir, q), timeOnce(spark, sfDir, controlName)))
      val tMin = reps.map(_._1).filter(_ >= 0)
        .minOption.getOrElse(-1.0)
      val cMin = reps.map(_._2).filter(_ >= 0)
        .minOption.getOrElse(-1.0)
      val pairRatio = if (tMin > 0 && cMin > 0) tMin / cMin else -1.0
      val pairNorm = if (pairRatio > 0) pairRatio * 0.52 else -1.0
      val verdict = bands.find(_._1 == q) match {
        case Some((_, lo, hi)) if pairNorm > 0 =>
          if (pairNorm >= lo * 0.9 && pairNorm <= hi * 1.1)
            "load_excursion_pair_in_band"
          else if (pairNorm > hi * 1.25) "confirmed_above_band"
          else if (pairNorm < lo * 0.75) "confirmed_below_band"
          else "borderline"
        // currently unreachable (every adjudicated name comes from
        // the band table), but a future control2 without a band row
        // must report its successful pair, not a phantom error
        case None if pairNorm > 0 => "recorded_no_band"
        case _ => "pair_errored"
      }
      f"""{"query":"$q","pair_target_min":$tMin%.3f,"pair_control_min":$cMin%.3f,"pair_ratio":$pairRatio%.3f,"pair_norm":$pairNorm%.3f,"verdict":"$verdict"}"""
    }
    val bandFlagsJson = outOfBand.map { case (n, nv, lo, hi) =>
      f"""{"query":"$n","norm":$nv%.3f,"band_lo":$lo%.2f,"band_hi":$hi%.2f}""" }
      .mkString("[", ",", "]")
    val adjudicationJson = adjudications.mkString("[", ",", "]")

    val recallJson = (annRecalls ++ pairRecalls ++ semanticRecall)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val extJson = passExt.map(v => f"$v%.2f").mkString("[", ",", "]")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","load_before":$loadBefore%.2f,"load_after":$loadAfter%.2f,"ext_cpu_passes":$extJson,"loaded":$loaded,"control":"$controlName","control_sec":$controlSec%.3f,"control_band_mid":$controlBandMid%.2f,"control_ratio":$controlRatio%.3f,"control2":"$control2Name","control2_sec":$control2Sec%.3f,"control2_band_mid":$control2BandMid%.2f,"control2_ratio":$control2Ratio%.3f,"band_flags":$bandFlagsJson,"adjudication":$adjudicationJson,"recall":$recallJson,"sink_batches":$sinkJson,"sink_control_sec":$sinkControlSec%.3f,"sink_vet_median_norm":${sinkVetMedianNorm(controlSec)}%.3f,"propagation_rounds":$propJson,"zorder_skip_ratio":$zratio%.2f,"hilbert_skip_ratio":$hratio%.2f}""")
    spark.stop()
  }

  private def force(spark: SparkSession, sfDir: String, name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

  /** One forced run of a registered query, in seconds; -1 (logged) when
    * it fails, so one broken query never aborts the artifact. */
  private def timeOnce(spark: SparkSession, sfDir: String, name: String): Double = {
    val t0 = System.nanoTime()
    val ok = try { force(spark, sfDir, name); true } catch {
      case NonFatal(e) => System.err.println(s"[bench] $name: ${e.getMessage}"); false
    }
    if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
  }

  /** The streaming semantic-dedup sink section, shared with
    * [[BenchSink]] so its drill-down runs exactly this code: q101g's
    * loop ([[SemanticBlocking.publishSeed]] seeds `table` with the
    * blocked-kept 4/5 of the embeddings; the other 1/5 arrives in 3
    * staged micro-batches). The q12 control is timed right before batch
    * 0, in the sink's own load window. Returns (control seconds,
    * per-batch stats); a failure is logged and yields no stats (and
    * control -1 if not yet timed). */
  def sinkSection(spark: SparkSession, sfDir: String,
      table: String): (Double, Seq[CurationStream.BatchStat]) = {
    var controlSec = -1.0
    val stats =
      try {
        val (cents, crawl) = SemanticBlocking.publishSeed(spark,
          graft.core.Tables.load(spark, sfDir, "embeddings"), table)
        val staged = CurationStream.stageEmbeddings(crawl, parts = 3)
        controlSec = timeOnce(spark, sfDir, "q12_fact_join")
        val out = CurationStream.runSemanticDedupSink(spark, staged, table,
          cents, SemanticBlocking.Threshold, SemanticBlocking.Probes)
        spark.sql(s"DROP TABLE IF EXISTS $table")
        out
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] sink stats: ${e.getMessage}"); Seq.empty
      }
    (controlSec, stats)
  }
}
