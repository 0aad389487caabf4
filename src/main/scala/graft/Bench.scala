package graft

import org.apache.spark.sql.SparkSession

object Bench {

  /** Contention signature (VERDICT r12): a query's max/min spread over
    * its reps beyond this factor means a transient host-contention
    * window poisoned some reps — normal spread on this host is ±30%,
    * the r12 incident showed 3–13× on an alphabetically contiguous
    * block. Such queries are re-run once AFTER the sweep (when the
    * contention window has passed) and the better median wins. */
  val SpreadRetryFactor = 3.0

  /** Retry-pass caps (VERDICT r16 #1): the refine pass must never be
    * able to time out the whole artifact. At most [[RetryTopK]]
    * queries re-run (worst spreads first) and the pass stops once it
    * has spent [[RetryWallFraction]] of the main sweep's wall —
    * whatever was not refined keeps its sweep median (the query is
    * proven green; only the timing is noisy). */
  val RetryTopK = 8
  val RetryWallFraction = 0.25

  /** Baseline-refresh guard band (VERDICT r16 #2): the committed
    * bench_results.json is the anchor every later run's
    * ratio_vs_committed reads against, so a contended sweep must
    * never silently become the anchor (the r16 baseline refresh ran
    * at median 1.37× inflation, load 2.11, and re-anchored the ratio
    * at a reassuring 0.9988). A full sweep may overwrite the
    * committed artifact only when the host was quiet when it started
    * AND it agrees with the committed anchor to within host noise;
    * otherwise it lands in bench_results.candidate.json as context.
    * SPARK_GRAFT_BASELINE_FORCE=1 overrides (for installing a NEW
    * clean anchor that legitimately disagrees with a bad old one). */
  val GuardMaxLoad = 1.5
  val GuardRatioLo = 0.85
  val GuardRatioHi = 1.15

  /** True iff the rep spread carries the contention signature. One
    * rep has no spread; a zero min would make the ratio meaningless
    * (and means the timer broke, not the host). */
  def needsRetry(times: Seq[Double]): Boolean =
    times.size >= 2 && times.min > 0.0 &&
      times.max / times.min > SpreadRetryFactor

  /** Upper median — the (reps/2)-indexed order statistic the suite has
    * always reported. */
  def median(times: Seq[Double]): Double = times.sorted.apply(times.size / 2)

  /** The post-retry statistic: the better (smaller) of the two sweeps'
    * medians — contention only ever inflates. */
  def betterMedian(first: Seq[Double], second: Seq[Double]): Double =
    math.min(median(first), median(second))

  /** The retry-pass worklist: flagged queries, worst spread first,
    * capped at `topK` — the count half of the refine budget. */
  def retryPick(spreads: Seq[(String, Double)], topK: Int = RetryTopK): Seq[String] =
    spreads.sortBy(-_._2).take(topK).map(_._1)

  /** The refresh decision: load unknown (-1, platform hides it)
    * passes the load check; ratio absent (no committed anchor at this
    * sf — bootstrap) passes the ratio check. */
  def baselineGuardOk(loadBefore: Double, ratio: Option[Double]): Boolean =
    loadBefore < GuardMaxLoad &&
      ratio.forall(r => r >= GuardRatioLo && r <= GuardRatioHi)

  /** 1-minute system load average, or -1 when the platform hides it —
    * recorded before and after the sweep so a contended run is
    * self-describing in the artifact (VERDICT r14 #3: a 1.15×-inflated
    * driver sweep needed forensics to tell from a regression). */
  def loadAvg(): Double =
    try java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Throwable => -1.0 }

  /** Per-query medians from a previously committed bench artifact (our
    * own writer's format), for the anchor-ratio context field. */
  def parseCommitted(path: String): Option[(String, Map[String, Double])] =
    try {
      val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      val sf = "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1))
      val qs = "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(txt).map(_.group(1))
      for (s <- sf; q <- qs) yield (s,
        "\"([A-Za-z0-9_]+)\":([0-9.Ee+-]+)".r.findAllMatchIn(q)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap)
    } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    // a misspelled SPARK_GRAFT_ONLY name fails here, before any Spark work
    val selected = SparkEntry.select(SparkEntry.onlyNames).map(q => (q.name, q.build))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Full materialization of every row (review r04: a plain .count()
    // lets the optimizer prune the aggregate expressions and value
    // columns being benchmarked — count-star over a scan reads little
    // more than parquet footers, so timings measured a row-counting
    // plan, not the operator). toRdd executes the COMPLETE physical
    // plan and fails loudly instead of recording a time-to-failure.
    def run(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()
    // Warm-up: session/codegen/parquet-footer costs land here, not in
    // whichever query sorts first. TWO warm-ups (VERDICT r8 #3): one on
    // self-contained bundled data (ts_lemire_twa — immune to fixture
    // regeneration, so codegen/session warm-up ALWAYS happens) and one
    // on the benched fixture (footer/caching). Guarded — a failed
    // warm-up must not abort the benchmark — and the outcome is
    // recorded in the emitted JSON so a broken warm-up is visible in
    // the round artifact instead of silently poisoning the
    // alphabetically-first measurements.
    val warmup = Seq("ts_lemire_twa", "ts_range_agg_avg").map { name =>
      try { run(SparkEntry.queries(name)(spark, sfDir)); name -> "ok" }
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $name failed: ${e.getMessage}")
        name -> "failed" }
    }
    // Per-query MEDIAN of `reps` runs (review r04 #8: sf0.1 wall times
    // swing ±30% on this host; a single sample confounds host noise
    // with plan changes). SPARK_GRAFT_ONLY=q1,q2 narrows the set while
    // iterating; SPARK_GRAFT_REPS=1 restores the one-shot run.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps (use 1 for one-shot runs)")
    // run context, read BEFORE this run overwrites the artifact.
    // A narrowed (SPARK_GRAFT_ONLY) run writes a .partial file so the
    // committed full-sweep artifact — the anchor-ratio baseline —
    // survives iterating on single queries.
    val explicitOut = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val isPartial = sys.env.contains("SPARK_GRAFT_ONLY")
    val outPath = explicitOut.getOrElse(
      if (isPartial) "bench_results.partial.json" else "bench_results.json")
    val committed = parseCommitted("bench_results.json")
    val forceBaseline = sys.env.get("SPARK_GRAFT_BASELINE_FORCE").contains("1")
    val loadBefore = loadAvg()
    def runTimes(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Seq[Double], Boolean) = {
      val times = (1 to reps).iterator.map { _ =>
        val t0 = System.nanoTime()
        try { run(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); None }
      }.takeWhile(_.isDefined).flatten.toSeq // a failed rep marks the query failed
      (times, times.size == reps)
    }
    // ---- phase 1: the full sweep (strict — completes before any retry)
    val t0Sweep = System.nanoTime()
    val firstPass = selected.map { case (name, fn) =>
      val (times, ok) = runTimes(name, fn)
      (name, fn, times, ok)
    }
    val sweepWall = (System.nanoTime() - t0Sweep) / 1e9

    // Emit the artifact + (on the final call) the stdout contract.
    // WRITE-THEN-REFINE (VERDICT r16 #1): the complete sweep JSON
    // lands on disk BEFORE any retry work and is rewritten after each
    // refined query, so a killed/timed-out refine pass can only ever
    // lose refinement, never the round's timing data (BENCH_r16 was
    // rc=124 with parsed:null because the artifact was written last).
    def emit(results: Seq[(String, Double, Boolean, Boolean)],
        retrySkipped: Seq[String], phase: String, toStdout: Boolean): Unit = {
      val qs = results.map { case (k, v, ok, _) =>
        "\"" + k + "\":" + (if (ok) v.toString else "null")
      }.mkString("{", ",", "}")
      // failures are excluded from total and reported — a broken query
      // must never read as a speedup
      val failed = results.filterNot(_._3).map("\"" + _._1 + "\"").mkString("[", ",", "]")
      val retried = results.filter(_._4).map("\"" + _._1 + "\"").mkString("[", ",", "]")
      val skipped = retrySkipped.map("\"" + _ + "\"").mkString("[", ",", "]")
      val total = results.filter(_._3).map(_._2).sum
      val wu = warmup.map { case (n, s) => "\"" + n + "\":\"" + s + "\"" }
        .mkString("{", ",", "}")
      // run context: loadavg around the sweep + the median per-query
      // ratio vs the committed artifact (same sf only) — the exact
      // statistic the r14 judge had to reconstruct by hand to prove a
      // 323s driver sweep was contention, not regression. ratio > ~1.1
      // with elevated loadavg = discount the totals.
      val loadNow = loadAvg()
      val ratio = committed match {
        case Some((csf, cq)) if csf == sfDir =>
          val rs = results.collect {
            case (n, v, true, _) if cq.getOrElse(n, 0.0) > 0.0 => v / cq(n)
          }.sorted
          if (rs.isEmpty) None else Some(rs(rs.size / 2))
        case _ => None
      }
      val ratioStr = ratio.map(r => f"$r%.4f").getOrElse("null")
      // BASELINE-REFRESH GUARD (VERDICT r16 #2): a full sweep only
      // overwrites the committed anchor when it is trustworthy as an
      // anchor; a guarded-out sweep diverts to the candidate file and
      // says so in both files' "baseline_guard" field.
      val guardApplies = explicitOut.isEmpty && !isPartial && !forceBaseline &&
        committed.exists(_._1 == sfDir)
      val guardOk = baselineGuardOk(loadBefore, ratio)
      val (target, guardNote) =
        if (guardApplies && !guardOk)
          ("bench_results.candidate.json",
            f"diverted(load=$loadBefore%.2f,ratio=$ratioStr)")
        else (outPath,
          if (forceBaseline) "forced"
          else if (!guardApplies) "not-applicable" else "ok")
      val ctx = s""""load_avg_before":$loadBefore,"load_avg_after":$loadNow,""" +
        s""""ratio_vs_committed":$ratioStr,"sweep_wall":$sweepWall,""" +
        s""""phase":"$phase","baseline_guard":"$guardNote","retry_skipped":$skipped"""
      val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"retried":$retried,"sf":"$sfDir","reps":$reps,"stat":"median","warmup":$wu,$ctx}"""
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(target), json + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $target: ${e.getMessage}") }
      if (toStdout) {
        println(json)
        // A standalone summary line LAST (VERDICT r9 #5): the driver
        // keeps only a 2000-char stdout tail, and with the 190+-entry
        // per-query map ahead of it the totals were clipped out of
        // BENCH_r08/r09. Totals-last means the tail always carries
        // them.
        println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"retried":$retried,"sf":"$sfDir","reps":$reps,"stat":"median","n_queries":${results.size},"warmup":$wu,$ctx}""")
      }
    }

    val sweepResults = firstPass.map { case (name, _, times, ok) =>
      (name, if (ok) median(times) else 0.0, ok, false)
    }
    emit(sweepResults, Nil, "sweep", toStdout = false)

    // ---- phase 2: the BUDGETED outlier re-run (VERDICT r12 #2 +
    // r16 #1): queries whose rep spread carries the contention
    // signature run once more AFTER the sweep — by then the transient
    // window has passed — and the better median is the official
    // number. Worst spreads first, at most RetryTopK queries, and the
    // pass stops at RetryWallFraction of the sweep wall: a loaded
    // host can cost refinement, never the artifact. A failed retry
    // keeps the first median (the query itself is proven green).
    // Retried/skipped names are logged in the artifact so the
    // correction — or its absence — is auditable, never silent.
    val spreads = firstPass.collect {
      case (name, _, times, true) if needsRetry(times) =>
        name -> times.max / times.min
    }
    val picked = retryPick(spreads)
    val overCap = spreads.map(_._1).filterNot(picked.contains)
    val byName = firstPass.map(f => f._1 -> f).toMap
    val retryBudget = sweepWall * RetryWallFraction
    val t0Retry = System.nanoTime()
    var results = sweepResults
    var skipped = overCap.toList
    picked.foreach { name =>
      val elapsed = (System.nanoTime() - t0Retry) / 1e9
      if (elapsed > retryBudget) {
        System.err.println(f"[bench] retry budget spent (${elapsed}%.0fs > " +
          f"$retryBudget%.0fs) — keeping sweep median for $name")
        skipped = skipped :+ name
      } else {
        val (_, fn, times, _) = byName(name)
        System.err.println(f"[bench] $name rep spread ${times.max / times.min}%.1fx " +
          s"> ${SpreadRetryFactor}x — re-running after sweep")
        val (times2, ok2) = runTimes(name, fn)
        val m = if (ok2) betterMedian(times, times2) else median(times)
        results = results.map {
          case (n, _, ok, _) if n == name => (n, m, ok, true)
          case other => other
        }
        emit(results, skipped, "refine", toStdout = false)
      }
    }
    emit(results, skipped, "final", toStdout = true)
    spark.stop()
  }
}
