package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query steady-state seconds.
  *
  * Protocol: each query runs once untimed (JIT + codegen + file-index
  * warmup; a fleet-wide service pays this once, not per query), then
  * three timed runs with a `noop`-sink write so the FULL result —
  * including final sort and all columns — is materialized (`count()`
  * would let Catalyst prune most of the plan).
  *
  * The timed runs are INTERLEAVED round-robin across queries (iteration 1
  * of every query, then iteration 2 of every query, ...) rather than
  * back-to-back per query: the round-5 driver run showed a time-local
  * co-tenant disturbance poisoning ALL samples of the handful of queries
  * that happened to be running during the spike (d8/d9/e1 at 5-6x with
  * zero code change), which min-of-N cannot absorb when the N samples are
  * seconds apart. Round-robin spaces one query's samples the full sweep
  * apart (~40s), so a spike inflates at most one sample of many queries
  * — which the MIN then discards — instead of every sample of a few.
  *
  * Per query, the MIN (steady-state estimator), MEDIAN (typical-run
  * estimator) and MAX are all written to BENCH_DETAIL.json, so the
  * spread itself is visible evidence of measurement noise; `value` stays
  * the min-sum for continuity with earlier rounds.
  *
  * A query that throws reports -1 (never a small-but-fake elapsed time)
  * and is listed in `failed`. If a previous round's BENCH_r*.json is
  * present in the working directory, `delta_vs_prev` carries
  * current_min / previous_min per query (>1 = regression); if BASELINE.md
  * is present, `vs_baseline` carries current_min / best-known-min (the
  * explicit 2x-gate denominator).
  */
object Bench {

  /** Extract per-query seconds from a previous BENCH file. The file is a
    * driver-side wrapper whose `tail` embeds the JSON line with escaped
    * quotes, so this parses name:number pairs textually rather than as
    * JSON; names are validated against the current query set.
    *
    * Scoping matters: a BENCH file may carry the same query names again
    * in later diagnostic objects (medians, delta ratios), so times are
    * taken from the substring starting at the `"queries":{` marker up to
    * its closing `}` when the marker survived the driver's tail
    * truncation — PLUS everything BEFORE the marker, which in the
    * current two-line format is the surviving suffix of the full-map
    * `queries_full` line (true min times, never ratios; historical
    * diagnostic repeats all sat AFTER the queries object). Without a
    * marker, FIRST occurrence wins over the whole text. */
  private[graft] def prevTimes(text: String, names: Set[String]): Map[String, Double] = {
    val marker = """\\?"queries\\?":\{""".r
    val scoped = marker.findFirstMatchIn(text).map { m =>
      val rest = text.substring(m.end)
      text.substring(0, m.start) + "," +
        rest.substring(0, math.max(0, rest.indexOf('}')))
    }.getOrElse(text)
    val pair = """\\?"([a-z0-9_]+)\\?":(-?[0-9]+\.[0-9]+)""".r
    pair.findAllMatchIn(scoped)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter { case (k, v) => names.contains(k) && v > 0 }
      .foldLeft(Map.empty[String, Double]) { case (acc, (k, v)) =>
        if (acc.contains(k)) acc else acc + (k -> v) // first occurrence wins
      }
  }

  /** Parse `| query | seconds |` rows out of BASELINE.md; names are
    * validated against the current query set, non-positive times dropped.
    * Struck-through names (`~~old_row~~`, the algorithm-change history)
    * don't match the name pattern, so history rows never re-enter the
    * gate. */
  private[graft] def baselineTimes(text: String, names: Set[String]): Map[String, Double] = {
    val row = """\|\s*([a-z0-9_]+)\s*\|\s*([0-9]+\.[0-9]+)\s*\|""".r
    row.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter { case (k, v) => names.contains(k) && v > 0 }
      .toMap
  }

  /** Name of the machine-epoch calibration row in BASELINE.md. */
  private[graft] val CalibrationKey = "_calibration"

  /** Name of the SWEEP-protocol calibration row in BASELINE.md. The gate
    * epoch's numerator is the median of calibration samples taken INSIDE
    * the interleaved sweep; dividing that by the quiet min-of-5 pin mixes
    * two systematically-offset estimators (sweep samples ran 1.17-2.0x
    * the quiet pin even on an undisturbed box), persistently deflating
    * every calibrated ratio. When this row is present it is the epoch
    * denominator, so numerator and denominator share the estimator; the
    * quiet pin stays for the quiet-run ratchet protocol. */
  private[graft] val SweepCalibrationKey = "_calibration_sweep"

  /** Fixed calibration workload: a small multi-stage range→shuffle→agg
    * job, independent of the query set and the test data. It measures
    * the per-stage fixed overhead + core throughput of THIS machine
    * epoch — exactly the term that drifted ~1.3× between the r4/r5
    * baseline epoch and r8 (VERDICT r8: nine sub-second queries breached
    * the 2× gate purely on epoch drift). The ratio of the measured value
    * to the pinned `_calibration` row in BASELINE.md scales the gate:
    * `vs_baseline_calibrated = (t / baseline) / (calib / calib_pinned)`.
    * Min of 5 after 2 warm runs — the same steady-state estimator as the
    * per-query protocol. */
  private[graft] def calibrateOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.sum
    val t0 = System.nanoTime()
    spark.range(0L, 2000000L, 1L, 8)
      .selectExpr("id % 1000 AS k", "id")
      .groupBy("k").agg(sum("id").as("s"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private[graft] def calibrate(spark: SparkSession): Double = {
    calibrateOnce(spark); calibrateOnce(spark)
    (1 to 5).map(_ => calibrateOnce(spark)).min
  }

  /** The stdout contract output, sized to the driver's bounded tail.
    *
    * Returns (optional full-map line, contract line). The contract line
    * carries the fixed fields plus as many per-query times as fit a
    * [[LineBudget]]-byte budget, filled in DESCENDING cost order so the
    * perf-gated queries always survive, with `queries_omitted` and a
    * `detail` pointer to the committed full snapshot. When anything was
    * omitted, the full-map line is emitted FIRST so the tail window's
    * remaining bytes carry a suffix of the complete map. */
  private[graft] val LineBudget = 1900
  private[graft] def contractLines(mins: Seq[(String, Double)], totalMin: Double,
      failed: Seq[String], sfDir: String, detailPath: String,
      cpus: Int = -1): (Option[String], String) = {
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def fmt4(d: Double): String = if (d < 0) "-1" else f"$d%.4f"
    val fixedHead = Seq(
      "metric" -> "\"total\"",
      "value" -> f"$totalMin%.4f",
      "unit" -> "\"sec\"")
    // the session's EFFECTIVE core count (sc.defaultParallelism), printed
    // so the driver's scaling probe reads the measured width instead of
    // inferring it from per-query ratios (overhead-bound rows at bench SF
    // are core-count-insensitive, which looks like an ignored env var)
    val fixedTail = (if (cpus > 0) Seq("cpus" -> cpus.toString) else Seq.empty) ++ Seq(
      "failed" -> failed.map("\"" + _ + "\"").mkString("[", ",", "]"),
      "sf" -> ("\"" + sfDir + "\""),
      "detail" -> ("\"" + detailPath + "\""))
    val fixedLen = obj(fixedHead ++ fixedTail).length +
      "\"queries\":{},\"queries_omitted\":000,".length
    val entries = mins.sortBy { case (_, t) => -t }
      .map { case (k, v) => (k, "\"" + k + "\":" + fmt4(v)) }
    val taken = {
      var used = fixedLen
      entries.takeWhile { case (_, e) =>
        val ok = used + e.length + 1 <= LineBudget
        if (ok) used += e.length + 1
        ok
      }.map(_._1).toSet
    }
    val included = mins.filter { case (k, _) => taken(k) }
    val line = obj(fixedHead ++ Seq(
      "queries" -> obj(included.map { case (k, v) => k -> fmt4(v) }),
      "queries_omitted" -> (mins.size - included.size).toString) ++ fixedTail)
    val fullLine =
      if (included.size < mins.size)
        Some(obj(Seq("queries_full" -> obj(mins.map { case (k, v) => k -> fmt4(v) }))))
      else None
    (fullLine, line)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SessionTuning.driver(defaultCores = 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // warmup pass (untimed; failures surface in the timed pass)
    SparkEntry.queries.foreach { case (_, fn) =>
      try runOnce(fn) catch { case _: Throwable => () }
    }

    // round-robin: iteration i of EVERY query before iteration i+1 of any.
    // Calibration is sampled INSIDE the sweep (once per iteration, after
    // the calibration workload is warm) so the epoch factor integrates
    // the SAME machine disturbance the query samples saw — an
    // end-of-run-only calibration can catch a quiet instant on a loaded
    // box and measure epoch < 1 while every query ran inflated, turning
    // pure co-tenant noise into apparent calibrated breaches (observed
    // in the round-11 continuation: v1/v4 "breaches" at measured epoch
    // 0.80 whose raw minimums matched their r10 canonical values).
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // Per-iteration SHUFFLED sweep order (r12 verdict item 3): a fixed
    // alphabetical round-robin maps any time-local co-tenant spike onto
    // one query FAMILY (the r12 run's d*/e* cluster), manufacturing
    // correlated watch rows that cost an adjudication each. A seeded
    // shuffle (seed recorded in the detail JSON; SPARK_GRAFT_BENCH_SEED
    // overrides for reproduction) scatters a spike window across
    // unrelated names, where per-query MIN-of-3 absorbs it. Each
    // iteration draws its own permutation so a disturbance spanning one
    // full sweep cannot track the same neighborhood three times.
    val sweepSeed = sys.env.getOrElse("SPARK_GRAFT_BENCH_SEED", "13").toLong
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    calibrateOnce(spark); calibrateOnce(spark) // warm the calibration job
    val sweepCalib = scala.collection.mutable.ArrayBuffer.empty[Double]
    (1 to 3).foreach { iter =>
      val perm = new scala.util.Random(sweepSeed + iter).shuffle(ordered)
      perm.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try { runOnce(fn); samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
      }
      sweepCalib += calibrateOnce(spark)
    }
    System.err.println(s"[bench] local gate routes: ${LocalGate.summary}")
    val results = ordered.map { case (name, _) => (name, samples(name)) }
    def fmt(d: Double): String = if (d < 0) "-1" else d.toString
    val mins = results.map { case (n, ts) => n -> (if (ts.size == 3) ts.min else -1.0) }
    val medians = results.map { case (n, ts) => n -> (if (ts.size == 3) ts.sorted.apply(1) else -1.0) }
    val maxs = results.map { case (n, ts) => n -> (if (ts.size == 3) ts.max else -1.0) }
    val failed = mins.collect { case (n, t) if t < 0 => n }

    // previous round's per-query minimums, if a BENCH_r*.json is present
    val prev: Map[String, Double] = {
      val dir = new java.io.File(".")
      val benches = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.matches("BENCH_r\\d+\\.json")).sortBy(_.getName)
      benches.lastOption.map { f =>
        try prevTimes(new String(java.nio.file.Files.readAllBytes(f.toPath)),
          SparkEntry.queries.keySet)
        catch { case _: Throwable => Map.empty[String, Double] }
      }.getOrElse(Map.empty)
    }
    val deltas = mins.collect {
      case (n, t) if t > 0 && prev.get(n).exists(_ > 0) =>
        n -> BigDecimal(t / prev(n)).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    }

    // explicit 2x-gate denominator: best-known per-query min from BASELINE.md
    val baseline: Map[String, Double] = {
      val f = new java.io.File("BASELINE.md")
      if (!f.exists()) Map.empty
      else try baselineTimes(new String(java.nio.file.Files.readAllBytes(f.toPath)),
        SparkEntry.queries.keySet + CalibrationKey + SweepCalibrationKey)
      catch { case _: Throwable => Map.empty[String, Double] }
    }
    // machine-epoch normalization: the fixed calibration workload's ratio
    // vs its pinned baseline row divides every gate ratio, so a uniformly
    // slower (or faster) machine epoch cannot masquerade as per-query
    // regressions (or hide them). The GATE epoch is the MEDIAN of the
    // sweep-interleaved samples (same disturbance window as the query
    // times); the quiet min-of-5 is still measured and reported so the
    // two can be compared (quiet << sweep = the box was loaded during
    // the sweep, exactly when normalizing by quiet would over-inflate).
    val calibQuiet = calibrate(spark)
    val calib =
      if (sweepCalib.nonEmpty) sweepCalib.sorted.apply(sweepCalib.size / 2)
      else calibQuiet
    // Same-estimator epoch: the sweep-median numerator divides by the
    // sweep-protocol pin when BASELINE.md carries one (`_calibration_sweep`);
    // the quiet pin is only a fallback for baselines predating that row.
    // Mixing estimators (sweep numerator / quiet denominator) made
    // epoch_factor persistently >1, uniformly deflating every calibrated
    // ratio — loose in exactly the direction that hides real regressions.
    val epochPin = baseline.get(SweepCalibrationKey).filter(_ > 0)
      .orElse(baseline.get(CalibrationKey).filter(_ > 0))
    val epoch = epochPin.map(calib / _)
    val vsBaseline = mins.collect {
      case (n, t) if t > 0 && baseline.get(n).exists(_ > 0) =>
        n -> BigDecimal(t / baseline(n)).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val vsCalibrated = vsBaseline.map { case (n, r) =>
      n -> BigDecimal(r / epoch.getOrElse(1.0)).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val rawByName = vsBaseline.toMap
    vsCalibrated.filter(_._2 > 2.0).sortBy(-_._2).foreach { case (n, r) =>
      System.err.println(f"[bench] $n is $r%.1fx its baseline min (epoch-normalized; raw ${rawByName.getOrElse(n, -1.0)}%.2fx) — regression to explain")
    }

    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val totalMin = mins.collect { case (_, t) if t > 0 => t }.sum
    val totalMedian = medians.collect { case (_, t) if t > 0 => t }.sum
    // Round number of the snapshot this run will write (the driver's own
    // run is the last writer, so its snapshot is the canonical gate run).
    val roundNum = {
      val latest = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .flatMap(f => "BENCH_r(\\d+)\\.json".r.findFirstMatchIn(f.getName).map(_.group(1).toInt))
        .foldLeft(0)(math.max)
      latest + 1
    }
    val detailPath = f"docs/BENCH_DETAIL_r$roundNum%02d.json"
    // Contract line: stdout, ONE json object the driver can parse. The
    // driver keeps only the LAST ~2000 chars of stdout — a line carrying
    // all queries at 4 dp (~25 B/query) outgrew that window around 80
    // queries, truncating its HEAD and leaving the driver with
    // parsed:null (observed in the r9/r10 artifacts). So the final line
    // is SIZED TO THE WINDOW: fixed contract fields plus as many
    // per-query times as fit, filled in DESCENDING cost order (the
    // perf-gated queries always survive), with `queries_omitted` + a
    // `detail` pointer to the committed full snapshot. A full-map line
    // printed just before it lets the window's remaining bytes carry a
    // suffix of the complete map for round-over-round archaeology.
    val (fullLine, line) = contractLines(mins, totalMin, failed, sfDir, detailPath,
      spark.sparkContext.defaultParallelism)
    fullLine.foreach(println)
    println(line)
    val detail = obj(Seq(
      "min_total" -> totalMin.toString,
      "median_total" -> totalMedian.toString,
      "queries_min" -> obj(mins.map { case (k, v) => k -> fmt(v) }),
      "queries_median" -> obj(medians.map { case (k, v) => k -> fmt(v) }),
      "queries_max" -> obj(maxs.map { case (k, v) => k -> fmt(v) }),
      "delta_vs_prev" -> obj(deltas.map { case (k, v) => k -> v.toString }),
      "vs_baseline" -> obj(vsBaseline.map { case (k, v) => k -> v.toString }),
      "vs_baseline_calibrated" -> obj(vsCalibrated.map { case (k, v) => k -> v.toString }),
      "sweep_seed" -> sweepSeed.toString,
      "calibration_sec" -> f"$calib%.4f",
      "calibration_quiet" -> f"$calibQuiet%.4f",
      "calibration_sweep" -> sweepCalib.map(c => f"$c%.4f").mkString("[", ",", "]"),
      "epoch_factor" -> epoch.map(e => f"$e%.3f").getOrElse("null"),
      "epoch_pin" -> epochPin.map(p => f"$p%.4f").getOrElse("null"),
      "epoch_pin_kind" -> (if (baseline.get(SweepCalibrationKey).exists(_ > 0)) "\"sweep\""
        else if (baseline.get(CalibrationKey).exists(_ > 0)) "\"quiet\"" else "null"),
      "failed" -> failed.map("\"" + _ + "\"").mkString("[", ",", "]"),
      "sf" -> ("\"" + sfDir + "\"")))
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_DETAIL.json"),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    // Per-ROUND snapshot (r9 verdict item 8): BENCH_r0N.json's driver-side
    // `tail` truncates the head of the per-query map, so round-over-round
    // deltas lost a third of the queries. The full detail is additionally
    // written to docs/BENCH_DETAIL_r0N.json, N inferred as latest
    // BENCH_r*.json + 1 (the round whose driver bench has not run yet);
    // the driver's own run is the last writer, so the committed snapshot
    // is the canonical gate run.
    try {
      val p = java.nio.file.Paths.get(detailPath)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (detail + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] round snapshot write failed: $e") }
    spark.stop()
  }
}
