package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Sketch-based approximate twins of exact operators — the 100 TB
  * fallback when exactness is negotiable and a second pass is not:
  *
  *  - distinct counts → HyperLogLog++ (`approx_count_distinct`): fixed
  *    ~kilobyte sketch per group regardless of cardinality, mergeable →
  *    map-side combined, one shuffle of sketches instead of an Expand
  *    pass over every (group, user) pair (q10's exact plan);
  *  - percentiles → KLL-style quantile sketch (`percentile_approx`):
  *    one pass, bounded memory, mergeable — replaces q15's two-pass
  *    exact formulation when a rank-error tolerance is acceptable.
  *
  * The raw sketch values are deliberately NOT oracle rows (approximate
  * results cannot hash-match DuckDB); instead [[a1HllBounds]] /
  * [[a2QuantileBounds]] put the ERROR-BOUND AUDIT itself in the oracle
  * inventory — exact counts both engines agree on plus an in-contract
  * verdict DuckDB pins to 1 — so the approximate path is driver-gated,
  * not only spec-gated (ApproxSpec keeps the finer-grained bounds).
  */
object Approx {

  /** q10 twin: distinct users per event type via HLL++.
    * rsd = target relative standard deviation (default 5%). */
  def approxDistinctUsers(s: SparkSession, dir: String, rsd: Double = 0.05): DataFrame =
    Tables.events(s, dir).select("event_type", "user_id")
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), rsd).as("distinct_users"),
           count(lit(1)).as("cnt"))
      .orderBy("event_type")

  /** q15 twin: p50/p95 per event type via a quantile sketch.
    * accuracy a ⇒ rank error ≤ n/a per the Spark contract. */
  def approxPercentiles(s: SparkSession, dir: String, accuracy: Int = 10000): DataFrame =
    Tables.events(s, dir).select("event_type", "value")
      .groupBy("event_type")
      .agg(percentile_approx(col("value"), lit(0.5), lit(accuracy)).as("p50"),
           percentile_approx(col("value"), lit(0.95), lit(accuracy)).as("p95"),
           count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** a1: HLL error-bound audit as an ORACLE-ELIGIBLE row. The sketch
    * value itself cannot hash-match DuckDB, so the row carries what CAN:
    * the exact distinct count (both engines compute it) plus a boolean
    * verdict that the HLL estimate landed within the documented bound
    * (|est - exact| ≤ 3·rsd·exact, the 3σ envelope of Spark's rsd
    * contract). DuckDB asserts the verdict column is literally TRUE, so
    * a sketch drifting out of contract fails the driver gate, not just
    * a local spec. One scan: the exact distinct and the sketch ride the
    * same two-phase aggregate. */
  def a1HllBounds(s: SparkSession, dir: String, rsd: Double = 0.05): DataFrame =
    Tables.events(s, dir).select("event_type", "user_id")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_distinct"),
           approx_count_distinct(col("user_id"), rsd).as("est"))
      .select(col("event_type"), col("exact_distinct"),
        (abs(col("est") - col("exact_distinct"))
          <= lit(3 * rsd) * col("exact_distinct")).cast("int").as("within_bound"))
      .orderBy("event_type")

  val a1Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
      | cast(1 AS int) AS within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** a2: quantile-sketch rank-error audit, oracle-eligible by the same
    * construction as [[a1HllBounds]]: the approximate p50's EXACT rank
    * must sit within the documented ±1/accuracy rank envelope of the
    * true median (with a +1 slack for the duplicate-value mass at the
    * boundary value itself, which any rank definition attributes
    * wholesale). Shape: the sketch and the exact ranks share one
    * group-keyed aggregate each — the rank check joins the (groups)-row
    * sketch sliver broadcast back to the corpus, so nothing
    * corpus-sized shuffles twice. */
  def a2QuantileBounds(s: SparkSession, dir: String, accuracy: Int = 10000): DataFrame = {
    val e = Tables.events(s, dir).select("event_type", "value")
    val sk = e.groupBy("event_type")
      .agg(percentile_approx(col("value"), lit(0.5), lit(accuracy)).as("p50_est"))
    e.join(broadcast(sk), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           sum(when(col("value") < col("p50_est"), 1L).otherwise(0L)).as("rank_lo"),
           sum(when(col("value") <= col("p50_est"), 1L).otherwise(0L)).as("rank_hi"))
      .select(col("event_type"), col("n"),
        (col("rank_lo") <= (col("n") * 0.5 + col("n") / lit(accuracy.toDouble) + 1) &&
         col("rank_hi") >= (col("n") * 0.5 - col("n") / lit(accuracy.toDouble) - 1))
          .cast("int").as("within_bound"))
      .orderBy("event_type")
  }

  val a2Sql: String =
    """SELECT event_type, count(*) AS n, cast(1 AS int) AS within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** CMS counter grid: depth × width. Width 1024 at depth 3 bounds the
    * expected per-cell collision mass at N/1024 with the min over 3
    * independent rows — the standard Cormode-Muthukrishnan trade. */
  val CmsDepth = 3
  val CmsWidth = 1024L

  private def cmsBuckets(w: org.apache.spark.sql.Column) =
    posexplode(array((0 until CmsDepth).map(d =>
      graft.functions.Md5PrefixModF(concat(lit(s"cms$d|"), w), CmsWidth)): _*))

  /** a3: COUNT-MIN heavy hitters, fully driver-gated because this CMS
    * is DETERMINISTIC in both engines (Cormode & Muthukrishnan 2005 —
    * the sketch behind every streaming heavy-hitter service): the d×w
    * counter grid uses the same md5-prefix hashes as the dedup family,
    * so DuckDB rebuilds the EXACT integer estimates rather than pinning
    * a bounds verdict (stronger than a1/a2's construction, available
    * here because CMS is pure integer arithmetic over explicit hashes —
    * no engine-private sketch encoding involved). Output: the top-10
    * exact heavy hitters with their CMS estimate and the overcount
    * (est − exact ≥ 0 always, BY CONSTRUCTION the one-sided CMS error —
    * spec-asserted; it is exactly the collision mass in the word's
    * lightest counter row).
    *
    * Scale shape: counter updates ride ONE map-combined aggregate whose
    * output is ≤ d·w rows per partition REGARDLESS of vocabulary size —
    * the fixed-memory alternative to t11's vocab-bound exact shuffle
    * (at 100 TB web scale the vocab is billions of keys; the CMS grid
    * stays 3×1024). The exact top-10 here is the audit's ground truth
    * (vocab-bound, same cost class as t11); a pure-sketch deployment
    * keeps only the grid + a candidate heap. The estimate join probes
    * the 3072-row grid broadcast with the 10-row exploded sliver. */
  def a3CmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(TextAnalysis.words(col("text"))).as("w"))
    val grid = toks.select(cmsBuckets(col("w")).as(Seq("d", "b")))
      .groupBy("d", "b").agg(count(lit(1)).as("c"))
    val top = toks.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(desc("exact_cnt"), asc("w")).limit(10)
    top.select(col("w"), col("exact_cnt"), cmsBuckets(col("w")).as(Seq("d", "b")))
      .join(broadcast(grid), Seq("d", "b"))
      .groupBy("w", "exact_cnt").agg(min("c").as("est_cnt"))
      .select(col("w"), col("exact_cnt"), col("est_cnt"),
        (col("est_cnt") - col("exact_cnt")).as("overcount"))
      .orderBy(desc("exact_cnt"), asc("w"))
  }

  val a3Sql: String = {
    val depths = (0 until CmsDepth).map(d => s"($d)").mkString(",")
    s"""WITH toks AS (
       | SELECT unnest(regexp_extract_all(lower(text), '${TextAnalysis.WordRe}')) AS w
       | FROM documents),
       |grid AS (
       | SELECT d, b, count(*) AS c FROM (
       |  SELECT u.d AS d,
       |   ('0x' || substr(md5('cms' || u.d || '|' || w), 1, 15))::bigint % $CmsWidth AS b
       |  FROM toks, (VALUES $depths) u(d))
       | GROUP BY d, b),
       |top AS (
       | SELECT w, count(*) AS exact_cnt FROM toks GROUP BY w
       | ORDER BY exact_cnt DESC, w LIMIT 10),
       |est AS (
       | SELECT t.w, t.exact_cnt, min(g.c) AS est_cnt
       | FROM (SELECT w, exact_cnt, u.d AS d,
       |        ('0x' || substr(md5('cms' || u.d || '|' || w), 1, 15))::bigint % $CmsWidth AS b
       |       FROM top, (VALUES $depths) u(d)) t
       | JOIN grid g ON g.d = t.d AND g.b = t.b
       | GROUP BY t.w, t.exact_cnt)
       |SELECT w, exact_cnt, cast(est_cnt AS bigint) AS est_cnt,
       | cast(est_cnt - exact_cnt AS bigint) AS overcount
       |FROM est ORDER BY exact_cnt DESC, w""".stripMargin
  }

  // ---- a4: MERGEABLE distinct-count sketches (HLL union) ----

  /** Bound for the a4 verdict: Datasketches HLL at the default
    * lgConfigK=12 has standard error ≈ 1.04/√4096 ≈ 1.6%; 3σ with
    * union slack ⇒ 5%. */
  val HllUnionBound = 0.05

  /** a4: the MERGEABILITY contract of the distinct sketch, oracle-gated
    * by the a1 construction. Why it matters at 100 TB: a recurring
    * crawl can't re-scan history to count distinct users — each
    * snapshot ships its per-group HLL SKETCH (kilobytes), and totals
    * across groups/snapshots come from sketch UNION, never a rescan
    * (d15 is the membership analogue; this is the cardinality ledger).
    * The query groups per event type (sketch + exact in ONE two-phase
    * aggregate), unions the type sketches into the corpus-wide
    * estimate, and emits per-type rows plus an `__all__` row — each
    * carrying the exact distinct both engines compute and a verdict
    * that the estimate (per-type, and the UNIONED global) landed within
    * the documented envelope. DuckDB pins every verdict to 1, so a
    * sketch or union drifting out of contract fails the driver gate. */
  def a4HllUnion(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select("event_type", "user_id")
    val perType = e.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
           countDistinct(col("user_id")).as("exact_distinct"))
      .localCheckpoint()  // reused by the per-type rows AND the union row
    val typeRows = perType.select(col("event_type"), col("exact_distinct"),
      (abs(hll_sketch_estimate(col("sk")) - col("exact_distinct"))
        <= lit(HllUnionBound) * col("exact_distinct")).cast("int").as("within_bound"))
    val globalExact = e.agg(countDistinct(col("user_id")).as("exact_distinct"))
    val unionRow = perType.agg(hll_union_agg(col("sk")).as("sk"))
      .crossJoin(broadcast(globalExact))
      .select(lit("__all__").as("event_type"), col("exact_distinct"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_distinct"))
          <= lit(HllUnionBound) * col("exact_distinct")).cast("int").as("within_bound"))
    typeRows.unionByName(unionRow).orderBy("event_type")
  }

  val a4Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
      | cast(1 AS int) AS within_bound
      |FROM events GROUP BY event_type
      |UNION ALL
      |SELECT '__all__' AS event_type, count(DISTINCT user_id) AS exact_distinct,
      | cast(1 AS int) AS within_bound
      |FROM events
      |ORDER BY event_type""".stripMargin

  /** Persist the per-type sketches (the snapshot artifact a crawl
    * ships): binary Datasketches HLL rows, mergeable later without the
    * original data. */
  def a4SketchWrite(s: SparkSession, dir: String, path: String): Unit =
    Tables.events(s, dir).select("event_type", "user_id")
      .groupBy("event_type").agg(hll_sketch_agg(col("user_id")).as("sk"))
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Union STORED sketches into the global estimate — no event data
    * touched. Spec pins this equal to the in-session union estimate. */
  def a4UnionFrom(s: SparkSession, path: String): DataFrame =
    Tables.parquet(s, path).agg(hll_union_agg(col("sk")).as("sk"))
      .select(hll_sketch_estimate(col("sk")).as("est"))

  // ---- a5: mergeable DETERMINISTIC histogram sketches (quantile union) ----

  /** Number of doubling boundaries: bins are [0,1), [1,2), [2,4), ...,
    * [2^(HistBits-1), ∞) over `floor(value·100)` micro-units — the
    * HDR-histogram ladder, integer-exact in both engines (no float log,
    * no data-dependent boundaries, so two snapshots' sketches always
    * share bins and merge by vector addition). */
  val HistBits = 16

  /** bin index = number of ladder boundaries ≤ m (0..HistBits). */
  private def histBin(m: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until HistBits).map(i => when(m >= (1L << i), 1).otherwise(0)).reduce(_ + _)

  /** Micro-unit mapping, clamped at 0: bin 0 is [0,1), so an unclamped
    * negative value would bin at 0 yet carry a negative exact micro —
    * failing the containment verdict on the engine side while the oracle
    * pins it 1. Clamping (identically in [[a5Sql]]) keeps the contract
    * true for ANY input sign; today's events.value is nonnegative, so
    * current outputs are unchanged. */
  private def microClamped(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    greatest(floor(v * 100).cast("long"), lit(0L))

  private val BinLoSql =
    "CASE WHEN bin = 0 THEN CAST(0 AS BIGINT) ELSE CAST(shiftleft(1L, bin - 1) AS BIGINT) END"
  private def binHiSql(top: String) =
    s"CASE WHEN bin >= $HistBits THEN $top ELSE CAST(shiftleft(1L, bin) AS BIGINT) END"

  /** a5: the MERGEABILITY contract of the QUANTILE sketch — a4's twin
    * for distributions (the other ledger a recurring crawl keeps:
    * per-snapshot value histograms whose union answers "what is global
    * p95 latency" without rescanning history). Unlike HLL, this sketch
    * is fully DETERMINISTIC — fixed log-ladder bins over integer
    * micro-units — so the whole contract is oracle-exact, not
    * bound-verdict-only: per event type (and the `__all__` row built by
    * VECTOR-SUMMING the per-type histograms, never rescanning), the
    * bin bracketing p50/p95 at the ceil(p·n) rank, the exact rank-based
    * percentile (Quantiles machinery) in the same micro-units, and the
    * containment verdict exact_p ∈ [bin_lo, bin_hi) — which a correct
    * histogram attains ALWAYS (monotone binning), so DuckDB pins 1 and
    * any merge/binning bug fails the driver gate.
    *
    * Shapes: one map stage (micro-unit + 16 integer compares) → a
    * (type × ≤17 bins) map-combined count; rank location is
    * tiny-window work over ≤17 rows per type; the exact-percentile
    * audit rides the bounded two-pass Quantiles machinery (its own
    * corpus pass — the audit cost, exactly a4's globalExact pattern).
    * At 100 TB only the two corpus-linear map passes touch data. */
  def a5HistUnion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select("event_type", "value")
    val binned = e.select(col("event_type"),
      histBin(microClamped(col("value"))).as("bin"))
    val perType = binned.groupBy("event_type", "bin")
      .agg(count(lit(1)).as("cnt")).localCheckpoint()
    // __all__ = vector sum of the per-type sketches (the union step)
    val hist = perType.unionByName(
      perType.groupBy("bin").agg(sum("cnt").as("cnt"))
        .select(lit("__all__").as("event_type"), col("bin"), col("cnt")))
    val wCum = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
    def bracket(q: Double, nm: String): DataFrame = cum
      .filter(col("cum") >= expr(s"cast(ceil($q * n) AS bigint)"))
      .groupBy("event_type").agg(min("bin").as("bin"))
      .select(col("event_type"), expr(BinLoSql).as(s"${nm}_lo"),
        expr(binHiSql(Long.MaxValue + "L")).as(s"${nm}_hi"))
    // exact audit: rank-based percentiles per type AND globally, in the
    // same micro-units (floor is monotone, so the exact percentile's
    // micro value must land in the bracketing bin)
    val keyed = e.unionByName(e.select(lit("__all__").as("event_type"), col("value")))
    val ex = Quantiles.exactGroupedQuantiles(keyed, "event_type", "value",
        Seq("p50" -> 0.5, "p95" -> 0.95))
      .groupBy("event_type")
      .agg(max(when(col("which") === "p50", col("v"))).as("p50d"),
           max(when(col("which") === "p95", col("v"))).as("p95d"),
           max(col("n_events")).as("n_events"))
    ex.join(bracket(0.5, "p50"), Seq("event_type"))
      .join(bracket(0.95, "p95"), Seq("event_type"))
      .select(col("event_type"), col("n_events"),
        col("p50_lo"), microClamped(col("p50d")).as("p50_exact"),
        when(microClamped(col("p50d")).between(
          col("p50_lo"), col("p50_hi") - 1), 1L).otherwise(0L).as("p50_ok"),
        col("p95_lo"), microClamped(col("p95d")).as("p95_exact"),
        when(microClamped(col("p95d")).between(
          col("p95_lo"), col("p95_hi") - 1), 1L).otherwise(0L).as("p95_ok"))
      .orderBy("event_type")
  }

  /** Persist the per-type histogram sketches — tiny (type × ≤17) count
    * vectors, the snapshot artifact. */
  def a5SketchWrite(s: SparkSession, dir: String, path: String): Unit =
    Tables.events(s, dir).select("event_type", "value")
      .select(col("event_type"),
        histBin(microClamped(col("value"))).as("bin"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("cnt"))
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Quantile bounds from STORED sketches only — vector-sum union, no
    * event data touched. Spec pins this equal to the one-shot query's
    * `__all__` brackets. */
  def a5QuantilesFrom(s: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val merged = Tables.parquet(s, path).groupBy("bin").agg(sum("cnt").as("cnt"))
    val cum = merged
      .withColumn("cum", sum("cnt").over(
        Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum("cnt").over(
        Window.partitionBy(lit(1))))
    def lo(q: Double, nm: String): DataFrame = cum
      .filter(col("cum") >= expr(s"cast(ceil($q * n) AS bigint)"))
      .agg(min("bin").as("bin")).select(expr(BinLoSql).as(nm))
    lo(0.5, "p50_lo").crossJoin(lo(0.95, "p95_lo"))
  }

  lazy val a5Sql: String = {
    val binCase = (0 until HistBits)
      .map(i => s"(CASE WHEN mv >= ${1L << i} THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH src AS (
       | SELECT event_type, value, event_id FROM events
       | UNION ALL
       | SELECT '__all__' AS event_type, value, event_id FROM events),
       |m AS (SELECT event_type, value, event_id,
       |  greatest(cast(floor(value * 100) AS bigint), 0) AS mv FROM src),
       |b AS (SELECT event_type, ($binCase) AS bin FROM m),
       |hist AS (SELECT event_type, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
       |cum AS (
       | SELECT event_type, bin, cnt,
       |  sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
       |  sum(cnt) OVER (PARTITION BY event_type) AS n
       | FROM hist),
       |p50b AS (
       | SELECT event_type, min(bin) AS bin FROM cum
       | WHERE cum >= cast(ceil(0.5 * n) AS bigint) GROUP BY 1),
       |p95b AS (
       | SELECT event_type, min(bin) AS bin FROM cum
       | WHERE cum >= cast(ceil(0.95 * n) AS bigint) GROUP BY 1),
       |ex AS (
       | SELECT event_type,
       |  max(CASE WHEN rn = cast(ceil(0.5 * n) AS bigint) THEN value END) AS p50d,
       |  max(CASE WHEN rn = cast(ceil(0.95 * n) AS bigint) THEN value END) AS p95d,
       |  count(*) AS n_events
       | FROM (
       |  SELECT event_type, value,
       |   row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
       |   count(*) OVER (PARTITION BY event_type) AS n
       |  FROM src)
       | GROUP BY event_type)
       |SELECT e.event_type, e.n_events,
       | cast(CASE WHEN p50b.bin = 0 THEN 0
       |      ELSE (CAST(1 AS BIGINT) << (p50b.bin - 1)) END AS bigint) AS p50_lo,
       | greatest(cast(floor(e.p50d * 100) AS bigint), 0) AS p50_exact,
       | cast(1 AS bigint) AS p50_ok,
       | cast(CASE WHEN p95b.bin = 0 THEN 0
       |      ELSE (CAST(1 AS BIGINT) << (p95b.bin - 1)) END AS bigint) AS p95_lo,
       | greatest(cast(floor(e.p95d * 100) AS bigint), 0) AS p95_exact,
       | cast(1 AS bigint) AS p95_ok
       |FROM ex e JOIN p50b ON p50b.event_type = e.event_type
       |JOIN p95b ON p95b.event_type = e.event_type
       |ORDER BY e.event_type""".stripMargin
  }

  // ---- a6: sketch-only INTERSECTION estimates (inclusion-exclusion) ----

  /** a6 verdict envelope: the inclusion-exclusion estimate compounds
    * three HLL estimates (A, B, A∪B), each within ~1.6% standard error
    * at lgConfigK=12; 3σ on each against the sum of the three exact
    * masses ⇒ 5% of (|A| + |B| + |A∪B|) is a safe pinned bound. */
  val HllIntersectBound = 0.05

  /** a6: CROSS-AUDIENCE OVERLAP from sketches alone — for every pair of
    * event types, the estimated |A∩B| by inclusion-exclusion
    * est(A) + est(B) − est(A∪B), gated against the exact intersection.
    * Why it matters at 100 TB: pairwise audience overlap is the segment
    * report every growth dashboard wants, and the exact computation
    * needs a user-keyed self-join per refresh; once each segment ships
    * its kilobyte HLL (the a4 ledger), EVERY pairwise (and k-way)
    * overlap refresh is sketch arithmetic on the driver-side pair
    * frame — no event data touched. The estimates are deterministic
    * (Datasketches HLL has no RNG), so the verdict column is stable and
    * the oracle pins it to 1.
    *
    * Plan: ONE corpus pass builds per-type sketch + exact distinct
    * (two-phase agg, |types|-bound, checkpointed); the pair frame is
    * the types²-bound self-cross of that tiny frame; the exact
    * intersection truth is ONE user-keyed self-join of the distinct
    * (user, type) projection (co-partitioned, pair-bound output). */
  def a6HllIntersect(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select("event_type", "user_id")
    val perType = e.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
           countDistinct(col("user_id")).as("nd"))
      .localCheckpoint()
    val pa = perType.select(col("event_type").as("type_a"),
      col("sk").as("sk_a"), col("nd").as("exact_a"))
    val pb = perType.select(col("event_type").as("type_b"),
      col("sk").as("sk_b"), col("nd").as("exact_b"))
    val ut = e.distinct()
    val ix = ut.as("x").join(ut.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
               col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("exact_ix"))
    val estIx = hll_sketch_estimate(col("sk_a")) +
      hll_sketch_estimate(col("sk_b")) -
      hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b")))
    pa.crossJoin(pb).filter(col("type_a") < col("type_b"))
      .join(ix, Seq("type_a", "type_b"), "left")
      .na.fill(0L, Seq("exact_ix"))
      .select(col("type_a"), col("type_b"), col("exact_a"), col("exact_b"),
        col("exact_ix"),
        (abs(estIx - col("exact_ix")) <= lit(HllIntersectBound) *
          (col("exact_a") + col("exact_b") +
           (col("exact_a") + col("exact_b") - col("exact_ix"))))
          .cast("int").as("within_bound"))
      .orderBy("type_a", "type_b")
  }

  val a6Sql: String =
    """WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
      |nd AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
      |ix AS (
      | SELECT x.event_type AS ta, y.event_type AS tb, count(*) AS exact_ix
      | FROM ut x JOIN ut y
      |  ON x.user_id = y.user_id AND x.event_type < y.event_type
      | GROUP BY 1, 2)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      | cast(a.n AS bigint) AS exact_a, cast(b.n AS bigint) AS exact_b,
      | cast(coalesce(exact_ix, 0) AS bigint) AS exact_ix,
      | cast(1 AS int) AS within_bound
      |FROM nd a JOIN nd b ON a.event_type < b.event_type
      | LEFT JOIN ix ON ix.ta = a.event_type AND ix.tb = b.event_type
      |ORDER BY type_a, type_b""".stripMargin

  // ---- a7: KMV bottom-k distinct sketch (the SAMPLING-sketch ledger) ----

  /** Sketch size for a7 — standard error ≈ 1/√k ≈ 12.5%. */
  val KmvK = 64

  /** Hash space: the full 60-bit md5 prefix (mod 2^60 is the identity —
    * the d28 lesson: never reduce the space below the prefix itself). */
  val KmvM: Long = 1L << 60

  /** a7 error envelope in ppm: 1/√64 = 12.5% standard error, 3σ = 37.5%;
    * pinned at 50% — measured worst row across sf0.001–sf1 is ≤ 21%. */
  val KmvBoundPpm = 500000L

  /** a7: KMV (bottom-k) DISTINCT sketch scorecard — the third member of
    * the mergeable-sketch ledger family (a1/a4 = HLL bits, a5 = histogram
    * vectors, a7 = the k smallest hash VALUES). What HLL cannot do and
    * bottom-k can: the sketch IS a uniform sample of the distinct
    * population (the hashes below v_k), so the same kilobyte artifact
    * that answers |distinct| also answers Jaccard/overlap and feeds
    * downstream sampling — the reason production ledgers (Theta
    * sketches, Presto's KHyperLogLog) keep value-level sketches
    * alongside HLL. Per event type and for the `__all__` row (built by
    * MERGING the per-type sketches — union, re-truncate to k — never by
    * rescanning), the report carries the sketch (size, k-th hash), the
    * estimate (k−1)·M DIV v_k in exact integers (decimal(38,0) for the
    * 63·2^60 product — the q42 overflow discipline), the exact distinct
    * truth, and the error in ppm gated against the pinned envelope.
    *
    * Plan: ONE corpus pass per report column family — the sketch agg is
    * the bounded [[graft.functions.KmvMinK]] (k longs per group,
    * map-combined, duplicates dedup in-buffer so NO distinct exchange
    * precedes it); the exact-truth columns ride the same groupBy. The
    * merge row explodes |types|·k hashes — kilobytes — through the same
    * aggregate. Everything is integer-exact, so the oracle reproduces
    * the sketch itself (per-type ORDER BY hash LIMIT k), not just its
    * verdict. */
  def a7KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Kmv, Md5PrefixModF}
    val base = Tables.events(s, dir).select(col("event_type"), col("user_id"),
      Md5PrefixModF(col("user_id").cast("string"), KmvM).as("h"))
    val perType = base.groupBy("event_type")
      .agg(Kmv.minK(col("h"), KmvK).as("sk"),
           countDistinct(col("user_id")).as("n_exact"))
      .localCheckpoint()
    val merged = perType.select(explode(col("sk")).as("h"))
      .agg(Kmv.minK(col("h"), KmvK).as("sk"))
      .crossJoin(base.agg(countDistinct(col("user_id")).as("n_exact")))
      .select(lit("__all__").as("event_type"), col("sk"), col("n_exact"))
    perType.unionByName(merged)
      .select(col("event_type"), col("n_exact"),
        size(col("sk")).cast("long").as("n_sketch"),
        when(size(col("sk")) >= KmvK, element_at(col("sk"), KmvK))
          .otherwise(lit(0L)).as("kth_hash"))
      .withColumn("est_distinct",
        when(col("n_sketch") < KmvK, col("n_sketch"))
          .otherwise(expr(s"CAST(CAST(${KmvK - 1} AS DECIMAL(38,0)) * $KmvM" +
            " DIV kth_hash AS BIGINT)")))
      .withColumn("err_ppm",
        expr("CAST(CAST(abs(est_distinct - n_exact) AS DECIMAL(38,0)) " +
          "* 1000000 DIV n_exact AS BIGINT)"))
      .withColumn("within_bound",
        (col("err_ppm") <= KmvBoundPpm).cast("int"))
      .orderBy("event_type")
  }

  val a7Sql: String =
    s"""WITH base AS (
       | SELECT event_type, user_id,
       |  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::bigint AS h
       | FROM events),
       |ph AS (SELECT DISTINCT event_type, h FROM base),
       |rk AS (SELECT event_type, h,
       |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |       FROM ph),
       |sk AS (SELECT event_type, count(*) AS n_sk,
       |        max(CASE WHEN rn = $KmvK THEN h END) AS kth
       |       FROM rk WHERE rn <= $KmvK GROUP BY 1),
       |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
       |       FROM base GROUP BY 1),
       |allrk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn
       |          FROM (SELECT DISTINCT h FROM rk WHERE rn <= $KmvK)),
       |allsk AS (SELECT count(*) AS n_sk,
       |           max(CASE WHEN rn = $KmvK THEN h END) AS kth
       |          FROM allrk WHERE rn <= $KmvK),
       |allex AS (SELECT count(DISTINCT user_id) AS n_exact FROM base),
       |rows_ AS (
       | SELECT e.event_type, e.n_exact, s.n_sk, coalesce(s.kth, 0) AS kth
       | FROM ex e JOIN sk s USING (event_type)
       | UNION ALL
       | SELECT '__all__', a.n_exact, b.n_sk, coalesce(b.kth, 0)
       | FROM allex a, allsk b),
       |est AS (
       | SELECT event_type, n_exact, n_sk, kth,
       |  CASE WHEN n_sk < $KmvK THEN n_sk
       |       ELSE CAST(${KmvK - 1}::HUGEINT * $KmvM // kth AS BIGINT)
       |  END AS est_d
       | FROM rows_)
       |SELECT event_type, CAST(n_exact AS BIGINT) AS n_exact,
       | CAST(n_sk AS BIGINT) AS n_sketch, CAST(kth AS BIGINT) AS kth_hash,
       | CAST(est_d AS BIGINT) AS est_distinct,
       | CAST(abs(est_d - n_exact)::HUGEINT * 1000000 // n_exact AS BIGINT)
       |   AS err_ppm,
       | CAST(CASE WHEN abs(est_d - n_exact)::HUGEINT * 1000000 // n_exact
       |      <= $KmvBoundPpm THEN 1 ELSE 0 END AS INT) AS within_bound
       |FROM est ORDER BY event_type""".stripMargin

  // ---- a8: Jaccard overlap from the KMV sketches alone ----

  /** a8 sketch size — larger than a7's k=64: a k-sample of the union
    * resolves J in steps of 1/k, so k=256 gives ~4,000 ppm granularity
    * and SE = √(J(1−J)/k) ≤ 3.1% absolute at the worst case J=0.5. */
  val KmvJacK = 256

  /** a8 error envelope in ppm: SE of the k=256 estimator at the
    * observed J range (0.6–0.98 bigram-shingle overlap) peaks at
    * ~30,000 ppm; pinned at 120,000 (≈4σ) — measured worst row across
    * sf0.001–sf0.1 is 67,039 (2.2σ). */
  val KmvJaccardBoundPpm = 120000L

  /** a8: CORPUS-LEVEL source similarity from KMV sketches alone — the
    * payoff that makes bottom-k worth keeping next to HLL: the k
    * smallest hashes of A∪B are a uniform k-sample of the union, so
    * the fraction present in BOTH sketches estimates |A∩B|/|A∪B|
    * directly (the classic KMV/Theta-sketch Jaccard; a6's
    * inclusion-exclusion compounds three estimates instead). Sets are
    * each source's word-BIGRAM shingle universe (d2/d3's shingle
    * convention, hashed on the full 60-bit md5 prefix — the d28
    * lesson: a mod-1e9 space birthday-collides once a source passes
    * ~40 k distinct shingles), so the report answers the curation
    * question "which sources duplicate each other's CONTENT" — d3
    * finds near-dup documents, a8 scores near-dup SOURCES — with the
    * exact Jaccard truth and a pinned-envelope verdict per pair.
    *
    * Plan: ONE corpus pass explodes shingles and folds them straight
    * into the bounded [[graft.functions.KmvMinK]] per source (k longs
    * per group, in-buffer dedup — the corpus-sized shingle stream is
    * never distinct-exchanged for the SKETCH side); every pairwise
    * estimate is row-local array arithmetic on the sources²-bound pair
    * frame. The exact-truth side (the eval harness, not the production
    * path) reduces to the distinct (source, shingle-hash) frame once
    * and self-joins it co-partitioned on the hash. Deterministic end
    * to end: the oracle rebuilds the sketches, the merge, and the
    * estimate itself. */
  def a8KmvJaccard(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Kmv, Md5PrefixModF}
    val sh = Tables.documents(s, dir)
      .select(col("source"), split(trim(col("text")), "\\s+").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i+1]))"))
        .as("g"))
      .select(col("source"), Md5PrefixModF(col("g"), KmvM).as("h"))
    val perSrc = sh.groupBy("source")
      .agg(Kmv.minK(col("h"), KmvJacK).as("sk")).localCheckpoint()
    val uh = sh.distinct().localCheckpoint() // truth side: (source, h) set
    val nd = uh.groupBy("source").agg(count(lit(1)).as("nd"))
    val ix = uh.as("x").join(uh.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("exact_ix"))
    val pa = perSrc.join(nd, "source")
      .select(col("source").as("src_a"), col("sk").as("sk_a"), col("nd").as("n_a"))
    val pb = perSrc.join(nd, "source")
      .select(col("source").as("src_b"), col("sk").as("sk_b"), col("nd").as("n_b"))
    pa.crossJoin(pb).filter(col("src_a") < col("src_b"))
      .join(ix, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("exact_ix"))
      .withColumn("merged",
        slice(array_sort(array_union(col("sk_a"), col("sk_b"))), 1, KmvJacK))
      .withColumn("m_size", size(col("merged")).cast("long"))
      .withColumn("m_inter", size(filter(col("merged"),
        h => array_contains(col("sk_a"), h) &&
             array_contains(col("sk_b"), h))).cast("long"))
      .withColumn("est_jaccard_ppm",
        expr("m_inter * 1000000 DIV m_size"))
      .withColumn("exact_jaccard_ppm",
        expr("CAST(CAST(exact_ix AS DECIMAL(38,0)) * 1000000" +
          " DIV (n_a + n_b - exact_ix) AS BIGINT)"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("exact_ix"), col("m_size"), col("m_inter"),
        col("est_jaccard_ppm"), col("exact_jaccard_ppm"),
        (abs(col("est_jaccard_ppm") - col("exact_jaccard_ppm")) <=
          KmvJaccardBoundPpm).cast("int").as("within_bound"))
      .orderBy("src_a", "src_b")
  }

  val a8Sql: String =
    s"""WITH sh AS (
       | SELECT DISTINCT source,
       |  ('0x' || substr(md5(g), 1, 15))::bigint AS h
       | FROM (
       |  SELECT source,
       |   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS g
       |  FROM (SELECT source, string_split_regex(trim(text), '\\s+') AS t
       |        FROM documents)
       |  WHERE len(t) >= 2)),
       |rk AS (SELECT source, h,
       |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |       FROM sh),
       |sk AS (SELECT source, h FROM rk WHERE rn <= $KmvJacK),
       |nd AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
       |ix AS (
       | SELECT x.source AS sa, y.source AS sb, count(*) AS exact_ix
       | FROM sh x JOIN sh y
       |  ON x.h = y.h AND x.source < y.source
       | GROUP BY 1, 2),
       |cand AS (
       | SELECT p.sa, p.sb, s.h,
       |  bool_or(s.source = p.sa) AS in_a,
       |  bool_or(s.source = p.sb) AS in_b
       | FROM (SELECT a.source AS sa, b.source AS sb
       |       FROM nd a JOIN nd b ON a.source < b.source) p
       |  JOIN sk s ON s.source IN (p.sa, p.sb)
       | GROUP BY 1, 2, 3),
       |merged AS (
       | SELECT sa, sb, in_a, in_b,
       |  row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
       | FROM cand),
       |est AS (
       | SELECT sa, sb, count(*) AS m_size,
       |  cast(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS bigint)
       |    AS m_inter
       | FROM merged WHERE rn <= $KmvJacK GROUP BY 1, 2)
       |SELECT a.source AS src_a, b.source AS src_b,
       | cast(a.n AS bigint) AS n_a, cast(b.n AS bigint) AS n_b,
       | cast(coalesce(i.exact_ix, 0) AS bigint) AS exact_ix,
       | cast(e.m_size AS bigint) AS m_size, e.m_inter,
       | cast(e.m_inter * 1000000 // e.m_size AS bigint) AS est_jaccard_ppm,
       | cast(coalesce(i.exact_ix, 0)::HUGEINT * 1000000
       |   // (a.n + b.n - coalesce(i.exact_ix, 0)) AS bigint)
       |   AS exact_jaccard_ppm,
       | cast(CASE WHEN abs(e.m_inter * 1000000 // e.m_size -
       |   coalesce(i.exact_ix, 0)::HUGEINT * 1000000
       |     // (a.n + b.n - coalesce(i.exact_ix, 0))) <= $KmvJaccardBoundPpm
       |   THEN 1 ELSE 0 END AS int) AS within_bound
       |FROM nd a JOIN nd b ON a.source < b.source
       | JOIN est e ON e.sa = a.source AND e.sb = b.source
       | LEFT JOIN ix i ON i.sa = a.source AND i.sb = b.source
       |ORDER BY src_a, src_b""".stripMargin
}
