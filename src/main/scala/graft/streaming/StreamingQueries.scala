package graft.streaming

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.Tables

/** The streaming family's ORACLE PROMOTION (the p9 move, applied to
  * Structured Streaming): st1/st2/st3 run the event analytics as REAL
  * streaming queries — file source, micro-batches, watermark/state,
  * Trigger.AvailableNow — and return the emitted result as a DataFrame
  * the driver gates against the SAME DuckDB oracle as the batch twins
  * (e2/e1). Reference analogue: the reference tracks usage per request
  * as rows arrive (service/trackUsageService.js:19-34 createTrackUsage)
  * and serves filtered rollups over the accumulated rows
  * (controllers/trackUsageController.js:61-133 TrackUsage.aggregate) —
  * at 100 TB/day those are a streaming aggregation, sessionization,
  * and an event-time interval join: exactly st1/st2/st3. Until now the streaming layer was spec-only (stream ≡ batch
  * pinned in scalatest); these two rows put the streaming EXECUTION
  * PATH itself — source listing order, watermark advance, state
  * replay, append-mode emission — under the cross-engine hash gate.
  *
  * == The end-of-stream flush problem, solved with sentinels ==
  *
  * Append-mode event-time operators only emit what the WATERMARK has
  * passed, and the watermark used by batch N is computed from data seen
  * through batch N−1 — so a bounded replay's final windows/sessions
  * would sit in state forever. The staged stream therefore carries
  * three files, forced into three ordered micro-batches
  * (`maxFilesPerTrigger = 1`, modification times spaced):
  *
  *   batch 0  the full events table (the replayed "day"),
  *   batch 1  per-user session sentinels at horizon + gap + 1 (each
  *            closes that user's open session in st2) plus one global
  *            watermark sentinel at horizon + 10 d,
  *   batch 2  a second global sentinel at horizon + 20 d — batch 2 runs
  *            with batch 1's watermark and flushes every real window.
  *
  * Sentinel rows are marked (`event_type = "__sentinel__"`, and the
  * global rows use `user_id = −1`): st1 filters them AFTER the
  * watermark operator (they advance event time, never count), and st2
  * lets them run through the state machine — a sentinel closes the
  * user's last real session and opens one of its own that no later
  * event ever closes, so it is never emitted. The operator under test
  * stays generic; only the HARNESS plants sentinels.
  *
  * == Scale shape ==
  *
  * The staging pass is paid once per (JVM, sf dir) and memoized — the
  * timed path is the streaming run itself. In production the source is
  * Kafka/object-store arrivals and the sink a parquet/Delta append;
  * the memory sink here is the harness tail (the result ledger is
  * window- resp. session-bound, not corpus-bound). st1's state is
  * O(open windows × event types); st2's is one open-session struct per
  * user — both watermark/population-bounded, never O(stream). Money
  * stays exact: values are staged as integer cents (the q12 cent
  * discipline), summed as longs in state, divided once at the report
  * edge — a double accumulated in arrival order would drift from the
  * batch oracle's decimal sum.
  */
object StreamingQueries {

  /** 30-minute session gap, microseconds (e1's constant). */
  val GapUs: Long = 30L * 60 * 1000 * 1000

  val SentinelType = "__sentinel__"
  val SentinelUser = -1L

  // ---- staging: events + sentinel files as an ordered file stream ----

  private val stageCache = new ConcurrentHashMap[String, String]()
  private val nameCounter = new AtomicLong(0L)

  /** Fingerprint of the source table file/dir (path + size + mtime) so a
    * regenerated sf dir restages instead of replaying stale data. */
  private def sourceStamp(dir: String): String = tableStamp(dir, "events")

  private def tableStamp(dir: String, table: String): String = {
    val f = new File(s"$dir/$table.parquet")
    val (size, mtime) =
      if (f.isDirectory) {
        val kids = Option(f.listFiles()).getOrElse(Array.empty)
        (kids.map(_.length()).sum, kids.map(_.lastModified()).foldLeft(0L)(math.max))
      } else (f.length(), f.lastModified())
    val md = java.security.MessageDigest.getInstance("MD5")
    // "v2": layout version — bump on any staged-dir structure change so
    // a stale cache from an older build is never replayed
    md.digest(s"v2|$dir|$size|$mtime".getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
  }

  /** Write one parquet part as `<root>/<name>` with the given mtime. */
  private def writeAs(df: DataFrame, root: File, name: String, mtime: Long): Unit = {
    val tmp = new File(root, s"_tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    val dest = new File(root, name)
    java.nio.file.Files.move(part.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dest.setLastModified(mtime)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
  }

  /** Stage the three-batch stream for a sf dir (memoized per JVM). The
    * cache key includes [[sourceStamp]]: if the sf dir is REGENERATED
    * within a long-lived JVM the stamp changes, so the lookup misses and
    * the new data is staged instead of replaying the stale root — the
    * memo and the stamp enforce the same freshness contract. */
  private[streaming] def stage(s: SparkSession, dir: String): String = {
    val stamp = sourceStamp(dir)
    stageCache.computeIfAbsent(s"$dir|$stamp", _ => {
      val root = new File(
        sys.props("java.io.tmpdir"), s"graft-stream-$stamp")
      val marker = new File(root, "_STAGED")
      if (!marker.exists()) {
        if (root.exists()) { // incomplete previous attempt — rebuild
          root.listFiles().foreach(f => if (f.isFile) f.delete())
        }
        root.mkdirs()
        val ev = Tables.events(s, dir).select(
          col("event_id"), col("ts"), col("user_id"), col("event_type"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
          .localCheckpoint() // staged content and horizon share one scan
        // the corpus horizon: one scalar, driver-side by necessity — the
        // sentinel timestamps must postdate everything in the replay
        val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
        val t0 = System.currentTimeMillis()
        writeAs(ev, root, "batch00.parquet", t0 - 40000)
        // real/ = a directory view of the real-data file alone (the
        // file source's basePath must be a directory) — hardlinked, so
        // the replay is never duplicated on disk
        val realDir = new File(root, "real"); realDir.mkdirs()
        val link = new File(realDir, "batch00.parquet")
        if (link.exists()) link.delete() // never point at a stale inode
        java.nio.file.Files.createLink(link.toPath,
          new File(root, "batch00.parquet").toPath)
        val userSentinels = ev.select(col("user_id")).distinct()
          .select(lit(-1L).as("event_id"),
            timestamp_micros(lit(maxUs + GapUs + 1)).as("ts"),
            col("user_id"), lit(SentinelType).as("event_type"),
            lit(0L).as("cents"))
        val global1 = s.range(1).select(lit(-1L).as("event_id"),
          timestamp_micros(lit(maxUs + 10L * 86400 * 1000000)).as("ts"),
          lit(SentinelUser).as("user_id"), lit(SentinelType).as("event_type"),
          lit(0L).as("cents"))
        writeAs(userSentinels.unionByName(global1), root, "batch01.parquet", t0 - 25000)
        val global2 = s.range(1).select(lit(-1L).as("event_id"),
          timestamp_micros(lit(maxUs + 20L * 86400 * 1000000)).as("ts"),
          lit(SentinelUser).as("user_id"), lit(SentinelType).as("event_type"),
          lit(0L).as("cents"))
        writeAs(global2, root, "batch02.parquet", t0 - 10000)
        graft.Checkpoints.release(ev)
        java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
      }
      root.getAbsolutePath
    })
  }

  /** State-store task count for the streaming rows. A stateful operator
    * spins up one store per shuffle partition per micro-batch (a
    * stream-stream join keeps FOUR per partition), and the count is
    * frozen into the checkpoint at first run — at the harness's 32
    * session partitions that is ~128 store instances committing files
    * per batch for kilobyte-sized ledgers, pure fixed overhead. A
    * production deployment sizes this to state THROUGHPUT; the replay
    * harness pins it small and restores the session conf after. */
  val StreamStatePartitions = 8

  /** Run a streaming frame to completion into a memory sink; return the
    * collected table. Checkpoint dir is per-run and cleaned up. */
  private def runToTable(s: SparkSession, out: DataFrame,
      mode: OutputMode): DataFrame = {
    val nm = s"graft_st_${nameCounter.incrementAndGet()}"
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft-st-ckpt-")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions)
    // conf restored only after termination: the stream thread reads the
    // partition count asynchronously when it seals the first offset batch
    try {
      val q = out.writeStream.format("memory").queryName(nm)
        .outputMode(mode)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    // best-effort checkpoint cleanup (state is not reused across runs)
    def rm(f: File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
    }
    rm(ckpt.toFile)
    s.table(nm)
  }

  /** The staged stream as a streaming DataFrame: three files, three
    * ordered micro-batches. */
  private def source(s: SparkSession, dir: String): DataFrame = {
    val staged = stage(s, dir)
    val sch = Tables.parquet(s, s"$staged/batch00.parquet").schema
    s.readStream.schema(sch).option("maxFilesPerTrigger", 1).parquet(staged)
  }

  /** The real-data replay only (no sentinel batches) — for queries
    * whose emission is row-driven rather than watermark-driven (st3's
    * inner join), where the extra micro-batches would be pure
    * fixed-overhead. */
  private def sourceRealOnly(s: SparkSession, dir: String): DataFrame = {
    val staged = stage(s, dir)
    val sch = Tables.parquet(s, s"$staged/batch00.parquet").schema
    s.readStream.schema(sch).parquet(s"$staged/real")
  }

  // ---- st1: e2's tumbling rollup as a watermarked streaming query ----

  /** st1: hourly tumbling counts/sums per event type, executed as an
    * append-mode streaming aggregation with a 1-hour watermark (the
    * production shape: state for a window is EVICTED once the watermark
    * passes it — O(open windows), while a complete-mode rollup would
    * hold every window forever). Sentinels aggregate into their OWN
    * (window, "__sentinel__") groups and are dropped from the emitted
    * table — deliberately NOT a pre-aggregation filter: Catalyst pushes
    * a filter below the EventTimeWatermark node, and a sentinel dropped
    * before the watermark operator never advances event time, leaving
    * the final real windows stuck in state (measured: the last two
    * hours of the ledger went missing). Output ≡ e2's ledger, gated by
    * e2's own oracle. */
  def st1StreamTumbling(s: SparkSession, dir: String): DataFrame = {
    val agg = source(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
    // null-safe: `=!=` would also drop a null event_type group (null
    // comparison yields null), diverging from the batch/oracle rollup
    // that keeps null groups — only TRUE sentinel rows are removed
    runToTable(s, agg, OutputMode.Append())
      .filter(!(col("event_type") <=> lit(SentinelType)))
      .select(unix_micros(col("window.start")).as("hour_us"),
        col("event_type"), col("cnt"),
        (col("sum_cents") / lit(100.0)).as("total_value"))
      .orderBy("hour_us", "event_type")
  }

  // ---- st3: the stream-stream interval join, oracle-gated ----

  /** st3: purchases attributed to same-user clicks at most one hour
    * earlier, executed as a REAL stream-stream interval join
    * ([[StreamJoins.attributedPurchases]] — both sides watermarked, the
    * time-bound condition capping each state store at one hour of
    * events). The join FAMILY member of the streaming oracle rows (st1
    * = windowed aggregation, st2 = arbitrary keyed state): inner-join
    * matches emit EAGERLY as both sides arrive, so — unlike st1/st2 —
    * end-of-stream completeness needs no sentinel mechanics at all;
    * the watermark only evicts state. The sources therefore replay the
    * real-data file alone (one micro-batch per side — the sentinel
    * batches would be pure fixed-overhead here), and the event-type
    * filters push to the scan. Output is
    * the attributed pair frame itself — purchase- not corpus-bound —
    * gated by a plain SQL interval join. */
  def st3StreamAttribution(s: SparkSession, dir: String): DataFrame = {
    val clicks = sourceRealOnly(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = sourceRealOnly(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("purchase_user"),
        col("ts").as("purchase_ts"), col("event_id").as("purchase_id"),
        col("cents").as("amount"))
    runToTable(s, StreamJoins.attributedPurchases(clicks, purchases),
        OutputMode.Append())
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_us"), col("purchase_us"),
        col("amount").as("purchase_cents"))
      .orderBy("user_id", "purchase_id", "click_id")
  }

  val st3Sql: String =
    """WITH e AS (
      | SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
      |  cast(cast(value AS decimal(18,2)) * 100 AS bigint) AS cents
      | FROM events)
      |SELECT p.user_id AS user_id, c.event_id AS click_id,
      | p.event_id AS purchase_id,
      | c.us AS click_us, p.us AS purchase_us, p.cents AS purchase_cents
      |FROM e p JOIN e c
      | ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.us >= c.us AND p.us <= c.us + 3600000000
      |ORDER BY p.user_id, purchase_id, click_id""".stripMargin

  // ---- st2: e1's sessionization as stateful flatMapGroupsWithState ----

  case class SEv(user_id: Long, us: Long, cents: Long)
  case class OpenS(start_us: Long, end_us: Long, n: Long, cents: Long)
  case class ClosedS(user_id: Long, start_us: Long, end_us: Long,
    n_events: Long, total_cents: Long)

  /** Gap-based sessionization with one OpenS struct of keyed state per
    * user: a batch's rows sort locally per key, extend or close the
    * open session, and closed sessions emit in append mode. Exact-cents
    * variant of [[EventStreams.sessionize]] — integer state, so the
    * emitted money matches the batch oracle's decimal sum bit-for-bit
    * regardless of arrival order.
    *
    * Memory bound: `rows.toSeq.sortBy` materializes ONE user's rows of
    * ONE micro-batch (exact gap sessionization needs them time-ordered,
    * and the state iterator arrives unordered). That group is
    * arrival-rate × trigger-interval bounded in production — a
    * deployment caps it by trigger cadence / `maxOffsetsPerTrigger`,
    * NOT by this operator. The one shape that breaks the bound is a
    * bounded REPLAY of an always-on bot (e18's caveat class): the whole
    * history lands in a single batch group. Replays of that shape
    * should pre-split the source into time-sliced files (exactly what
    * [[stage]] does for the harness) so no batch carries a user's full
    * history. */
  def sessionizeExact(events: org.apache.spark.sql.Dataset[SEv])
      : org.apache.spark.sql.Dataset[ClosedS] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenS, ClosedS](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[SEv], state: GroupState[OpenS]) =>
          val sorted = rows.toSeq.sortBy(_.us)
          var open = state.getOption
          val closed = Seq.newBuilder[ClosedS]
          sorted.foreach { ev =>
            open match {
              case Some(o) if ev.us - o.end_us <= GapUs =>
                open = Some(o.copy(end_us = ev.us, n = o.n + 1,
                  cents = o.cents + ev.cents))
              case Some(o) =>
                closed += ClosedS(uid, o.start_us, o.end_us, o.n, o.cents)
                open = Some(OpenS(ev.us, ev.us, 1L, ev.cents))
              case None =>
                open = Some(OpenS(ev.us, ev.us, 1L, ev.cents))
            }
          }
          open.foreach(state.update)
          closed.result().iterator
      }
  }

  /** st2: per-user session ledger, executed through the streaming state
    * machine — every REAL session (including each user's last, closed by
    * its sentinel) emits exactly once; session_seq is assigned on the
    * emitted (session-bound) frame by start order within user, matching
    * e1's cumulative numbering. Gated by e1's own oracle. */
  def st2StreamSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evs = source(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("cents"))
      .as[SEv]
    val emitted = runToTable(s, sessionizeExact(evs).toDF(), OutputMode.Append())
    val byUser = Window.partitionBy("user_id").orderBy("start_us")
    emitted.filter(col("user_id") >= 0)
      .withColumn("session_seq", row_number().over(byUser).cast("long"))
      .select(col("user_id"), col("session_seq"), col("n_events"),
        col("start_us"), col("end_us"),
        (col("total_cents") / lit(100.0)).as("total_value"))
      .orderBy("user_id", "session_seq")
  }

  // ---- st4: the ingest/upsert WRITE path, oracle-promoted ----

  private val upsertStageCache = new ConcurrentHashMap[String, String]()

  /** Stage the upsert stream: batch 0 = the full store as version-0
    * rows, batch 1 = the update batch (every 7th id re-labeled +100,
    * version 1) — v1Upsert's exact fixture, replayed as two ordered
    * micro-batches. Keyed on the embeddings stamp (the stage() rule). */
  private[streaming] def stageUpserts(s: SparkSession, dir: String): String = {
    val stamp = tableStamp(dir, "embeddings")
    upsertStageCache.computeIfAbsent(s"$dir|$stamp", _ => {
      val root = new File(sys.props("java.io.tmpdir"), s"graft-upsert-$stamp")
      val marker = new File(root, "_STAGED")
      if (!marker.exists()) {
        if (root.exists()) root.listFiles().foreach(f => if (f.isFile) f.delete())
        root.mkdirs()
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label").cast("int").as("label"),
            col("embedding"))
        val t0 = System.currentTimeMillis()
        writeAs(e.select(col("vec_id"), lit(0L).as("seq"), col("label"),
          col("embedding")), root, "batch00.parquet", t0 - 40000)
        writeAs(e.filter(col("vec_id") % 7 === 0)
          .select(col("vec_id"), lit(1L).as("seq"),
            (col("label") + 100).as("label"), col("embedding")),
          root, "batch01.parquet", t0 - 25000)
        java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
      }
      root.getAbsolutePath
    })
  }

  /** st4: the vector store's WRITE half as a REAL streaming query — the
    * reference's ingest loop (embeddingController.js:10-57
    * addEmbeddedText/updateEmbeddedText: every arriving text is
    * embedded and upserted into the index, latest version wins),
    * executed through [[StreamingUpsert.latestWins]]'s keyed state
    * machine in Update mode: batch 0 replays the store as version-0
    * upserts, batch 1 the re-label batch as version-1, and the state
    * machine emits the current winner per key per touching batch. The
    * POST-IMAGE — per key, the highest-version emitted row — is the
    * store the serving tier would read, and the driver gates its
    * per-label counts with v1's own DuckDB oracle (the st1/st2/p9
    * oracle-promotion move, applied to the write path; exactly-once
    * comes from the checkpointed file source: each staged file is one
    * committed micro-batch, never replayed twice into state).
    *
    * Scale: state is one (vec_id, seq, label, vector) struct per LIVE
    * key — store-bound, like any upsert materialization; the memory
    * sink is the harness tail (production writes the post-image to the
    * compacted store, [[graft.sources.VectorStoreSink]]). The
    * post-image reduction is one key-partitioned max_by — no window,
    * no sort of the emission ledger. */
  def st4StreamUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val staged = stageUpserts(s, dir)
    val sch = Tables.parquet(s, s"$staged/batch00.parquet").schema
    val src = s.readStream.schema(sch).option("maxFilesPerTrigger", 1)
      .parquet(staged)
      .as[StreamingUpsert.Upsert]
    val emitted = runToTable(s,
      StreamingUpsert.latestWins(src).toDF(), OutputMode.Update())
    emitted.groupBy("vec_id")
      .agg(max_by(col("label"), col("seq")).as("label"))
      .groupBy("label").agg(count(lit(1)).as("cnt"))
      .orderBy("label")
  }

  // ---- st5: the streaming DEDUP SCREEN — d9's ingest gate, oracle-promoted ----

  private val dedupStageCache = new ConcurrentHashMap[String, String]()

  /** Stage the dedup stream: batch 0 PRIMES the seen-fingerprint state
    * with the existing corpus (doc_id < 400 — d9's stored dedup index,
    * replayed as phase-0 rows that emit nothing), batch 1 is d9's new
    * batch (originals ≥ 400 ∪ planted re-crawls ∪ planted in-batch
    * copies) as phase-1 rows. Only FINGERPRINTS are staged — the text
    * never crosses the stream, the d1 fp discipline. Keyed on the
    * documents stamp (the stage() freshness rule). */
  private[streaming] def stageDedup(s: SparkSession, dir: String): String = {
    val stamp = tableStamp(dir, "documents")
    dedupStageCache.computeIfAbsent(s"$dir|$stamp", _ => {
      val root = new File(sys.props("java.io.tmpdir"), s"graft-dedup-$stamp")
      val marker = new File(root, "_STAGED")
      if (!marker.exists()) {
        if (root.exists()) root.listFiles().foreach(f => if (f.isFile) f.delete())
        root.mkdirs()
        val d = Tables.documents(s, dir)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
          .localCheckpoint()
        val t0 = System.currentTimeMillis()
        writeAs(d.filter(col("doc_id") < 400)
          .withColumn("phase", lit(0)), root, "batch00.parquet", t0 - 40000)
        val newBatch = d.filter(col("doc_id") >= 400)
          .unionByName(d.filter(col("doc_id") < 400 && col("doc_id") % 10 === 0)
            .select((col("doc_id") + 100000).as("doc_id"), col("fp")))
          .unionByName(d.filter(col("doc_id") >= 400 && col("doc_id") % 20 === 0)
            .select((col("doc_id") + 200000).as("doc_id"), col("fp")))
        writeAs(newBatch.withColumn("phase", lit(1)), root,
          "batch01.parquet", t0 - 25000)
        graft.Checkpoints.release(d)
        java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
      }
      root.getAbsolutePath
    })
  }

  case class DocFp(doc_id: Long, fp: String, phase: Int)
  case class FreshDoc(fp: String, doc_id: Long, batch_copies: Long)

  /** The streaming dedup gate: one boolean of keyed state per seen
    * fingerprint. A micro-batch's rows for an UNSEEN fp with no phase-0
    * (priming) row emit ONE survivor — min doc_id with the in-batch
    * copy count (d9's collapse contract); any later arrival of that fp
    * is swallowed by state. Exactly-once comes from the checkpointed
    * file source: each staged file is one committed micro-batch. */
  def dedupGate(docs: org.apache.spark.sql.Dataset[DocFp])
      : org.apache.spark.sql.Dataset[FreshDoc] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.fp)
      .flatMapGroupsWithState[Boolean, FreshDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fp: String, rows: Iterator[DocFp], state: GroupState[Boolean]) =>
          val rs = rows.toSeq
          val seen = state.getOption.getOrElse(false)
          val priming = rs.exists(_.phase == 0)
          val fresh = rs.filter(_.phase == 1)
          state.update(true)
          if (!seen && !priming && fresh.nonEmpty)
            Iterator(FreshDoc(fp, fresh.map(_.doc_id).min, fresh.size.toLong))
          else Iterator.empty
      }
  }

  /** st5: d9's incremental dedup screen as a REAL streaming query — the
    * ingest loop's dedup gate (embeddingController.js:10-31
    * addEmbeddedText checks existence before inserting; at corpus scale
    * that check is a streamed fingerprint screen against the stored
    * index). Batch 0 primes state with the existing corpus, batch 1
    * streams the arriving crawl through it; survivors ≡ d9's batch
    * output, gated by d9's own DuckDB oracle — the st1-st4
    * oracle-promotion move, completing the streaming family: rollup,
    * session, join, upsert, and now the dedup screen.
    *
    * Scale: state is one boolean per DISTINCT fingerprint — the stored
    * dedup index a deployment already keeps (d15's bloom front would
    * cut its memory 10×); emission is survivor-bound. The min/count
    * collapse happens INSIDE each fp group's iterator — arrival order
    * within a micro-batch never changes the winner. */
  def st5StreamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val staged = stageDedup(s, dir)
    val sch = Tables.parquet(s, s"$staged/batch00.parquet").schema
    val src = s.readStream.schema(sch).option("maxFilesPerTrigger", 1)
      .parquet(staged).as[DocFp]
    runToTable(s, dedupGate(src).toDF(), OutputMode.Append())
      .select(col("doc_id"), col("fp"), col("batch_copies"))
      .orderBy("doc_id")
  }
}
