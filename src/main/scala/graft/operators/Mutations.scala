package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.StoreManifest

/** Mutation surface: field-level $set patches and SQL write DML
  * (INSERT/UPDATE/DELETE), re-expressed as deterministic batch
  * transforms over immutable columnar state — the Spark-native shape of
  * the reference's in-place writes:
  *
  *  - promptController.js:319/:515, userController.js:523 — Mongo
  *    `$set {field: value}` patches (soft delete, title rename) that
  *    update a SUBSET of fields on matching documents;
  *  - postgreService.js:33/:82/:114 — SQL INSERT / UPDATE / DELETE
  *    passthrough.
  *
  * On a cluster there is no "update in place": the scalable formulation
  * is read → transform → write-new-version (compare Delta/Iceberg
  * copy-on-write). The primitives below are all narrow map-stage
  * transforms except the patch merge, whose single shuffle is bounded by
  * the PATCH batch size (patches broadcast; the base table never
  * shuffles).
  */
object Mutations {

  private def dec(c: Column) = c.cast("decimal(18,2)")

  // ---- generic DML primitives (postgreService surface) ----

  /** DELETE WHERE pred: keep rows where pred is not TRUE (SQL DELETE
    * semantics — a NULL predicate does not delete). Map-only. */
  def deleteWhere(df: DataFrame, pred: Column): DataFrame =
    df.filter(!coalesce(pred, lit(false)))

  /** UPDATE SET ... WHERE pred. All set expressions evaluate against the
    * PRE-update row (SQL semantics), hence the single select rather than
    * chained withColumn. Map-only. */
  def updateWhere(df: DataFrame, pred: Column, sets: Map[String, Column]): DataFrame = {
    val p = coalesce(pred, lit(false))
    df.select(df.columns.toSeq.map { c =>
      sets.get(c).map(v => when(p, v).otherwise(col(c)).as(c)).getOrElse(col(c))
    }: _*)
  }

  /** INSERT: append rows with the same schema (column-name matched). */
  def insertRows(df: DataFrame, rows: DataFrame): DataFrame =
    df.unionByName(rows)

  /** Read-modify-write for a parquet table: apply `transform` to the
    * newest committed snapshot of the table at `path` and commit the
    * result as the next [[StoreManifest]] version (the copy-on-write
    * pattern of Delta/Iceberg: new files, then one atomic pointer swap).
    * A plain parquet directory is adopted as version 1 first. A reader
    * sees the old rows or the new ones, never neither; a rewrite that dies
    * before its commit leaves the old rows, and the next commit removes
    * its files. */
  def rewriteInPlace(s: SparkSession, path: String)(transform: DataFrame => DataFrame): Unit = {
    val base = StoreManifest.latest(s, path).getOrElse(StoreManifest.adopt(s, path))
    StoreManifest.write(s, path, transform(StoreManifest.read(s, path, base)), base.partitionColumn,
      Some(base), keep = _ => false)
  }

  // ---- field-level $set merge ----

  /** Latest-wins FIELD-level patch merge (Mongo `$set` over a batch):
    * `patches` rows carry (key, pri, fields...), where a NULL field means
    * "not set by this patch" and higher `pri` wins per FIELD (not per
    * row — two patches touching different fields of the same key both
    * apply, which whole-row latest-wins upsert (v1) cannot express).
    *
    * Scale shape: one groupBy bounded by the patch-batch size collapses
    * patches to one row per key via max(struct(pri, value)) — nulls are
    * skipped by max, so the highest-pri SET value wins; then the base
    * table LEFT-joins the broadcast patch set and coalesces per field.
    * The base (100 TB) side never shuffles. */
  def applyFieldPatches(base: DataFrame, patches: DataFrame, key: String,
      fields: Seq[String]): DataFrame = {
    val aggs = fields.map(f =>
      max(when(col(f).isNotNull, struct(col("pri"), col(f).as("v"))))
        .getField("v").as(f))
    val merged = patches.groupBy(col(key))
      .agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed(key, "_patch_key")
    val patchedFields = fields.map(f =>
      coalesce(merged(f), base(f)).as(f))
    base.join(broadcast(merged), base(key) === merged("_patch_key"), "left")
      .select((base(key) +: patchedFields): _*)
  }

  /** q23: field-level $set patch merge over customer — two patch batches
    * (pri 1 then pri 2) touching overlapping keys and different field
    * subsets, exactly the promptController soft-delete / rename shape. */
  def q23PatchUpdate(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir).select("c_custkey", "c_mktsegment", "c_acctbal")
    val p1 = base.filter(col("c_custkey") % 5 === 0).select(
      col("c_custkey"), lit(1).as("pri"),
      lit("SEG_PATCHED").as("c_mktsegment"),
      when(col("c_custkey") % 10 === 0, lit(111.25)).as("c_acctbal"))
    val p2 = base.filter(col("c_custkey") % 15 === 0).select(
      col("c_custkey"), lit(2).as("pri"),
      lit(null).cast("string").as("c_mktsegment"),
      (col("c_custkey") * lit(0.5)).as("c_acctbal"))
    applyFieldPatches(base, p1.unionByName(p2), "c_custkey",
        Seq("c_mktsegment", "c_acctbal"))
      .orderBy("c_custkey")
  }

  /** Oracle: the two batches have one row per key, so per-field
    * latest-wins is expressible as nested COALESCE over explicit joins. */
  val q23Sql: String =
    """WITH p1 AS (
      |  SELECT c_custkey, 'SEG_PATCHED' AS seg,
      |         CASE WHEN c_custkey % 10 = 0 THEN 111.25 END AS bal
      |  FROM customer WHERE c_custkey % 5 = 0),
      |p2 AS (
      |  SELECT c_custkey, c_custkey * 0.5 AS bal
      |  FROM customer WHERE c_custkey % 15 = 0)
      |SELECT b.c_custkey,
      |  coalesce(p1.seg, b.c_mktsegment) AS c_mktsegment,
      |  coalesce(p2.bal, p1.bal, b.c_acctbal) AS c_acctbal
      |FROM customer b
      |  LEFT JOIN p1 ON b.c_custkey = p1.c_custkey
      |  LEFT JOIN p2 ON b.c_custkey = p2.c_custkey
      |ORDER BY b.c_custkey""".stripMargin

  /** q24: SQL passthrough write DML (postgreService INSERT/UPDATE/DELETE)
    * — apply DELETE → UPDATE → INSERT to orders and report the post-state
    * as a per-(status, priority) rollup, which checks every row of the
    * mutated table against the oracle without dumping 15k rows. */
  def q24Dml(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    val afterDel = deleteWhere(o,
      col("o_orderstatus") === "F" && col("o_totalprice") < 100000)
    val afterUpd = updateWhere(afterDel,
      col("o_totalprice") >= 400000,
      Map("o_orderpriority" -> lit("0-URGENT")))
    val inserts = o.filter(col("o_orderkey") % 1000 === 0).select(
      (col("o_orderkey") + 100000000L).as("o_orderkey"),
      lit("N").as("o_orderstatus"),
      col("o_totalprice"),
      lit("9-BACKFILL").as("o_orderpriority"))
    insertRows(afterUpd, inserts)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
           sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  val q24Sql: String =
    """WITH after_del AS (
      |  SELECT * FROM orders
      |  WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000)),
      |after_upd AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice,
      |    CASE WHEN o_totalprice >= 400000 THEN '0-URGENT'
      |         ELSE o_orderpriority END AS o_orderpriority
      |  FROM after_del),
      |post AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority FROM after_upd
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, 'N', o_totalprice, '9-BACKFILL'
      |  FROM orders WHERE o_orderkey % 1000 = 0)
      |SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
      |  cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS total_price
      |FROM post GROUP BY o_orderstatus, o_orderpriority
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // ---- q35: $addToSet array-merge update ----

  /** 2024-01-15T00:00:00Z — the split between "existing document state"
    * and the $addToSet update batch. */
  val AddToSetSplitUs: Long = 1705276800L * 1000000L

  /** q35: `$addToSet` merge (userController.js:596 — `$addToSet
    * {teams: id}` with upsert): an update batch folds new elements into
    * a per-key ARRAY field with set semantics, creating the document
    * when the key is new.
    *
    * Base state = each user's distinct pre-split event types plus a
    * planted `legacy_<k>` tag (array state that exists only in the
    * stored document, never derivable from the update stream — the
    * merge must genuinely carry it). Update batch = distinct post-split
    * (user, type) pairs. Merge = array_union per key, emitted as the
    * canonical sorted comma-joined string (arrays don't survive the
    * driver's compare layer — the q28 lesson).
    *
    * Scale: both sides aggregate to one row per user BEFORE the
    * full-outer merge join, so the join inputs are key-bound and
    * co-partitioned by the groupBys (no extra exchange); the set union
    * is a row-local array op. On a bucketed store the merge is
    * shuffle-free — the $addToSet shape at 100 TB. */
  def q35AddToSetMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val base = ev.filter(col("us") < AddToSetSplitUs)
      .groupBy("user_id")
      .agg(collect_set(col("event_type")).as("pre_tags"))
      .select(col("user_id"),
        array_union(col("pre_tags"),
          array(concat(lit("legacy_"), (col("user_id") % 3).cast("string")))).as("base_tags"))
    val updates = ev.filter(col("us") >= AddToSetSplitUs)
      .groupBy("user_id")
      .agg(collect_set(col("event_type")).as("upd_tags"))
    base.join(updates, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        array_sort(array_union(
          coalesce(col("base_tags"), typedlit(Seq.empty[String])),
          coalesce(col("upd_tags"), typedlit(Seq.empty[String])))).as("tag_arr"))
      .select(col("user_id"),
        concat_ws(",", col("tag_arr")).as("tags"),
        size(col("tag_arr")).as("n_tags"))
      .orderBy("user_id")
  }

  val q35Sql: String =
    s"""WITH e AS (
       | SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       |base_pairs AS (
       | SELECT DISTINCT user_id, event_type AS tag FROM e WHERE us < $AddToSetSplitUs
       | UNION
       | SELECT DISTINCT user_id, 'legacy_' || cast(user_id % 3 AS varchar) AS tag
       | FROM e WHERE us < $AddToSetSplitUs),
       |upd_pairs AS (
       | SELECT DISTINCT user_id, event_type AS tag FROM e WHERE us >= $AddToSetSplitUs),
       |merged AS (
       | SELECT user_id, tag FROM base_pairs UNION SELECT user_id, tag FROM upd_pairs)
       |SELECT user_id, string_agg(tag, ',' ORDER BY tag) AS tags, count(*) AS n_tags
       |FROM merged GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q41: SCD-2 interval build — turn a change log into a versioned
    * history table (the CDC/dimension-versioning shape: each event
    * versions the user's "current activity state"; `valid_to` is the
    * next change's timestamp, NULL on the open current version). The
    * reference updates documents in place (promptController $set) — a
    * warehouse keeps every version instead, and this operator is the
    * batch rebuild of that history.
    *
    * Scale: ONE window over the HIGH-cardinality (user_id) key — slices
    * are per-user change histories (bounded by per-user activity), never
    * a corpus-wide or low-cardinality sort. The demo emits the history
    * of a 3-user sample (the predicate pushes to the parquet scan); the
    * full-table build is the same plan with the filter removed. */
  def q41Scd2Intervals(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("valid_from_us"), col("event_id"))
    Tables.events(s, dir)
      .filter(col("user_id") % 50 === 0)
      .select(col("event_id"), col("user_id"), col("event_type").as("state"),
        unix_micros(col("ts")).as("valid_from_us"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select("user_id", "event_id", "state", "valid_from_us", "valid_to_us", "is_current")
      .orderBy("user_id", "valid_from_us", "event_id")
  }

  val q41Sql: String =
    """SELECT user_id, event_id, event_type AS state,
      | epoch_us(ts) AS valid_from_us,
      | lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS valid_to_us,
      | lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL AS is_current
      |FROM events WHERE user_id % 50 = 0
      |ORDER BY user_id, valid_from_us, event_id""".stripMargin

  // ---- q42: cascading forget-user delete with an audit ledger ----

  /** Deterministic forget set: every 97th customer. */
  val ForgetMod = 97L

  /** Checksum modulus (Dedup.P's discipline): the receipt is
    * sum(key % P) % P with the running sum held in DECIMAL(38,0), so it
    * is overflow-free at ANY table size — a raw sum(key) wraps silently
    * in Spark (int64) while DuckDB promotes to HUGEINT and then errors
    * on the bigint cast, i.e. the two replicas comparing receipts would
    * diverge exactly when the keyspace grows past ~sf1000. */
  val ChecksumP = 1000000007L

  /** q42: CASCADING user deletion with the audit LEDGER — the
    * right-to-be-forgotten pass a data platform runs (the reference
    * mass-deletes users by predicate, userController.js:399, and
    * soft-marks deleted emails; at warehouse scale the deletion must
    * CASCADE through the foreign-key chain and leave an auditable
    * receipt): forget customers → their orders → those orders'
    * lineitems → their events. Output per table: rows deleted, rows
    * remaining, and an order-independent checksum of the REMAINING
    * primary keys — the receipt two replicas can compare without
    * sorting either side.
    *
    * Scale: the forget set is a key sliver (|customers|/97) —
    * broadcast; deleted-order keys are another sliver joined into
    * lineitem (at 100 TB a shuffle join AQE right-sizes); every count/
    * checksum is one map-combined aggregate per table. No table is
    * rewritten here — the ledger is the query; applying the deletes is
    * one [[rewriteInPlace]] with [[deleteWhere]] per table, each an atomic
    * manifest commit (the four commits are not one transaction). */
  def q42CascadeDelete(s: SparkSession, dir: String): DataFrame = {
    val forget = Tables.customer(s, dir)
      .filter(col("c_custkey") % ForgetMod === 0)
      .select(col("c_custkey").as("fk")).localCheckpoint()
    def ledger(name: String, df: DataFrame, member: Column,
        checksum: Column): DataFrame =
      df.withColumn("del", member).agg(
        sum(when(col("del"), 1L).otherwise(0L)).as("n_deleted"),
        sum(when(!col("del"), 1L).otherwise(0L)).as("n_remaining"),
        (sum(when(!col("del"), checksum % ChecksumP).otherwise(0L)
            .cast("decimal(38,0)")) % ChecksumP)
          .cast("long").as("remaining_checksum"))
        .select(lit(name).as("tbl"), col("n_deleted"), col("n_remaining"),
          col("remaining_checksum"))
    val orders = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      .join(broadcast(forget), col("o_custkey") === col("fk"), "left")
      .withColumn("odel", col("fk").isNotNull)
      .localCheckpoint()
    val delOrders = orders.filter(col("odel")).select(col("o_orderkey").as("dok"))
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber")
      .join(broadcast(delOrders), col("l_orderkey") === col("dok"), "left")
    val ev = Tables.events(s, dir).select("event_id", "user_id")
      .join(broadcast(forget), col("user_id") === col("fk"), "left")
    ledger("customer", Tables.customer(s, dir).select("c_custkey"),
        col("c_custkey") % ForgetMod === 0, col("c_custkey"))
      .unionByName(ledger("events", ev, col("fk").isNotNull, col("event_id")))
      .unionByName(ledger("lineitem", li, col("dok").isNotNull,
        // mod-reduce BEFORE the widen: (key%P)*8+line < 8e9+7 fits int64
        // for any orderkey, where orderkey*8 alone wraps past 2^60 keys
        (col("l_orderkey") % ChecksumP) * 8L + col("l_linenumber")))
      .unionByName(ledger("orders", orders, col("odel"), col("o_orderkey")))
      .orderBy("tbl")
  }

  val q42Sql: String =
    """WITH forget AS (SELECT c_custkey AS fk FROM customer WHERE c_custkey % 97 = 0),
      |o AS (
      | SELECT o_orderkey, (o_custkey IN (SELECT fk FROM forget)) AS del FROM orders),
      |dok AS (SELECT o_orderkey FROM o WHERE del)
      |SELECT 'customer' AS tbl,
      | cast(sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END) AS bigint) AS n_deleted,
      | cast(sum(CASE WHEN c_custkey % 97 = 0 THEN 0 ELSE 1 END) AS bigint) AS n_remaining,
      | cast(sum(CASE WHEN c_custkey % 97 = 0 THEN 0 ELSE c_custkey % 1000000007 END)
      |      % 1000000007 AS bigint) AS remaining_checksum
      |FROM customer
      |UNION ALL
      |SELECT 'events',
      | cast(sum(CASE WHEN user_id IN (SELECT fk FROM forget) THEN 1 ELSE 0 END) AS bigint),
      | cast(sum(CASE WHEN user_id IN (SELECT fk FROM forget) THEN 0 ELSE 1 END) AS bigint),
      | cast(sum(CASE WHEN user_id IN (SELECT fk FROM forget) THEN 0
      |          ELSE event_id % 1000000007 END) % 1000000007 AS bigint)
      |FROM events
      |UNION ALL
      |SELECT 'lineitem',
      | cast(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM dok) THEN 1 ELSE 0 END) AS bigint),
      | cast(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM dok) THEN 0 ELSE 1 END) AS bigint),
      | cast(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM dok) THEN 0
      |          ELSE ((l_orderkey % 1000000007) * 8 + l_linenumber) % 1000000007 END)
      |      % 1000000007 AS bigint)
      |FROM lineitem
      |UNION ALL
      |SELECT 'orders',
      | cast(sum(CASE WHEN del THEN 1 ELSE 0 END) AS bigint),
      | cast(sum(CASE WHEN del THEN 0 ELSE 1 END) AS bigint),
      | cast(sum(CASE WHEN del THEN 0 ELSE o_orderkey % 1000000007 END)
      |      % 1000000007 AS bigint)
      |FROM o
      |ORDER BY tbl""".stripMargin
}
