package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MutationsSpec extends SparkSpec {
  import spark.implicits._

  test("deleteWhere keeps rows where predicate is not TRUE (null-safe)") {
    val df = Seq((1, Some(5)), (2, None), (3, Some(50))).toDF("id", "v")
    val kept = Mutations.deleteWhere(df, col("v") > 10).select("id").as[Int].collect().sorted
    assert(kept.toSeq == Seq(1, 2)) // null predicate row survives, like SQL DELETE
  }

  test("updateWhere evaluates set expressions against the pre-update row") {
    val df = Seq((1, 10, 100), (2, 20, 200)).toDF("id", "a", "b")
    // swap a and b where id = 1: with chained withColumn b would read the NEW a
    val r = Mutations.updateWhere(df, col("id") === 1,
        Map("a" -> col("b"), "b" -> col("a")))
      .orderBy("id").collect().map(x => (x.getInt(0), x.getInt(1), x.getInt(2)))
    assert(r.toSeq == Seq((1, 100, 10), (2, 20, 200)))
  }

  test("applyFieldPatches: per-field latest-wins, nulls mean not-set") {
    val base = Seq((1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)).toDF("k", "s", "x")
    val patches = Seq(
      (1, 1, Some("A1"), Option.empty[Double]), // pri1 sets s only
      (1, 2, None, Some(9.0)),                  // pri2 sets x only -> both apply
      (2, 1, Some("B1"), Some(8.0)),
      (2, 2, Some("B2"), None)                  // pri2 s overrides pri1; x keeps pri1
    ).toDF("k", "pri", "s", "x")
    val r = Mutations.applyFieldPatches(base, patches, "k", Seq("s", "x"))
      .orderBy("k").collect().map(x => (x.getInt(0), x.getString(1), x.getDouble(2)))
    assert(r.toSeq == Seq((1, "A1", 9.0), (2, "B2", 8.0), (3, "c", 3.0)))
  }

  test("q23 patches only targeted keys and fields") {
    val r = Mutations.q23PatchUpdate(spark, sfDir)
    val base = graft.Tables.customer(spark, sfDir).select("c_custkey", "c_mktsegment", "c_acctbal")
    assert(r.count() == base.count()) // $set never adds or drops documents
    val rows = r.collect().map(x => x.getLong(0) -> ((x.getString(1), x.getDouble(2)))).toMap
    val orig = base.collect().map(x => x.getLong(0) -> ((x.getString(1), x.getDouble(2)))).toMap
    rows.foreach { case (k, (seg, bal)) =>
      if (k % 5 == 0) assert(seg == "SEG_PATCHED") else assert(seg == orig(k)._1)
      if (k % 15 == 0) assert(bal == k * 0.5)
      else if (k % 10 == 0) assert(bal == 111.25)
      else assert(bal == orig(k)._2)
    }
  }

  test("q24 post-state reflects delete, update, and insert") {
    val o = graft.Tables.orders(spark, sfDir)
    val agg = Mutations.q24Dml(spark, sfDir)
    val totalAfter = agg.agg(sum("cnt")).head().getLong(0)
    val deleted = o.filter(col("o_orderstatus") === "F" && col("o_totalprice") < 100000).count()
    val inserted = o.filter(col("o_orderkey") % 1000 === 0).count()
    assert(totalAfter == o.count() - deleted + inserted)
    // every surviving row with totalprice >= 400k was re-prioritized
    val urgent = agg.filter(col("o_orderpriority") === "0-URGENT").agg(sum("cnt")).head().getLong(0)
    val expectUrgent = o.filter(col("o_totalprice") >= 400000 &&
      !(col("o_orderstatus") === "F" && col("o_totalprice") < 100000)).count()
    assert(urgent == expectUrgent)
    assert(agg.filter(col("o_orderpriority") === "9-BACKFILL")
      .agg(sum("cnt")).head().getLong(0) == inserted)
  }

  test("rewriteInPlace: copy-on-write parquet round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dml").toString
    val path = s"$dir/t.parquet"
    Seq((1, "x"), (2, "y"), (3, "z")).toDF("id", "s").write.parquet(path)
    Mutations.rewriteInPlace(spark, path) { df =>
      Mutations.updateWhere(Mutations.deleteWhere(df, col("id") === 2),
        col("id") === 3, Map("s" -> lit("Z")))
    }
    val r = graft.Tables.parquet(spark, path).orderBy("id").collect()
      .map(x => (x.getInt(0), x.getString(1)))
    assert(r.toSeq == Seq((1, "x"), (3, "Z")))
    // no staging/old leftovers
    val names = new java.io.File(dir).list().toSeq
    assert(names == Seq("t.parquet"), names.toString)
  }

  test("a rewrite that lands files but never commits leaves the previous rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dml").toString
    val path = s"$dir/t.parquet"
    Seq((1, "x"), (2, "y")).toDF("id", "s").write.parquet(path)
    Mutations.rewriteInPlace(spark, path)(df => Mutations.insertRows(df, Seq((3, "z")).toDF("id", "s")))
    def dataFiles() = new java.io.File(path).list().filter(_.endsWith(".parquet")).toSet
    val committed = dataFiles()
    // the fault: a rewrite's files land in the table directory and in a
    // staging directory, and its manifest commit never happens
    val ghosts = Seq((1, "ghost"), (9, "ghost")).toDF("id", "s")
    ghosts.write.mode("append").parquet(path)
    ghosts.write.parquet(s"$path/_staging/crashed")
    val orphans = dataFiles() -- committed
    assert(orphans.nonEmpty)
    def ids() = graft.Tables.parquet(spark, path).collect().map(_.getInt(0)).sorted.toSeq
    assert(ids() == Seq(1, 2, 3))
    // the next rewrite reads the committed rows and removes the orphans
    Mutations.rewriteInPlace(spark, path)(df => Mutations.deleteWhere(df, col("id") === 2))
    assert(ids() == Seq(1, 3))
    assert((dataFiles() & orphans).isEmpty)
    assert(!new java.io.File(s"$path/_staging/crashed").exists())
  }

  test("q35 $addToSet merge carries base-only tags, set-dedups, and upserts new keys") {
    val rows = Mutations.q35AddToSetMerge(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1).split(",").toSeq, r.getInt(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (uid, tags, n) =>
      assert(tags.length == n, s"user $uid n_tags mismatch")
      assert(tags == tags.sorted && tags.distinct == tags, s"user $uid not a sorted set")
    }
    // users active before the split carry their planted legacy tag through the merge
    val pre = graft.Tables.events(spark, sfDir)
      .filter(unix_micros(col("ts")) < Mutations.AddToSetSplitUs)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    rows.filter(r => pre.contains(r._1)).foreach { case (uid, tags, _) =>
      assert(tags.contains(s"legacy_${uid % 3}"), s"user $uid lost its base-only tag")
    }
    // users created by the update batch (post-split only) have no legacy tag
    rows.filterNot(r => pre.contains(r._1)).foreach { case (uid, tags, _) =>
      assert(!tags.exists(_.startsWith("legacy_")), s"upserted user $uid has base state")
    }
  }

  test("q42 cascade delete: ledger conserves each table and the cascade is exact") {
    val rows = Mutations.q42CascadeDelete(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set("customer", "orders", "lineitem", "events"))
    // conservation: deleted + remaining = table row count
    val counts = Map(
      "customer" -> graft.Tables.customer(spark, sfDir).count(),
      "orders" -> graft.Tables.orders(spark, sfDir).count(),
      "lineitem" -> graft.Tables.lineitem(spark, sfDir).count(),
      "events" -> graft.Tables.events(spark, sfDir).count())
    counts.foreach { case (t, n) =>
      assert(rows(t)._1 + rows(t)._2 == n, s"$t ledger does not conserve")
    }
    // the cascade is exact: driver-side recompute of each deletion front
    val forget = graft.Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % Mutations.ForgetMod === 0)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(rows("customer")._1 == forget.size)
    val delOrders = graft.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey").collect()
      .filter(r => forget.contains(r.getLong(1))).map(_.getLong(0)).toSet
    assert(rows("orders")._1 == delOrders.size)
    val delLi = graft.Tables.lineitem(spark, sfDir)
      .select("l_orderkey").collect().count(r => delOrders.contains(r.getLong(0)))
    assert(rows("lineitem")._1 == delLi)
    val delEv = graft.Tables.events(spark, sfDir)
      .select("user_id").collect().count(r => forget.contains(r.getLong(0)))
    assert(rows("events")._1 == delEv)
    // the modular receipt is exact: driver-side recompute of
    // sum(key % P) % P over the surviving keys (order-independent and
    // overflow-free at any table size — the reason it replaced raw sums)
    val P = Mutations.ChecksumP
    val custSum = graft.Tables.customer(spark, sfDir)
      .select("c_custkey").collect().map(_.getLong(0))
      .filterNot(forget.contains)
      .foldLeft(0L)((acc, k) => (acc + k % P) % P)
    assert(rows("customer")._3 == custSum, "customer receipt mismatch")
    val ordSum = graft.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey").collect()
      .filterNot(r => forget.contains(r.getLong(1))).map(_.getLong(0))
      .foldLeft(0L)((acc, k) => (acc + k % P) % P)
    assert(rows("orders")._3 == ordSum, "orders receipt mismatch")
    val liSum = graft.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber").collect()
      .filterNot(r => delOrders.contains(r.getLong(0)))
      .map(r => ((r.getLong(0) % P) * 8 + r.getInt(1)) % P)
      .foldLeft(0L)((acc, k) => (acc + k) % P)
    assert(rows("lineitem")._3 == liSum, "lineitem receipt mismatch")
    // the forget-set and deleted-order joins broadcast (key slivers)
    val plan = Mutations.q42CascadeDelete(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"slivers must broadcast:\n$plan")
  }
}
