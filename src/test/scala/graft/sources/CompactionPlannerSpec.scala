package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** CompactionPlanner: the report's accounting, the packer's exactness
  * and determinism, and conservation through an actual commit. */
class CompactionPlannerSpec extends SparkSpec {

  private def smallFileTable(n: Int): String = {
    val dir = Files.createTempDirectory("graft-compact").toFile.getAbsolutePath + "/t"
    StoreManifest.write(spark, dir, graft.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity").repartition(n), None, None, keep = _ => false)
    dir
  }

  private def sig(df: org.apache.spark.sql.DataFrame) = df.agg(
    count(lit(1)), sum(col("l_orderkey") % 997), sum(col("l_partkey") % 997),
    sum((col("l_quantity").cast("decimal(18,2)") * 100).cast("long") % 997)).head()

  private def dataFiles(dir: String): Set[String] =
    new java.io.File(dir).list().filter(_.endsWith(".parquet")).toSet

  test("fileReport accounts every row and every data file") {
    val dir = smallFileTable(12)
    val rep = CompactionPlanner.fileReport(spark, dir).collect()
    assert(rep.length == 12, s"expected 12 data files, saw ${rep.length}")
    val total = graft.Tables.lineitem(spark, sfDir).count()
    assert(rep.map(_.getLong(2)).sum == total, "row counts must conserve")
    assert(rep.forall(_.getLong(1) > 0L), "every file has bytes")
  }

  test("plan partitions the file set into target-bounded groups, deterministically") {
    val dir = smallFileTable(12)
    val snap = StoreManifest.snapshot(spark, dir)
    val target = snap.files.map(_.size).sum / 3
    val planned = CompactionPlanner.plan(snap, target)
    // exact partition of the file set
    assert(planned.map(_.file).sortBy(_.path) == snap.files.sortBy(_.path))
    // group fill respects the target unless a single file overflows it
    planned.groupBy(_.group).foreach { case (g, fs) =>
      val fill = fs.map(_.file.size).sum
      assert(fill <= target || fs.length == 1, s"group $g overfilled with ${fs.length} files")
    }
    // fewer groups than files (the point), and FFD is deterministic
    assert(planned.map(_.group).distinct.length < 12)
    assert(CompactionPlanner.plan(snap, target) == planned)
    // an impossible target degenerates to one singleton group per file
    val singletons = CompactionPlanner.plan(snap, 1L)
    assert(singletons.map(_.group).distinct.length == 12)
  }

  test("compact rewrites each multi-file group as one file and conserves content") {
    val dir = smallFileTable(12)
    val base = StoreManifest.snapshot(spark, dir)
    val planned = CompactionPlanner.plan(base, base.files.map(_.size).sum / 3)
    val groups = planned.groupBy(_.group).values.toSeq
    val after = CompactionPlanner.compact(spark, dir, base, planned)
    assert(after.version == base.version + 1)
    assert(sig(StoreManifest.read(spark, dir, after)) == sig(StoreManifest.read(spark, dir, base)),
      "compaction must conserve rows and content checksums")
    // exactly one new file per rewritten group; singleton files kept as they were
    val multi = groups.count(_.length > 1)
    assert(multi > 0, "at least one group must be rewritten")
    assert(after.files.count(f => !base.files.contains(f)) == multi)
    assert(groups.filter(_.length == 1).map(_.head.file).forall(after.files.contains))
    // a table with nothing to pack is left as it is
    assert(CompactionPlanner.compact(spark, dir, after, CompactionPlanner.plan(after, 1L)) == after)
  }

  test("a compaction is one commit: readers see the source content throughout; originals go a commit later") {
    val dir = smallFileTable(12)
    val before = sig(graft.Tables.parquet(spark, dir))
    val base = StoreManifest.snapshot(spark, dir)
    val planned = CompactionPlanner.plan(base, base.files.map(_.size).sum / 3)
    val replaced = planned.groupBy(_.group).values.filter(_.length > 1).flatten.map(_.file.path).toSet
    assert(replaced.nonEmpty, "fixture must compact something")
    val after = CompactionPlanner.compact(spark, dir, base, planned)
    // the originals are still on disk, yet neither snapshot counts a row twice
    assert(replaced.subsetOf(dataFiles(dir)))
    assert(sig(graft.Tables.parquet(spark, dir)) == before, "after the commit: the source content")
    assert(sig(StoreManifest.read(spark, dir, base)) == before, "a reader of the base finishes")
    // the following commit removes exactly the replaced originals
    val next = StoreManifest.write(spark, dir, StoreManifest.read(spark, dir, after).limit(1),
      None, Some(after), keep = _ => true)
    assert((dataFiles(dir) & replaced).isEmpty)
    assert(dataFiles(dir) == next.files.map(_.path).toSet)
  }
}
