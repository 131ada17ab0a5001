package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** SCHEMA-EVOLUTION AUDIT between two corpus snapshots — the metadata
  * twin of d22's row diff and p7's promotion gate: before a recurring
  * crawl promotes snapshot B over A, the pipeline reviews what happened
  * to the SCHEMA, because silent column loss or a type change breaks
  * every downstream reader (Delta/Iceberg surface this as schema
  * evolution rules; a raw-parquet lake has to audit it itself).
  *
  * Pure metadata work: both schemas come from the parquet FOOTERS (no
  * data scan — Spark reads the merged file schema at planning time), so
  * the audit costs the same at 100 TB as at 100 MB. The verdict
  * classifies every change by compatibility:
  *
  *  - `added` (nullable)      → compatible — old readers ignore it;
  *  - `added` (required)      → breaking for writers that replay old rows;
  *  - `removed`               → breaking — downstream selects fail;
  *  - `type_changed`          → breaking unless a documented widening
  *                              (int→long, float→double — the only two
  *                              promotions parquet readers do for free);
  *  - `nullability_relaxed`   → compatible; `nullability_tightened` →
  *                              breaking for writers.
  */
object SchemaDiff {

  /** One audit row per changed column. */
  case class Change(column: String, kind: String, from: String, to: String,
      breaking: Boolean)

  private def widening(a: DataType, b: DataType): Boolean = {
    val (x, y) = (a.simpleString, b.simpleString)
    (x == "int" && y == "bigint") || (x == "float" && y == "double")
  }

  /** Diff two schemas; deterministic column order. */
  def diff(a: StructType, b: StructType): Seq[Change] = {
    val am = a.fields.map(f => f.name -> f).toMap
    val bm = b.fields.map(f => f.name -> f).toMap
    val removed = a.fields.filterNot(f => bm.contains(f.name)).map(f =>
      Change(f.name, "removed", f.dataType.simpleString, "", breaking = true))
    val added = b.fields.filterNot(f => am.contains(f.name)).map(f =>
      Change(f.name, "added", "", f.dataType.simpleString, breaking = !f.nullable))
    val common = a.fields.filter(f => bm.contains(f.name)).flatMap { fa =>
      val fb = bm(fa.name)
      val ty = if (fa.dataType != fb.dataType)
        Some(Change(fa.name, "type_changed", fa.dataType.simpleString,
          fb.dataType.simpleString, breaking = !widening(fa.dataType, fb.dataType)))
      else None
      val nl = if (fa.nullable != fb.nullable)
        Some(if (fb.nullable)
          Change(fa.name, "nullability_relaxed", "required", "nullable", breaking = false)
        else
          Change(fa.name, "nullability_tightened", "nullable", "required", breaking = true))
      else None
      ty.toSeq ++ nl
    }
    (removed ++ added ++ common).sortBy(c => (c.column, c.kind))
  }

  /** Footer-only audit of two parquet snapshot paths → one row per
    * change plus the go/no-go verdict column a p7-style gate consumes. */
  def auditPaths(s: SparkSession, pathA: String, pathB: String): DataFrame = {
    import s.implicits._
    val changes = diff(graft.Tables.parquet(s, pathA).schema, graft.Tables.parquet(s, pathB).schema)
    changes.toDF()
  }

  /** The one-line promotion verdict: true iff no breaking change. */
  def compatible(a: StructType, b: StructType): Boolean =
    !diff(a, b).exists(_.breaking)
}
