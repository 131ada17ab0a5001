package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import graft.operators.Mutations
import graft.sources.{SchemaDiff, StoreManifest}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** `Tables.parquet` must be `spark.read.parquet` with the schema job
  * taken out: same schema, same rows, same errors, zero jobs to plan. */
class TablesSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted

  private def assertSameRead(path: String): Unit = {
    val want = spark.read.parquet(path)
    val got = Tables.parquet(spark, path)
    assert(got.schema == want.schema, s"schema of $path")
    assert(rows(got) == rows(want), s"rows of $path")
  }

  private def tempDir(tag: String): String =
    Files.createTempDirectory(s"graft_tables_$tag").toString

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously but in order, so once a sentinel job's start has been
    * delivered, every job started before it has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def sentinel(tag: String): Int = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      Iterator.continually(starts.poll(60, TimeUnit.SECONDS))
        .map { d => assert(d != null, s"sentinel $tag never arrived"); d }
        .takeWhile(_ != tag).size
    }
    sc.addSparkListener(listener)
    try {
      sentinel("tables-spec-before")
      body
      sentinel("tables-spec-after")
    } finally sc.removeSparkListener(listener)
  }

  test("every shipped table reads with spark.read.parquet's schema and rows") {
    // events ships with nanosecond timestamps in some layouts; read it
    // the way Tables.events does
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tables = new File(sfDir).listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted
    assert(tables.length >= 10, s"expected the shipped tables under $sfDir")
    tables.foreach(t => assertSameRead(s"$sfDir/$t"))
  }

  test("a multi-file Spark-written directory: the first file in path order decides, as in Spark") {
    val dir = tempDir("multi")
    try {
      val path = s"$dir/t"
      spark.range(0, 400, 1, 4)
        .select(col("id"), (col("id") % 7).cast("int").as("k"),
          concat(lit("row-"), col("id").cast("string")).as("s"),
          array(col("id").cast("float"), lit(0.5f)).as("v"),
          when(col("id") % 5 === 0, lit(null)).otherwise(col("id") * 1.5).as("x"))
        .write.parquet(path)
      assert(new File(path).listFiles().count(_.getName.endsWith(".parquet")) == 4)
      assertSameRead(path)
      // a file with another column: the one that sorts first names the
      // schema, on both sides
      val other = s"$dir/other"
      spark.range(400, 420, 1, 1).select(col("id"), lit("extra").as("y")).write.parquet(other)
      val otherFile = new File(other).listFiles().filter(_.getName.endsWith(".parquet")).head.toPath
      Seq("part-0.parquet" -> true, "zz.parquet" -> false).foreach { case (name, first) =>
        val placed = new File(path, name).toPath
        Files.copy(otherFile, placed)
        assertSameRead(path)
        assert(Tables.parquet(spark, path).columns.contains("y") == first, name)
        Files.delete(placed)
      }
      // several explicit file paths read as one table
      val files = new File(path).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted
      val want = spark.read.parquet(files: _*)
      val got = Tables.parquet(spark, files: _*)
      assert(got.schema == want.schema)
      assert(rows(got) == rows(want))
    } finally rm(new File(dir))
  }

  test("Tables.events reads both the NANOS and the MICROS layout as spark.read.parquet does") {
    val dir = tempDir("events")
    try {
      val nanos = s"$dir/nanos"
      new File(nanos).mkdirs()
      val schema = MessageTypeParser.parseMessageType(
        """message events {
          |  required int64 event_id;
          |  optional int64 ts (TIMESTAMP(NANOS,true));
          |  optional int64 user_id;
          |  optional binary event_type (STRING);
          |}""".stripMargin)
      val writer = ExampleParquetWriter.builder(new Path(s"$nanos/events.parquet"))
        .withType(schema).withConf(new Configuration()).build()
      val groups = new SimpleGroupFactory(schema)
      val baseNanos = 1700000000123456789L
      try (0 until 5).foreach { i =>
        writer.write(groups.newGroup().append("event_id", i.toLong)
          .append("ts", baseNanos + i * 1000001L).append("user_id", (i % 2).toLong)
          .append("event_type", s"t$i"))
      } finally writer.close()

      val micros = s"$dir/micros"
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      try spark.range(0, 5).select(col("id").as("event_id"),
          timestamp_micros(lit(1700000000123456L) + col("id") * 1001L).as("ts"),
          (col("id") % 2).as("user_id"), concat(lit("t"), col("id").cast("string")).as("event_type"))
        .write.parquet(s"$micros/events.parquet")
      finally spark.conf.unset("spark.sql.parquet.outputTimestampType")

      Seq(nanos -> (baseNanos / 1000), micros -> 1700000000123456L).foreach { case (d, firstMicros) =>
        val ev = Tables.events(spark, d)
        // Tables.events set nanosAsLong; the raw read must match Spark's under it
        assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
        assertSameRead(s"$d/events.parquet")
        assert(ev.schema("ts").dataType == TimestampType, d)
        val first = ev.orderBy("event_id").select(unix_micros(col("ts"))).head().getLong(0)
        assert(first == firstMicros, d)
      }
    } finally rm(new File(dir))
  }

  test("rewriteInPlace(insertRows) keeps every row and adds the batch") {
    import spark.implicits._
    val dir = tempDir("rewrite")
    try {
      val path = s"$dir/t"
      val before = (0 until 50).map(i => (i.toLong, s"v$i", i * 0.25)).toDF("id", "s", "x")
      before.repartition(3).write.parquet(path)
      val batch = Seq((100L, "new0", 1.0), (101L, "new1", 2.0)).toDF("id", "s", "x")
      Mutations.rewriteInPlace(spark, path)(df => Mutations.insertRows(df, batch))
      assert(rows(Tables.parquet(spark, path)) == rows(before.unionByName(batch)))
    } finally rm(new File(dir))
  }

  test("a load and its schema, and a schema audit, run no Spark job") {
    val dir = tempDir("audit")
    try {
      spark.range(0, 10).selectExpr("id", "cast(id as int) as k").write.parquet(s"$dir/a")
      spark.range(0, 10).selectExpr("id", "cast(id as string) as k", "id * 2 as extra")
        .write.parquet(s"$dir/b")
      assert(jobsDuring(Tables.load(spark, sfDir, "lineitem").schema) == 0)
      assert(jobsDuring(Tables.events(spark, sfDir).schema) == 0)
      var audit: DataFrame = null
      assert(jobsDuring { audit = SchemaDiff.auditPaths(spark, s"$dir/a", s"$dir/b") } == 0)
      assert(audit.collect().map(_.getAs[String]("column")).toSet == Set("extra", "k"))
      // a manifest-addressed table: non-null columns, as Spark writes them,
      // read back nullable, as spark.read.parquet of its files resolves them
      val table = s"$dir/m"
      val snap = StoreManifest.write(spark, table,
        spark.range(0, 10).selectExpr("id", "array(id, id + 1) as v", "named_struct('x', id) as st"),
        None, None, keep = _ => false)
      assert(jobsDuring(Tables.parquet(spark, table).schema) == 0)
      val files = snap.files.map(f => s"$table/${f.path}")
      assert(Tables.parquet(spark, table).schema == spark.read.parquet(files: _*).schema)
      // the counter does see jobs: Spark's own inference runs one
      assert(jobsDuring(spark.read.parquet(s"$dir/a").schema) >= 1)
    } finally rm(new File(dir))
  }

  test("a missing path and an empty directory fail as spark.read.parquet fails") {
    val dir = tempDir("errors")
    try {
      val empty = s"$dir/empty"
      new File(empty).mkdirs()
      new File(s"$empty/_SUCCESS").createNewFile()
      Seq(s"$dir/missing", empty).foreach { p =>
        val want = intercept[Exception](spark.read.parquet(p))
        val got = intercept[Exception](Tables.parquet(spark, p))
        assert(got.getClass == want.getClass, p)
        (got, want) match {
          case (g: SparkThrowable, w: SparkThrowable) => assert(g.getCondition == w.getCondition, p)
          case _ => fail(s"$p: expected Spark errors, got $got / $want")
        }
      }
    } finally rm(new File(dir))
  }
}
