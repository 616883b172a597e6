package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the `Tables` loaders: the per-session table resolution and the
  * `Tables.loadEvents` schema contract across fixture encodings.
  *
  * A second load of a table must cost no Spark job and no file discovery,
  * yet still see a table rewritten or grown at the same path, and two loads
  * must self-join like two independent reads.
  *
  * The driver has regenerated `events.parquet` with different `ts` physical
  * types across rounds (nanosecond INT64, then native microsecond TIMESTAMP).
  * A loader hard-wired to one encoding silently zeroes out the whole
  * temporal/event query family when the fixture changes, so this spec writes
  * both encodings in-test and asserts the loader normalizes each to a real
  * TimestampType column with identical values, on a first load and on
  * cached loads made before and after the nanos-as-long setting flips.
  */
class TablesSpec extends SparkSpec {

  private val t0 = Timestamp.valueOf("2024-03-01 12:34:56.789")
  private val t1 = Timestamp.valueOf("2024-03-02 01:02:03.004")

  private def writeDir(): String = {
    val d = Files.createTempDirectory("graft_tables_spec").toString
    new java.io.File(d).deleteOnExit()
    d
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def filesDiscovered(body: => Unit): Long = {
    val m = org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED
    val before = m.getCount
    body
    m.getCount - before
  }

  private def writeTable(path: String, rows: Seq[Row], schema: StructType, parts: Int = 1): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(parts).write.mode("overwrite").parquet(path)

  private val idSchema = StructType(Seq(StructField("id", LongType)))

  /** Each `ts` encoding normalizes on the first load, on a cached reload,
    * and after a load made with nanos-as-long switched off (a different
    * cache key, so the table is resolved again under each setting). */
  private def assertLoaded(dir: String): Unit = {
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      assert(df.schema("ts").dataType == TimestampType)
      val got = df.orderBy("event_id").select("ts").collect().map(_.getTimestamp(0))
      assert(got.toSeq == Seq(t0, t1))
    }
    check(Tables.loadEvents(spark, dir))
    var again: org.apache.spark.sql.DataFrame = null
    assert(countJobs { again = Tables.loadEvents(spark, dir) } == 0)
    check(again)
    spark.conf.set(NanosAsLong, "false")
    val raw = Tables.load(spark, dir, "events")
    assert(spark.conf.get(NanosAsLong) == "false")
    assert(raw.count() == 2)
    check(Tables.loadEvents(spark, dir))
    assert(spark.conf.get(NanosAsLong) == "true")
  }

  test("a second load of a table starts no job and discovers no files") {
    val dir = writeDir()
    writeTable(s"$dir/t.parquet", Seq(Row(1L), Row(2L)), idSchema)
    assert(countJobs(Tables.load(spark, dir, "t")) > 0)
    var df: org.apache.spark.sql.DataFrame = null
    assert(filesDiscovered { assert(countJobs { df = Tables.load(spark, dir, "t") } == 0) } == 0)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("in a graft.Session session a table loaded before and after loadEvents is resolved once") {
    // A new session over the shared context starts from the settings
    // graft.Session gave the context, not from the ones earlier specs
    // flipped on the shared session.
    val s = spark.newSession()
    val dir = writeDir()
    writeTable(s"$dir/t.parquet", Seq(Row(1L), Row(2L)), idSchema)
    writeTable(s"$dir/events.parquet", Seq(Row(1L, t0)),
      StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType))))
    assert(countJobs(Tables.load(s, dir, "t")) > 0)
    assert(Tables.loadEvents(s, dir).count() == 1)
    var df: org.apache.spark.sql.DataFrame = null
    assert(countJobs { df = Tables.load(s, dir, "t") } == 0)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("two loads of one table self-join on fresh attribute IDs") {
    val a = Tables.load(spark, sf(), "nation")
    val b = Tables.load(spark, sf(), "nation")
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    val joined = a.join(b, a("n_nationkey") === b("n_nationkey"))
    assert(joined.count() == 25)
    assert(joined.filter(a("n_name") =!= b("n_name")).count() == 0)
  }

  test("a table overwritten at the same path is seen by the next load") {
    val dir = writeDir()
    writeTable(s"$dir/t.parquet", Seq(Row(1L), Row(2L)), idSchema)
    assert(Tables.load(spark, dir, "t").count() == 2)
    writeTable(s"$dir/t.parquet", Seq(Row(7L, "x"), Row(8L, "y"), Row(9L, "z")),
      StructType(Seq(StructField("id", LongType), StructField("name", StringType))))
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((7L, "x"), (8L, "y"), (9L, "z")))
  }

  test("a load after a schema-inference setting changes resolves the table again") {
    // Written with the plain parquet writer: a Spark-written file carries its
    // Spark schema in the footer, which inference prefers over the setting.
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val dir = writeDir()
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message t { required binary b; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/t.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "ab")) finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    try {
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir, "t").schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val df = Tables.load(spark, dir, "t")
      assert(df.schema("b").dataType == StringType)
      assert(df.collect().map(_.getString(0)).toSeq == Seq("ab"))
    } finally spark.conf.unset(key)
  }

  test("a directory of part files loads, and a part file added to it is picked up") {
    val dir = writeDir()
    writeTable(s"$dir/t.parquet", (1L to 6L).map(Row(_)), idSchema, parts = 3)
    val parts = new java.io.File(s"$dir/t.parquet").listFiles.filter(_.getName.startsWith("part-"))
    assert(parts.length > 1)
    assert(Tables.load(spark, dir, "t").count() == 6)
    writeTable(s"$dir/extra", Seq(Row(100L)), idSchema)
    val extra = new java.io.File(s"$dir/extra").listFiles.find(_.getName.endsWith(".parquet")).get
    Files.copy(extra.toPath, java.nio.file.Paths.get(s"$dir/t.parquet/part-extra.parquet"))
    assert(Tables.load(spark, dir, "t").collect().map(_.getLong(0)).sorted.toSeq ==
      ((1L to 6L) :+ 100L))
  }

  test("loadEvents reads native micros TIMESTAMP fixtures directly") {
    val dir = writeDir()
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, t0, 10L), Row(2L, t1, 11L)),
      StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("user_id", LongType))))
    df.repartition(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    assertLoaded(dir)
  }

  test("loadEvents casts TIMESTAMP_NTZ ts fixtures to plain TIMESTAMP") {
    // The current driver fixtures are pandas-written timestamp[us] without a
    // timezone, which Spark infers as TIMESTAMP_NTZ; under the UTC session
    // timezone the cast must preserve the wall-clock values exactly.
    val dir = writeDir()
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        // wall-clock = the instant rendered in UTC, so the UTC-session cast
        // recovers exactly t0/t1 regardless of the JVM default timezone
        Row(1L, java.time.LocalDateTime.ofInstant(t0.toInstant, java.time.ZoneOffset.UTC), 10L),
        Row(2L, java.time.LocalDateTime.ofInstant(t1.toInstant, java.time.ZoneOffset.UTC), 11L)),
      StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampNTZType),
        StructField("user_id", LongType))))
    df.repartition(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    assertLoaded(dir)
  }

  test("loadEvents converts long (nanos-as-long) ts fixtures to timestamps") {
    // Spark cannot write TIMESTAMP(NANOS) parquet; with the legacy
    // nanosAsLong conf such a column arrives as LongType, which is exactly
    // what a plain INT64 nanos column gives — so writing longs exercises
    // the same loader branch the nanos fixtures hit.
    val dir = writeDir()
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, t0.getTime * 1000000L + (t0.getNanos % 1000000L), 10L),
        Row(2L, t1.getTime * 1000000L + (t1.getNanos % 1000000L), 11L)),
      StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", LongType),
        StructField("user_id", LongType))))
    df.repartition(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    assertLoaded(dir)
  }
}
