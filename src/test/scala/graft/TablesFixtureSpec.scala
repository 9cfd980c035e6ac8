package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.classic.GraftTestBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Regression pin for the round-4 cliff: the driver fixtures' `events.ts`
  * column changed physical type (TIMESTAMP(NANOS)-as-long → plain
  * TIMESTAMP(MICROS)) and the unconditional DIV-1000 shim in `Tables.events`
  * broke 103/258 queries. `Tables.events` must adapt to BOTH encodings and
  * always yield a genuine timestamp column with identical values.
  */
class TablesFixtureSpec extends SparkSpec {

  private def writeFixture(dir: String, tsCol: org.apache.spark.sql.Column,
                           tsType: DataType): Unit = {
    import spark.implicits._
    Seq(
      ("e1", "u1", "purchase", 1735689600123456L), // 2025-01-01T00:00:00.123456Z
      ("e2", "u2", "view", 1735693200000000L)
    ).toDF("event_id", "user_id", "event_type", "us")
      .withColumn("ts", tsCol.cast(tsType))
      .drop("us")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** A genuine TIMESTAMP(NANOS) `events.parquet` (one file, as the
    * driver fixtures ship), which Spark reads only under nanosAsLong. */
  private def writeNanosFixture(dir: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message events { required binary event_id (STRING); " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq("e1" -> 1735689600123456789L, "e2" -> 1735693200000000000L)
      .foreach { case (id, ns) =>
        w.write(rows.newGroup().append("event_id", id).append("ts", ns))
      }
    finally w.close()
  }

  test("two Tables.table reads of one fixture start one schema job") {
    val dir = Files.createTempDirectory("graft-probe-once").toString
    writeFixture(dir, timestamp_micros(col("us")), TimestampType)
    val group = "tables-probe-once"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    GraftTestBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "two fixture reads")
    try {
      Tables.table(spark, dir, "events")
      Tables.table(spark, dir, "events")
    } finally {
      sc.clearJobGroup()
      GraftTestBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 1)
  }

  test("a fixture rewritten at the same path with the other ts encoding " +
    "is probed again") {
    val dir = Files.createTempDirectory("graft-probe-mtime").toString
    writeFixture(dir, col("us") * lit(1000L), LongType)
    assert(Tables.table(spark, dir, "events").schema("ts").dataType == LongType)
    val file = new File(s"$dir/events.parquet")
    val before = file.lastModified()
    writeFixture(dir, timestamp_micros(col("us")), TimestampType)
    // a rewrite always lands in a later mtime on a real clock; make it so
    // on a filesystem whose mtimes are coarser than the two writes' gap
    file.setLastModified(file.lastModified().max(before + 1000))
    assert(Tables.table(spark, dir, "events").schema("ts").dataType ==
      TimestampType)
    val got = Tables.events(spark, dir).filter(col("event_id") === "e1")
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"))
      .head().getString(0)
    assert(got === "2025-01-01 00:00:00.123")
  }

  test("a TIMESTAMP(NANOS) fixture reads as a timestamp in a new session") {
    val dir = Files.createTempDirectory("graft-nanos-session").toString
    writeNanosFixture(dir)
    assert(Tables.events(spark, dir).count() === 2)
    val other = spark.newSession()
    try {
      val df = Tables.events(other, dir)
      assert(df.schema("ts").dataType == TimestampType)
      val got = df.filter(col("event_id") === "e1")
        .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .head().getString(0)
      assert(got === "2025-01-01 00:00:00.123456")
    } finally Shared.release(other)
  }

  test("Tables.events reads a micros-typed (native timestamp) fixture") {
    val dir = Files.createTempDirectory("graft-micros").toString
    writeFixture(dir, timestamp_micros(col("us")), TimestampType)
    val df = Tables.events(spark, dir)
    // the read must ANALYZE and EXECUTE (round 4's failure was at analysis)
    assert(df.count() === 2)
    assert(df.schema("ts").dataType.isInstanceOf[TimestampType.type] ||
      df.schema("ts").dataType.isInstanceOf[TimestampNTZType.type])
    val got = df.filter(col("event_id") === "e1")
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"))
      .head().getString(0)
    assert(got === "2025-01-01 00:00:00.123")
  }

  test("Tables.events reads a long-nanos fixture via the DIV-1000 shim") {
    val dir = Files.createTempDirectory("graft-nanos").toString
    // long-typed ts carrying nanosecond epochs — what nanosAsLong used to
    // surface for the TIMESTAMP(NANOS) generation of the fixture
    writeFixture(dir, col("us") * lit(1000L), LongType)
    val df = Tables.events(spark, dir)
    assert(df.count() === 2)
    val got = df.filter(col("event_id") === "e1")
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"))
      .head().getString(0)
    assert(got === "2025-01-01 00:00:00.123")
  }

  test("readEventsStream adapts a long-nanos fixture to a timestamp ts") {
    val dir = Files.createTempDirectory("graft-nanos-stream").toString
    writeFixture(dir, col("us") * lit(1000L), LongType)
    val df = graft.streaming.EventStream.readEventsStream(spark, dir)
    assert(df.isStreaming)
    assert(df.schema("ts").dataType == TimestampType)
  }

  test("the real driver fixture at sf0.001 loads with a session-zone ts") {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    assert(df.count() > 0)
    // must be the LTZ TimestampType specifically: unix_micros/watermark
    // consumers reject TIMESTAMP_NTZ
    assert(df.schema("ts").dataType == TimestampType,
      s"ts must normalize to TimestampType, got ${df.schema("ts").dataType}")
    // and unix_micros must resolve on it (the round-5 NTZ failure mode)
    df.select(unix_micros(col("ts"))).head()
  }
}
