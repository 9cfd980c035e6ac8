package graft

import java.nio.file.Files
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
