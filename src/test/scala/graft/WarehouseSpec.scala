package graft

import org.apache.spark.sql.functions._
import graft.operators.Upsert

/** Warehouse-maintenance invariants (SURVEY.md §5.2.2): upsert idempotence
  * and latest-wins, surrogate-key determinism, dim_dates hygiene. */
class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = to_timestamp(lit(s))

  test("upsert: incoming wins, non-conflicting existing kept (load.py:58-67)") {
    val existing = Seq(("a", 1.0, "2024-01-01 00:00:00"),
      ("b", 2.0, "2024-01-01 00:00:00"))
      .toDF("k", "v", "ts").withColumn("ts", to_timestamp(col("ts")))
    val incoming = Seq(("b", 20.0, "2024-01-02 00:00:00"),
      ("c", 3.0, "2024-01-02 00:00:00"))
      .toDF("k", "v", "ts").withColumn("ts", to_timestamp(col("ts")))
    val out = Upsert.upsert(existing, incoming, Seq("k"), col("ts"), col("v"))
      .orderBy("k").select("k", "v").as[(String, Double)].collect()
    assert(out.toSeq == Seq(("a", 1.0), ("b", 20.0), ("c", 3.0)))
  }

  test("upsert is idempotent: applying the same batch twice = once") {
    val existing = Seq(("a", 1.0, "2024-01-01 00:00:00"))
      .toDF("k", "v", "ts").withColumn("ts", to_timestamp(col("ts")))
    val incoming = Seq(("a", 9.0, "2024-01-02 00:00:00"),
      ("b", 2.0, "2024-01-02 00:00:00"))
      .toDF("k", "v", "ts").withColumn("ts", to_timestamp(col("ts")))
    val once = Upsert.upsert(existing, incoming, Seq("k"), col("ts"), col("v"))
    val twice = Upsert.upsert(once, incoming, Seq("k"), col("ts"), col("v"))
    assert(once.orderBy("k").collect().toSeq ==
      twice.orderBy("k").collect().toSeq)
  }

  test("upsert resolves duplicate keys inside the batch keep-latest") {
    val existing = Seq.empty[(String, Double, String)].toDF("k", "v", "ts")
      .withColumn("ts", to_timestamp(col("ts")))
    val incoming = Seq(("a", 1.0, "2024-01-01 00:00:00"),
      ("a", 2.0, "2024-01-03 00:00:00"), ("a", 1.5, "2024-01-02 00:00:00"))
      .toDF("k", "v", "ts").withColumn("ts", to_timestamp(col("ts")))
    val out = Upsert.upsert(existing, incoming, Seq("k"), col("ts"), col("v"))
    assert(out.select("v").as[Double].collect().toSeq == Seq(2.0))
  }

  test("surrogate keys follow sorted natural-key order (load.py:75-79)") {
    val dim = Seq("zebra", "apple", "mango").toDF("name").distinct()
    val out = Upsert.withSurrogateKey(dim, "name", "id")
      .orderBy("id").as[(String, Long)].collect()
    assert(out.toSeq == Seq(("apple", 1L), ("mango", 2L), ("zebra", 3L)))
  }

  test("dim_dates expands parts and skips malformed keys (load.py:83-102)") {
    val keys = Seq("2024-03-05", "garbage", "2024-03-05", "2023-12-31")
      .toDF("date_key")
    val out = Upsert.dimDates(keys, "date_key").orderBy("date_key")
      .as[(String, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(("2023-12-31", 2023L, 12L, 31L),
      ("2024-03-05", 2024L, 3L, 5L)))
  }

  test("generation commit survives replay (commit twice, same state)") {
    val root = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val wh = new graft.warehouse.StarWarehouse(spark, root)
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    def back = wh.read("t").orderBy("k").as[(String, Long)].collect().toSeq
    wh.replace("t")(_ => df)
    wh.replace("t")(_ => df)
    assert(back == Seq(("a", 1L), ("b", 2L)))
    // each commit is a new generation; the superseded one is deleted
    assert(WarehouseFiles.pointer(root) == Seq("v2/t"))
    assert(WarehouseFiles.generations(root) == Seq("v2/t"))
    // a commit reads its input from the generation it replaces
    wh.replace("t")(_.get.filter(col("k") === "a"))
    assert(back == Seq(("a", 1L)))
    assert(WarehouseFiles.generations(root) == Seq("v3/t"))
  }
}
