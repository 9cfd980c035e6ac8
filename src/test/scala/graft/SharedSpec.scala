package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** Shared's lifecycle on sessions of their own (`newSession()` shares the
  * suite's context but not its entries), so no other suite's frames are
  * touched. */
class SharedSpec extends SparkSpec {
  /** A frame whose build persists two RDDs: a lazy pin and the eager
    * checkpoint over it. */
  private def twoPins(s: SparkSession, n: Long): DataFrame =
    s.range(n).localCheckpoint(false).selectExpr("id * 2 AS x")
      .localCheckpoint()

  test("a second get-or-build returns the same reference, builder unused") {
    val s = spark.newSession()
    try {
      var builds = 0
      val a = Shared(s, "frame@x") { builds += 1; twoPins(s, 10) }
      val b = Shared(s, "frame@x") { builds += 1; twoPins(s, 10) }
      assert(a eq b)
      assert(builds == 1)
      assert(Shared.keys(s) == Set("frame@x"))
    } finally Shared.release(s)
  }

  test("sessions keep their own frames; release frees only its session's") {
    val a = spark.newSession()
    val b = spark.newSession()
    try {
      def build(s: SparkSession, n: Long): (DataFrame, Set[Int]) = {
        val before = Shared.persisted(s)
        val df = Shared(s, "frame@x")(twoPins(s, n))
        (df, Shared.persisted(s) -- before)
      }
      val (fa, gainedA) = build(a, 10)
      val (fb, gainedB) = build(b, 20)
      assert(!(fa eq fb))
      assert(gainedA.size == 2 && gainedB.size == 2)
      assert(Shared.held(a) == gainedA && Shared.held(b) == gainedB)

      Shared.release(a)
      val live = Shared.persisted(a)
      assert((gainedA & live).isEmpty)
      assert(gainedB.subsetOf(live))
      assert(Shared.keys(a).isEmpty && Shared.held(a).isEmpty)
      assert(Shared.keys(b) == Set("frame@x") && Shared.held(b) == gainedB)
      assert(fb.count() == 20)

      // a query's own pins are released; the shared frame's survive
      val snapshot = Shared.persisted(b)
      val pin = b.range(5).localCheckpoint()
      val own = Shared.persisted(b) -- snapshot
      assert(own.size == 1 && pin.count() == 5)
      Shared.releasePins(b, snapshot)
      assert((Shared.persisted(b) & own).isEmpty)
      assert(gainedB.subsetOf(Shared.persisted(b)))
      assert(Shared[DataFrame](b, "frame@x")(fail("rebuilt")) eq fb)
      assert(fb.count() == 20)
    } finally { Shared.release(a); Shared.release(b) }
  }

  test("Shared is the only cross-query cache under src/main") {
    val root = Path.of("src/main")
    def hits(needle: String): Seq[String] =
      Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains(needle))
        .map(p => root.relativize(p).toString).toSeq.sorted
    assert(hits("identity" + "HashCode").isEmpty)
    assert(hits("Trie" + "Map") == Seq("scala/graft/Shared.scala"))
  }
}
