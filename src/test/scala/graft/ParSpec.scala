package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

class ParSpec extends SparkSpec {

  test("results come back in task order, nested fan-out wider than the cores") {
    val out = Par.all((0 until 6).map(i => () =>
      Par.all((0 until 6).map(j => () => { Thread.sleep(20); i * 10 + j }): _*)
        .sum): _*)
    assert(out == (0 until 6).map(i => (0 until 6).map(i * 10 + _).sum))
  }

  test("every task is awaited before the first failure in task order rethrows") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](Par.all(
      () => { Thread.sleep(300); slowDone.set(true) },
      () => throw new IllegalStateException("first"),
      () => throw new IllegalArgumentException("second")))
    assert(e.getMessage == "first")
    assert(slowDone.get)
  }

  test("each task sees the caller's SparkContext local properties") {
    val sc = spark.sparkContext
    val key = "graft.par.probe"
    def seen(): Seq[String] = Par.all(
      () => sc.getLocalProperty(key),
      () => Par.all(() => sc.getLocalProperty(key)).head)
    try {
      sc.setLocalProperty(key, "a")
      assert(seen() == Seq("a", "a"))
      sc.setLocalProperty(key, "b")
      assert(seen() == Seq("b", "b"))
    } finally sc.setLocalProperty(key, null)
  }

  test("Par is the only thread or executor maker under src/main") {
    val root = Path.of("src/main")
    def hits(needle: String): Seq[String] =
      Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains(needle))
        .map(p => root.relativize(p).toString).toSeq.sorted
    assert(hits("new " + "Thread(") == Seq("scala/graft/Par.scala"))
    for (n <- Seq("Executors" + ".new", "ExecutionContext" + ".from",
        "Future" + "(", "await" + "Pair"))
      assert(hits(n).isEmpty, n)
  }
}
