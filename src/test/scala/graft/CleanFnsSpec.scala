package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col
import graft.functions.CleanFns.r6

/** `CleanFns.r6` is the Spark side of the oracle's 6-decimal rounding,
  * `FLOOR(x * 1000000.0 + 0.5) / 1000000.0`, and the only copy of it. */
class CleanFnsSpec extends SparkSpec {

  private val inputs = Seq(1.23456749, 1.23456751, -1.23456749, -1.23456751)

  test("r6 rounds half-up at 6 decimals, on columns and on doubles") {
    import spark.implicits._
    val got = (inputs.map(Option(_)) :+ None).toDF("x")
      .select(r6(col("x"))).as[Option[Double]].collect().toSeq
    val want = Seq(1.234567, 1.234568, -1.234567, -1.234568)
    assert(got == want.map(Option(_)) :+ None)
    assert(inputs.map(r6) == want)
  }

  test("r6 is defined once under src/main, in CleanFns") {
    val root = Path.of("src/main")
    def hits(needle: String): Seq[String] =
      Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains(needle))
        .map(p => root.relativize(p).toString).toSeq.sorted
    val only = Seq("scala/graft/functions/CleanFns.scala")
    assert(hits("def r6") == only)
    assert(hits("lit(1000000.0) + lit(0.5)) / lit(1000000.0)") == only)
  }
}
