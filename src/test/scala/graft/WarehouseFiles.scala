package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/** A warehouse root as it lies on disk, for the specs that check the
  * generation commit: the `_CURRENT` pointer and the `v<n>/<table>`
  * directories. */
object WarehouseFiles {

  /** `_CURRENT`'s lines, one `v<n>/<table>` per table. */
  def pointer(root: String): Seq[String] =
    Files.readAllLines(Paths.get(root, "_CURRENT")).asScala.toSeq

  /** Every `v<n>/<table>` on disk, sorted. */
  def generations(root: String): Seq[String] = {
    def list(dir: java.nio.file.Path) =
      Files.list(dir).iterator().asScala.toSeq
    list(Paths.get(root))
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.matches("v\\d+"))
      .flatMap(gen => list(gen).map(t => s"${gen.getFileName}/${t.getFileName}"))
      .sorted
  }

  /** Every file under `dir` with its bytes, by path relative to `dir`. */
  def files(dir: String): Map[String, Seq[Byte]] = {
    val base = Paths.get(dir)
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .toMap
  }
}

/** Fault injection for the generation-commit specs, as a Spark commit
  * protocol: inside [[FaultyCommit.failing]], a write to the faulty path
  * fails at job setup, and a path named `_CURRENT` is planted as a regular
  * file by the first write beside it, so publishing the pointer staged
  * there fails. A file planted before the load would not do: the load's
  * start-of-commit cleanup deletes whatever `_CURRENT` does not name. */
class FaultyCommit(jobId: String, path: String, dynamic: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamic) {
  override def setupJob(ctx: JobContext): Unit = {
    FaultyCommit.at.foreach { fault =>
      val out = Paths.get(new org.apache.hadoop.fs.Path(path).toUri.getPath)
      if (out == fault)
        throw new java.io.IOException(s"planted fault at $fault")
      if (fault.getFileName.toString == "_CURRENT" &&
          out.getParent == fault.getParent)
        Files.writeString(fault, "x")
    }
    super.setupJob(ctx)
  }
}

object FaultyCommit {
  @volatile private var at: Option[Path] = None

  /** `body` with every write of `spark` failing at `fault` (see above). */
  def failing[T](spark: SparkSession, fault: Path)(body: => T): T = {
    val key = "spark.sql.sources.commitProtocolClass"
    val prev = spark.conf.getAll.get(key)
    at = Some(fault)
    spark.conf.set(key, classOf[FaultyCommit].getName)
    try body
    finally {
      at = None
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
