package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

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
