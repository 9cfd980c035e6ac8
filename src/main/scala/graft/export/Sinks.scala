package graft.export

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Export sinks (K1–K4) and the quality report (K3; reference:
  * pipeline/quality.py, analytics.py:121-125).
  *
  * The reference writes one CSV per query; `coalesce(1)` reproduces the
  * single-file layout (fine for export-sized results — NEVER for the fact
  * tables themselves, which stay partitioned). Warehouse tables are written
  * and replaced only by `graft.warehouse.StarWarehouse`; an export is a
  * plain overwrite, because nothing reads it back.
  */
object Sinks {

  /** K1: single-file CSV export with header. */
  def writeCsv(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)

  /** K3: quality-report JSON (driver-side — a metrics map is not a
    * distributed dataset; quality.py:33-38). */
  def writeQualityReport(metrics: Map[String, Long], path: String): Unit = {
    val body = metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => s"""  "$k": $v""" }
      .mkString("{\n", ",\n", "\n}\n")
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, body)
  }
}
