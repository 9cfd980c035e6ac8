package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** The benchmark JVM. Reads a plan (JSON, written by run.py), runs one
  * workload through the program's public entry points only —
  * `graft.Pipeline.run` and the `graft.SparkEntry.queries` builders
  * followed by `count()` — and writes raw measurements plus every output
  * to a result JSON. run.py checks the outputs and derives the metrics.
  *
  * Run shape: setup — build the session, `spark.range(1e6).sum`,
  * `warm_passes` untimed passes (queries: two over the list, each on its
  * own copy of the tables, for codegen and JIT; etl_batches: none), drain —
  * and `setup_s`, from the JVM's launch to the first timed operation; then
  * timed passes until `seconds` have elapsed, at least `min_timed_passes`.
  * A pass is the workload's whole operation list, so timed passes are
  * equal units of work: every query pass reads its own copy of the tables
  * (no cross-query memo built in an earlier pass is reused) and every ETL
  * pass loads its batches into an empty warehouse. The timed loop forces
  * no GC and never sleeps. */
object Main {
  private val mapper = new ObjectMapper()

  final case class Op(pass: Int, index: Int, name: String, traced: Boolean,
                      startMs: Long, actionMs: Long, endMs: Long,
                      wallS: Double, constructS: Double, gcMs: Long,
                      error: Option[String], output: Any)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val workload = plan.get("workload").asText
    val cpus = plan.get("cpus").asInt
    val seconds = plan.get("seconds").asDouble
    val trace = plan.get("trace").asInt == 1
    val launchMs = plan.get("launch_ms").asDouble
    val work = plan.get("work_dir").asText
    val etl = workload == "etl_batches"
    val driver: Driver =
      if (etl) new EtlDriver(plan, work) else new QueryDriver(plan)

    // ---- setup: session, warm-up and warm passes; the drain, the end of
    // setup and the start of tracing come right before the first timed pass
    val spark = session(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()
    val tracer = new Tracer
    val warmPasses = plan.get("warm_passes").asInt
    val minPasses = warmPasses + plan.get("min_timed_passes").asInt
    val ops = Vector.newBuilder[Op]
    var setupS = 0.0
    var loopStart = 0L
    var pass = 0
    while (pass < driver.maxPasses && (pass < minPasses ||
      (System.nanoTime() - loopStart) / 1e9 < seconds)) {
      if (pass == warmPasses) {
        drain(spark)
        setupS = (System.currentTimeMillis() - launchMs) / 1000.0
        loopStart = System.nanoTime()
        if (trace) {
          spark.sparkContext.addSparkListener(tracer)
          spark.listenerManager.register(tracer)
        }
      }
      ops ++= driver.runPass(spark, pass, trace && pass >= warmPasses)
      driver.endPass(spark, pass)
      pass += 1
    }
    if (trace) PerfbenchBus.drain(spark.sparkContext)
    val all = ops.result()
    val layers =
      if (trace) Layers.compute(all, tracer, cpus) else Map.empty[String, Double]

    val out = new java.util.LinkedHashMap[String, Any]
    out.put("setup_s", setupS)
    out.put("passes", pass)
    out.put("ops", all.map(opJson).asJava)
    out.put("peak_rss_mb", peakRssMb)
    out.put("retained_heap_mb", retainedHeapMb)
    out.put("config", effectiveConfig(spark))
    out.put("layers", layers.asJava)
    out.put("extra", driver.extra(all).asJava)
    spark.stop()
    Files.writeString(Path.of(plan.get("out").asText),
      mapper.writeValueAsString(out))
    sys.exit(0)
  }

  /** The session graft.Bench builds, setting for setting. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm-up drain: release the warm passes' pinned RDDs before the
    * first timed operation. Unlike graft.Bench it forces no GC: the pass
    * after a forced full GC ran slower than the warm pass before it. */
  private def drain(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Heap still in use after the timed loop and a full GC, in MB: what
    * the operations left reachable (memos, pins, caches). */
  private def retainedHeapMb: Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb: Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  private def effectiveConfig(spark: SparkSession): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]
    Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "spark.ui.enabled", "spark.sql.adaptive.enabled")
      .foreach(k => m.put(k, spark.conf.getOption(k).orNull))
    m.put("jvm_args",
      ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(_.startsWith("-Djava.io.tmpdir")).asJava)
    m.put("spark_version", spark.version)
    m
  }

  private def opJson(o: Op): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]
    m.put("pass", o.pass); m.put("index", o.index); m.put("name", o.name)
    m.put("traced", o.traced); m.put("wall_s", o.wallS)
    m.put("construct_s", o.constructS)
    o.error.foreach(m.put("error", _))
    m.put("output", o.output)
    m
  }

  /** Runs `construct` then `action`, timing both, and never throws. */
  def timed(pass: Int, index: Int, name: String, traced: Boolean)
           (construct: => AnyRef)(action: AnyRef => Any): Op = {
    val g0 = gcMs
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    var built = false
    var msA = ms0; var tA = t0
    val res = try {
      val b = construct
      msA = System.currentTimeMillis(); tA = System.nanoTime(); built = true
      Right(action(b))
    } catch {
      case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    val t1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
    if (!built) { msA = ms1; tA = t1 } // the builder threw
    Op(pass, index, name, traced, ms0, msA, ms1, (t1 - t0) / 1e9,
      (tA - t0) / 1e9, gcMs - g0, res.left.toOption, res.toOption.orNull)
  }

  def jsonList(n: JsonNode): Seq[JsonNode] =
    if (n == null) Seq.empty else n.elements().asScala.toSeq
}

/** One workload's operations. */
trait Driver {
  def maxPasses: Int
  def runPass(spark: SparkSession, pass: Int, traced: Boolean): Seq[Main.Op]
  def endPass(spark: SparkSession, pass: Int): Unit = ()
  /** Workload-specific figures, known after the timed loop. */
  def extra(ops: Seq[Main.Op]): Map[String, Double] = Map.empty
}

/** queries (and probe.py's registry-wide probe): builder call, then
  * `count()`, for each query of the pass's order. */
final class QueryDriver(plan: JsonNode) extends Driver {
  private val dataDirs = Main.jsonList(plan.get("data_dirs")).map(_.asText)
  private val registry = graft.SparkEntry.queries
  /** `["*"]` stands for every registered query, in name order. */
  private val orders = Main.jsonList(plan.get("orders"))
    .map(o => Main.jsonList(o).map(_.asText))
    .map(o => if (o == Seq("*")) registry.keys.toSeq.sorted else o)
  orders.flatten.distinct.filterNot(registry.contains).foreach { q =>
    throw new IllegalArgumentException(s"query $q is not registered")
  }

  def maxPasses: Int = dataDirs.length min orders.length

  def runPass(spark: SparkSession, pass: Int, traced: Boolean): Seq[Main.Op] =
    orders(pass).zipWithIndex.map { case (q, i) =>
      Main.timed(pass, i, q, traced)(registry(q)(spark, dataDirs(pass))) {
        df => Long.box(df.asInstanceOf[org.apache.spark.sql.DataFrame].count())
      }
    }
}

/** etl_batches: `Pipeline.run` once per batch into one warehouse per pass. */
final class EtlDriver(plan: JsonNode, work: String) extends Driver {
  import EtlDriver.Batch
  private def batches(key: String) = Main.jsonList(plan.get(key)).map(b =>
    Batch(b.get("events").asText, b.get("users").asText, b.get("intl").asText))
  private val timedBatches = batches("batches")
  private val warmPasses = plan.get("warm_passes").asInt
  private var warehouse: (Long, Long) = (0L, 0L) // files, bytes

  def maxPasses: Int = plan.get("max_passes").asInt

  private def run(spark: SparkSession, b: Batch, root: String)
      : java.util.Map[String, Any] = {
    val r = graft.Pipeline.run(spark, b.events, b.users, s"$root/warehouse",
      s"$root/exports", Some(b.intl))
    val m = new java.util.TreeMap[String, Any]
    r.metrics.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def root(pass: Int) = s"$work/pass_$pass"

  def runPass(spark: SparkSession, pass: Int, traced: Boolean): Seq[Main.Op] =
    timedBatches.zipWithIndex.map { case (b, i) =>
      Main.timed(pass, i, s"batch_${i + 1}", traced)(b)(
        x => run(spark, x.asInstanceOf[Batch], root(pass)))
    }

  override def endPass(spark: SparkSession, pass: Int): Unit = {
    val files = EtlDriver.files(new File(root(pass), "warehouse"))
      .filter(f => f.getName.endsWith(".parquet"))
    warehouse = (files.length.toLong, files.map(_.length).sum)
    EtlDriver.delete(new File(root(pass)))
  }

  /** The warehouse of the last pass, after its last batch. Every timed
    * pass loads the same batches into an empty warehouse. */
  override def extra(ops: Seq[Main.Op]): Map[String, Double] = {
    val inputBytes = timedBatches
      .map(b => new File(b.events).length + new File(b.intl).length).sum
    val rowsIn = ops.filter(_.pass == warmPasses).map(_.output).collect {
      case m: java.util.Map[_, _] =>
        Option(m.get("rows_in")).map(_.toString.toDouble).getOrElse(0.0)
    }.sum
    Map("warehouse.files" -> warehouse._1.toDouble,
      "warehouse.bytes" -> warehouse._2.toDouble,
      "warehouse.storage_bytes_per_input_byte" ->
        warehouse._2.toDouble / inputBytes,
      "warehouse.rows_in" -> rowsIn)
  }
}

object EtlDriver {
  final case class Batch(events: String, users: String, intl: String)

  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
    else if (f.isFile) Seq(f) else Seq.empty

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
