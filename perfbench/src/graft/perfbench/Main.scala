package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, out: String, data: String,
                      corruptReference: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), need("out"), need("data"),
      m.get("corrupt-reference").contains("1"))
  }
}

/** Everything a workload reports. `e2e` holds the gated end-to-end
  * metrics; `extra` more end-to-end numbers printed with their units;
  * `props` the workload-property report.
  */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val extra = mutable.LinkedHashMap.empty[String, (Double, String)]
  val props = mutable.LinkedHashMap.empty[String, Any]
  val errors = new ConcurrentLinkedQueue[String]()
  var attempted = 0L
  var failed = 0L

  def error(msg: String): Unit = if (errors.size < 50) errors.add(msg)
}

/** Shared shape of a workload: inputs, set-up, a timed
  * closed loop (untraced, or untraced and traced quarters),
  * answer checks, and its report.
  */
abstract class Workload(val spark: SparkSession, val args: Args) {
  val samples = new ConcurrentLinkedQueue[OpSample]()
  val res = new Result
  val rng = new scala.util.Random(args.seed)
  val data = new Data(spark, Data.TableSeed, args.data)
  var phase = "plain"
  val phaseOf = new java.util.concurrent.ConcurrentHashMap[OpSample, String]()
  val roots = new ConcurrentLinkedQueue[(Long, Span)]()

  /** Untimed input generation. */
  def prepare(): Unit = data.generate()

  /** The full set-up into `root` (tables, MVs, indexes, warm-up). */
  def setup(root: String): Unit

  /** Run the clients for `seconds`. */
  def measure(seconds: Double): Loop.Window

  /** Answer checks and property collection, outside timed regions. */
  def check(): Unit

  /** Workload metrics from the samples of `phase`. */
  def metrics(window: Loop.Window, phase: String): Unit

  def record(s: OpSample): Unit = { samples.add(s); phaseOf.put(s, phase) }

  def traced(root: Span, op: Long): Unit =
    if (root != null) roots.add(op -> root)

  def samplesOf(phase: String, kind: String = null): Seq[OpSample] =
    samples.asScala.toSeq.filter(s => phaseOf.get(s) == phase &&
      (kind == null || s.kind == kind))

  def storeConf(root: String): Unit = {
    spark.conf.set("spark.graft.store", s"$root/store")
    spark.conf.set("spark.graft.mv.store", s"$root/mv")
  }
}

object Main {
  def heapRetainedMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def session(out: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      // concurrent clients share the cores fairly instead of queueing
      // behind each other's stages
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.maxMetadataStringLength", "1000")
      .config("spark.graft.store", s"$out/store")
      .config("spark.graft.mv.store", s"$out/mv")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalogPlugin")
      .withExtensions(new graft.sql.GraftSqlExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = Args.parse(argv)
    new java.io.File(args.out).mkdirs()
    val t0 = System.nanoTime()
    val spark = session(args.out)
    if (args.workload == "generate") {
      // the tables, in a JVM of their own: runs neither inherit its
      // heap nor its warm JIT
      new Data(spark, Data.TableSeed, args.data).generate()
      spark.stop()
      return
    }
    // session start: JVM launch to a usable session
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val w: Workload = args.workload match {
      case "bi_read" => new BiRead(spark, args)
      case "ingest_mixed" => new IngestMixed(spark, args)
      case "curation_ingest" => new CurationIngest(spark, args)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val genS = { val s = System.nanoTime(); w.prepare(); (System.nanoTime() - s) / 1e9 }
    val setupS = { val s = System.nanoTime(); w.setup(s"${args.out}/tables"); (System.nanoTime() - s) / 1e9 }
    w.res.e2e("setup_s") = (sessionS + setupS, "s")
    w.res.extra("setup_session_s") = (sessionS, "s")
    w.res.extra("input_generation_s") = (genS, "s")

    if (!args.trace) {
      val win = w.measure(args.seconds)
      w.metrics(win, "plain")
    } else {
      // untraced, traced, traced, untraced quarters: warm-up and any
      // drift that is linear in time (a growing table or band index)
      // weigh equally on both halves of the overhead comparison
      val q = args.seconds / 4
      val win0 = w.measure(q)
      val listener = new ExecListener
      spark.sparkContext.addSparkListener(listener)
      Trace.enabled = true
      w.phase = "traced"
      val gc0 = gcMs()
      val win1 = w.measure(q) + w.measure(q)
      Trace.enabled = false
      w.res.props("trace.driver_gc_ms_total") = gcMs() - gc0
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      w.roots.asScala.foreach { case (op, root) => listener.annotate(op, root) }
      w.phase = "plain"
      val win0b = win0 + w.measure(q)
      // the end-to-end figures of both halves: tracing overhead
      w.metrics(win0b, "plain")
      val plain = w.res.e2e.clone()
      w.res.e2e.clear()
      w.metrics(win1, "traced")
      val tracedE2e = w.res.e2e.clone()
      w.res.e2e.clear()
      w.res.e2e ++= plain
      w.res.props("trace.plain") = plain.map { case (k, (v, _)) => k -> v }.toMap
      w.res.props("trace.traced") = tracedE2e.map { case (k, (v, _)) => k -> v }.toMap
      w.res.props("trace.window_s") = win1.seconds
      Trace.write(s"${args.out}/spans.jsonl")
    }
    w.check()
    val all = w.samples.asScala.toSeq
    w.res.attempted = all.size
    w.res.failed = all.count(_.failed)
    w.res.e2e("heap_retained_mb") = (heapRetainedMb(), "MB")
    w.res.extra("ops") = (all.size.toDouble, "count")
    w.res.extra("failed_ops") = (w.res.failed.toDouble, "count")
    w.res.extra("wall_s") = ((System.nanoTime() - t0) / 1e9, "s")
    val out = Json(Map(
      "workload" -> args.workload, "seed" -> args.seed,
      "attempted" -> w.res.attempted, "failed" -> w.res.failed,
      "correct" -> (w.res.failed == 0 && w.res.errors.isEmpty),
      "e2e" -> w.res.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "extra" -> w.res.extra.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "props" -> w.res.props, "errors" -> w.res.errors.asScala.toSeq))
    val f = new java.io.PrintWriter(s"${args.out}/result.json", "UTF-8")
    try f.println(out) finally f.close()
    spark.stop()
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
}
