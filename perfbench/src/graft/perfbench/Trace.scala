package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, LocalTableScanExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Minimal JSON encoder for the benchmark's own outputs (numbers,
  * strings, booleans, maps, sequences). Non-finite doubles encode as
  * null.
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

/** One traced interval. `parent` 0 = root; `op` ties every span of one
  * client operation together. Attributes may be added until the trace
  * is written out.
  */
final class Span(val id: Long, val parent: Long, val op: Long,
                 val name: String, val layer: String, val startNs: Long) {
  @volatile var endNs: Long = startNs
  val attrs = new ConcurrentHashMap[String, Any]()
  def put(k: String, v: Any): Span = { attrs.put(k, v); this }
  def toJson: String = Json(Map(
    "id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
    "layer" -> layer, "start_ns" -> startNs, "end_ns" -> endNs,
    "attrs" -> attrs.asScala.toMap))
}

/** In-memory span recorder. Spans are recorded only by the
  * benchmark's own code, around each call it makes into a graft layer,
  * plus synthetic children built from Spark's own timestamps (query
  * planning phases, job intervals). Disabled, a span costs one
  * volatile read.
  */
object Trace {
  @volatile var enabled: Boolean = false

  private val ids = new AtomicLong(0)
  private val opIds = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val opOf = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  // epoch-millisecond timestamps (Spark's) mapped onto nanoTime
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def msToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  /** Run `body` as client operation `kind`; returns (result, op id).
    * The op id is also published as a Spark local property so the
    * execution listener can attribute jobs to it.
    */
  def op[T](spark: SparkSession, kind: String, attrs: Map[String, Any])(
      body: Span => T): (T, Long, Span) = {
    val id = opIds.incrementAndGet()
    val prev = opOf.get
    opOf.set(id)
    spark.sparkContext.setLocalProperty(ExecListener.OpKey, id.toString)
    try {
      var root: Span = null
      val r = span(s"op.$kind", "client") { s =>
        root = s
        if (s != null) attrs.foreach { case (k, v) => s.put(k, v) }
        body(s)
      }
      (r, id, root)
    } finally {
      opOf.set(prev)
      spark.sparkContext.setLocalProperty(ExecListener.OpKey,
        if (prev == 0L) null else prev.toString)
    }
  }

  /** Record a span around `body` (null span when tracing is off). */
  def span[T](name: String, layer: String)(body: Span => T): T =
    if (!enabled) body(null)
    else {
      val st = stack.get
      val s = new Span(ids.incrementAndGet(), st.headOption.fold(0L)(_.id),
        opOf.get, name, layer, System.nanoTime())
      spans.add(s)
      stack.set(s :: st)
      try body(s)
      finally { s.endNs = System.nanoTime(); stack.set(st) }
    }

  /** A synthetic span with known bounds, under a traced `parent`. */
  def record(name: String, layer: String, parent: Span, startNs: Long,
             endNs: Long, attrs: Map[String, Any] = Map.empty): Unit =
    if (parent != null) {
      val s = new Span(ids.incrementAndGet(), parent.id, parent.op, name,
        layer, startNs)
      s.endNs = math.max(startNs, endNs)
      attrs.foreach { case (k, v) => s.put(k, v) }
      spans.add(s)
    }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.foreach(s => w.println(s.toJson)) finally w.close()
  }

  /** Planning phases of a query as synthetic children of `parent`,
    * taken from Spark's own QueryPlanningTracker; also returns the
    * phase durations and the time spent in graft's optimizer rules.
    */
  def planPhases(df: DataFrame, parent: Span): Map[String, Double] = {
    val tr = df.queryExecution.tracker
    val phases = tr.phases
    phases.foreach { case (p, ps) =>
      record(s"plan.$p", "plan", parent, msToNs(ps.startTimeMs), msToNs(ps.endTimeMs))
    }
    val graftRuleNs = tr.rules.collect {
      case (rule, rs) if rule.startsWith("graft.") => rs.totalTimeNs
    }.sum
    phases.map { case (p, ps) => p -> ps.durationMs.toDouble } +
      ("graft_rules" -> graftRuleNs / 1e6)
  }
}

/** Per-operation Spark execution counters, attributed through the
  * [[ExecListener.OpKey]] local property.
  */
final class OpExec {
  val jobs, stages, tasks = new LongAdder
  val runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = new LongAdder
  val jobIntervals = new ConcurrentLinkedQueue[(Int, Long, Long)]()
}

object ExecListener {
  val OpKey = "perfbench.op"
}

/** SparkListener the benchmark registers: jobs, stages, tasks and task
  * metrics per client operation.
  */
final class ExecListener extends SparkListener {
  private val perOp = new ConcurrentHashMap[Long, OpExec]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val jobOp = new ConcurrentHashMap[Int, (Long, Long)]()

  private def rec(op: Long): OpExec = perOp.computeIfAbsent(op, _ => new OpExec)

  def of(op: Long): Option[OpExec] = Option(perOp.get(op))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(ExecListener.OpKey)))
      .map(_.toLong).getOrElse(0L)
    rec(op).jobs.increment()
    e.stageIds.foreach(s => stageOp.put(s, op))
    jobOp.put(e.jobId, (op, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOp.remove(e.jobId)).foreach { case (op, start) =>
      rec(op).jobIntervals.add((e.jobId, start, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    rec(stageOp.getOrDefault(e.stageInfo.stageId, 0L)).stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = rec(stageOp.getOrDefault(e.stageId, 0L))
    r.tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      r.runMs.add(m.executorRunTime)
      r.cpuNs.add(m.executorCpuTime)
      r.gcMs.add(m.jvmGCTime)
      r.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      r.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      r.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Attach an op's execution counters to its root span and record its
    * jobs as synthetic children (call after draining the bus).
    */
  def annotate(op: Long, root: Span): Unit = if (root != null) {
    val x = of(op).getOrElse(new OpExec)
    root.put("jobs", x.jobs.sum).put("stages", x.stages.sum)
      .put("tasks", x.tasks.sum).put("executor_run_ms", x.runMs.sum)
      .put("executor_cpu_ms", x.cpuNs.sum / 1e6).put("gc_ms", x.gcMs.sum)
      .put("shuffle_read_bytes", x.shuffleRead.sum)
      .put("shuffle_write_bytes", x.shuffleWrite.sum)
      .put("spill_bytes", x.spill.sum)
    x.jobIntervals.asScala.foreach { case (id, s, e) =>
      Trace.record("exec.job", "exec", root, Trace.msToNs(s), Trace.msToNs(e),
        Map("job" -> id))
    }
  }
}

/** What a finished query's physical plan did: files and rows its scans
  * read, split by the table directory the scan points at.
  */
final case class ScanUse(files: Long, rows: Long, localScans: Int)

object PlanProbe {
  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case r: ReusedExchangeExec => leaves(r.child)
    case other =>
      val subs = other.subqueries.flatMap(leaves)
      if (other.children.isEmpty) other +: subs
      else other.children.flatMap(leaves) ++ subs
  }

  private def metric(p: SparkPlan, k: String): Option[Long] =
    p.metrics.get(k).map(_.value)

  private def roots(p: SparkPlan): Seq[String] = p match {
    case b: BatchScanExec =>
      b.inputPartitions.flatMap {
        case f: FilePartition => f.files.map(_.filePath.toString)
        case _ => Nil
      }
    case other => Seq(other.toString)
  }

  /** Files and rows read by scans whose description mentions
    * `tableDir`; LocalTableScans (catalog-served answers) are counted.
    */
  def scanUse(df: DataFrame, tableDir: String): ScanUse = {
    val ls = leaves(df.queryExecution.executedPlan)
    var files = 0L; var rows = 0L; var local = 0
    ls.foreach {
      case l: LocalTableScanExec => local += 1
      case b: BatchScanExec =>
        val fs = roots(b).filter(_.contains(tableDir))
        if (fs.nonEmpty || b.toString.contains(tableDir)) {
          files += fs.distinct.size
          rows += metric(b, "numOutputRows").getOrElse(0L)
        }
      case s if s.toString.contains(tableDir) =>
        files += metric(s, "numFiles").getOrElse(0L)
        rows += metric(s, "numOutputRows").getOrElse(0L)
      case _ =>
    }
    ScanUse(files, rows, local)
  }

  /** Does the optimized plan read files from under `dir` (an MV store)? */
  def readsUnder(df: DataFrame, dir: String): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.exists(_.toUri.getPath.startsWith(dir))
          case _ => false
        }
      case _ => false
    }
}
