package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.table.SegmentedTable

/** Read-side machinery shared by the workloads that run the BI
  * templates: timed execution, per-op trace annotation, answer storage
  * and the plan probe.
  */
trait BiReader { self: Workload =>
  /** Answers of timed reads, checked after the loop. */
  val answers = new java.util.concurrent.ConcurrentLinkedQueue[(OpSample, Query, Long, Seq[Seq[Any]])]()

  /** Root of the table the reads target; its catalog version tells a
    * read that raced a commit from one that did not.
    */
  def readRoot: String
  def tables: Map[String, String]

  /** Live parquet files of a table (cached per catalog version). */
  private val liveFilesCache = mutable.Map.empty[(String, Long), Long]
  def liveFiles(root: String): Long = {
    val t = SegmentedTable.open(spark, root)
    val v = t.currentVersion
    liveFilesCache.synchronized {
      liveFilesCache.getOrElseUpdate((root, v), {
        val st = t.status
        st.segments.filter(_.status == SegmentedTable.SUCCESS).map { s =>
          val d = new java.io.File(s"$root/segment_${s.id}")
          Option(d.listFiles()).fold(0L)(_.count(_.getName.endsWith(".parquet")).toLong)
        }.sum
      })
    }
  }

  def versionOf(root: String): Long = SegmentedTable.open(spark, root).currentVersion

  /** One timed read; the answer and, when traced, the plan facts are
    * recorded after the timer stopped.
    */
  def timedRead(q: Query): OpSample = {
    val v0 = versionOf(readRoot)
    var df: DataFrame = null
    var rows: Array[Row] = null
    var root: Span = null
    var opId = 0L
    val (s, err) = Loop.timed("read", q.template) {
      val (r, id, sp) = Trace.op(spark, "read", Map("template" -> q.template,
          "variant" -> q.key)) { _ =>
        df = q.frame(spark, tables)
        rows = df.collect()
        rows.length.toLong
      }
      root = sp; opId = id
      r
    }
    err.foreach(e => res.error(s"${q.key}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    val v1 = versionOf(readRoot)
    if (s.ok) answers.add((s, q, if (v0 == v1) v0 else -1L, Answers.norm(rows.toSeq)))
    if (root != null && s.ok) {
      val ph = Trace.planPhases(df, root)
      ph.foreach { case (k, v) => root.put(s"plan_$k", v) }
      val use = PlanProbe.scanUse(df, readRoot)
      root.put("files_read", use.files).put("rows_scanned", use.rows)
        .put("rows_returned", rows.length).put("local_scans", use.localScans)
        .put("live_files", liveFiles(readRoot))
        .put("segments_live", liveSegments(readRoot))
        .put("mv_hit", PlanProbe.readsUnder(df, spark.conf.get("spark.graft.mv.store")))
      traced(root, opId)
    }
    record(s)
    s
  }

  def liveSegments(root: String): Int =
    SegmentedTable.open(spark, root).showSegments().count(_.status == SegmentedTable.SUCCESS)

  /** Read-latency metrics over the samples of `phase`. */
  def readMetrics(window: Loop.Window, phase: String): Unit = {
    val rs = samplesOf(phase, "read")
    val ms = rs.map(_.ms)
    res.e2e("read_p50_ms") = (Stats.median(ms), "ms")
    // the tail is p90: a 14 s bi_read run leaves about 5 reads beyond
    // p90 and under 3 beyond p95, whose run-to-run spread came near the
    // 0.25 bound
    res.e2e("read_p90_ms") = (Stats.pct(ms, 0.90), "ms")
    res.e2e("read_qps") = (rs.size / window.seconds, "1/s")
    res.extra("read_p95_ms") = (Stats.pct(ms, 0.95), "ms")
    res.extra("read_samples") = (rs.size.toDouble, "count")
    res.extra("read_samples_beyond_p90") = (rs.size * 0.10, "count")
    BiTemplates.Names.foreach { t =>
      val xs = rs.filter(_.label == t).map(_.ms)
      if (xs.nonEmpty) res.extra(s"bi.$t.p50_ms") = (Stats.median(xs), "ms")
    }
  }

  /** Probe each distinct query once with a listener attached, outside
    * the timed loop: jobs run, files read against live files, MV use.
    * Returns template → list of (files ratio, jobs, mv hit).
    */
  def probe(queries: Seq[Query]): Map[String, Seq[(Double, Long, Boolean)]] = {
    val l = new ExecListener
    spark.sparkContext.addSparkListener(l)
    try {
      val live = liveFiles(readRoot).toDouble
      queries.map { q =>
        val ((df, _), op, _) = Trace.op(spark, "probe", Map.empty) { _ =>
          val d = q.frame(spark, tables); (d, d.collect())
        }
        org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
        val jobs = l.of(op).map(_.jobs.sum).getOrElse(0L)
        val use = PlanProbe.scanUse(df, readRoot)
        q.template -> (use.files / live, jobs,
          PlanProbe.readsUnder(df, spark.conf.get("spark.graft.mv.store")))
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    } finally spark.sparkContext.removeSparkListener(l)
  }

  def probeProps(p: Map[String, Seq[(Double, Long, Boolean)]]): Unit = {
    p.toSeq.sortBy(_._1).foreach { case (t, xs) =>
      res.props(s"files_read_ratio.$t") = Stats.mean(xs.map(_._1))
      res.props(s"zero_job_share.$t") = xs.count(_._2 == 0).toDouble / xs.size
    }
    p.get("mv_rollup").foreach(xs =>
      res.props("mv_rewrite_hit_ratio") = xs.count(_._3).toDouble / xs.size)
    p.get("stats_fold").foreach(xs =>
      res.props("fold_zero_job_ratio") = xs.count(_._2 == 0).toDouble / xs.size)
  }

  /** Check timed answers whose version is known against a reference
    * computed by `ref` for (query, version), for at most `maxRefs`
    * seeded (query, version) pairs; corrupts the reference first when
    * the self-test asks for it.
    */
  def checkAnswers(ref: (Query, Long) => Option[Seq[Seq[Any]]],
                   maxRefs: Int = Int.MaxValue): Unit = {
    val known = answers.asScala.toSeq.filter(_._3 >= 0)
    val pairs = new scala.util.Random(args.seed).shuffle(
      known.map(a => (a._2.key, a._3)).distinct.sorted).take(maxRefs).toSet
    val cache = mutable.Map.empty[(String, Long), Option[Seq[Seq[Any]]]]
    var checked = 0
    known.filter(a => pairs((a._2.key, a._3))).foreach { case (s, q, v, got) =>
      val want = cache.getOrElseUpdate((q.key, v), ref(q, v).map(a =>
        if (args.corruptReference) Answers.corrupt(a) else a))
      want.foreach { w =>
        checked += 1
        if (!Answers.same(got, w)) {
          s.wrong = true
          res.error(s"wrong answer: ${q.key} at version $v")
        }
      }
    }
    res.props("answers_checked") = checked
    res.props("answers_unchecked") = answers.size - checked
  }
}

/** bi_read: one client, a seeded mix of six SQL templates over a
  * lineitem table of one segment per ship month (sorted by ship date,
  * bloom index on the order key), orders, customer and one aggregate
  * table. The catalog never changes during the loop.
  */
final class BiRead(spark0: SparkSession, args0: Args)
    extends Workload(spark0, args0) with BiReader {
  var store = ""
  var pool: Map[String, Seq[Query]] = Map.empty
  val Loaders = 4
  /** Set-up INSERTs as (start, wall ms). */
  val loadMs = mutable.ArrayBuffer.empty[(Long, Double)]
  var loadRows = 0L

  def readRoot = s"$store/lineitem"
  def tables: Map[String, String] = Map("L" -> "graft.default.lineitem",
    "O" -> "graft.default.orders", "C" -> "graft.default.customer",
    "L_ROOT" -> readRoot)

  def setup(root: String): Unit = {
    val t0 = System.nanoTime()
    storeConf(root)
    store = s"$root/store"
    val li = spark.read.parquet(data.monthPath(data.months.head))
    SegmentedTable.create(spark, readRoot, li.schema,
      Map("sort_columns" -> "l_shipdate", "bloom_columns" -> "l_orderkey"))
    // one INSERT per ship month (83 committed segments), four loaders
    // at a time: staging runs outside the table lock, commits serialize
    Par.foreach(data.months, Loaders) { m =>
      val s = System.nanoTime()
      spark.sql(s"INSERT INTO graft.default.lineitem SELECT * FROM parquet.`${data.monthPath(m)}`")
      val ms = (System.nanoTime() - s) / 1e6
      loadMs.synchronized { loadMs += s -> ms }
    }
    loadRows += data.Orders * data.LinesPerOrder
    val tLoads = System.nanoTime()
    val o = spark.read.parquet(data.ordersPath)
    SegmentedTable.create(spark, s"$store/orders", o.schema,
      Map("sort_columns" -> "o_orderdate"))
    spark.sql(s"INSERT INTO graft.default.orders SELECT * FROM parquet.`${data.ordersPath}`")
    val c = spark.read.parquet(data.customerPath)
    SegmentedTable.create(spark, s"$store/customer", c.schema, Map.empty)
    spark.sql(s"INSERT INTO graft.default.customer SELECT * FROM parquet.`${data.customerPath}`")
    graft.mv.AggTables.create(spark, "li_rollup", readRoot,
      BiTemplates.MvGroup, BiTemplates.MvMeasures)
    pool = BiTemplates.pool(new scala.util.Random(args.seed * 31 + 7),
      data.months, data.Orders, 6)
    // warm-up: one variant of every template
    val tWarm = System.nanoTime()
    for (q <- pool.values.flatMap(_.take(1))) q.frame(spark, tables).collect()
    res.extra("setup.month_loads_s") = ((tLoads - t0) / 1e9, "s")
    res.extra("setup.other_tables_mv_s") = ((tWarm - tLoads) / 1e9, "s")
    res.extra("setup.warmup_s") = ((System.nanoTime() - tWarm) / 1e9, "s")
  }

  lazy val deck = new Deck(rng, pool, BiTemplates.DeckSlots)

  def measure(seconds: Double): Loop.Window =
    Loop.run(seconds, Seq("reader" -> (() => { timedRead(deck.next()); true })))

  def metrics(window: Loop.Window, phase: String): Unit = {
    readMetrics(window, phase)
    // the only commits of this workload are its set-up loads
    // the first load of each loader runs in a cold JVM and is its
    // warm-up: the commit percentiles leave those out, because the
    // cold loads sit right at p95 and made it swing from run to run
    val all = loadMs.toSeq.map(_._2)
    val warm = loadMs.toSeq.sortBy(_._1).drop(Loaders).map(_._2)
    res.e2e("commit_p50_ms") = (Stats.median(warm), "ms")
    res.e2e("commit_p95_ms") = (Stats.pct(warm, 0.95), "ms")
    res.e2e("write_rows_per_s") = (loadRows / (all.sum / 1e3), "1/s")
    res.extra("commit_samples") = (warm.size.toDouble, "count")
    res.extra("commit_p95_all_loads_ms") = (Stats.pct(all, 0.95), "ms")
  }

  def check(): Unit = {
    val plain = data.lineitemPlain
    plain.createOrReplaceTempView("li_ref")
    spark.read.parquet(data.ordersPath).createOrReplaceTempView("orders_ref")
    spark.read.parquet(data.customerPath).createOrReplaceTempView("customer_ref")
    val views = Map("L" -> "li_ref", "O" -> "orders_ref", "C" -> "customer_ref")
    checkAnswers((q, _) => Some(Answers.norm(q.reference(spark, views).collect().toSeq)))
    probeProps(probe(pool.values.flatMap(_.take(1)).toSeq))
    val t = SegmentedTable.open(spark, readRoot)
    // the live rows are exactly the input rows, already written once
    // as one plain Parquet file
    res.e2e("space_amp") = (SpaceAmp.dirBytes(new java.io.File(readRoot)).toDouble /
      SpaceAmp.dirBytes(new java.io.File(data.lineitemPlainPath)), "ratio")
    Props.table(res, "lineitem", t)
    res.props("mix") = BiTemplates.DeckSlots.groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toDouble / BiTemplates.DeckSlots.size }
  }
}

/** Run `f` over `items` on `threads` threads; rethrows the first
  * failure after all finished.
  */
object Par {
  def foreach[A](items: Seq[A], threads: Int)(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = items.map(a => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = f(a)
      }))
      fs.foreach(_.get())
    } finally pool.shutdown()
  }
}

/** Space amplification: bytes under a table root over the bytes of its
  * live rows written once as plain Parquet.
  */
object SpaceAmp {
  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).fold(0L)(_.map(dirBytes).sum)

  def apply(spark: SparkSession, root: String, live: DataFrame): Double = {
    val tmp = s"$root.__plain"
    live.write.mode("overwrite").parquet(tmp)
    val plain = dirBytes(new java.io.File(tmp))
    graft.table.TableIO.delete(new org.apache.hadoop.fs.Path(tmp))
    dirBytes(new java.io.File(root)).toDouble / plain
  }
}

/** Workload-property report entries for a table. */
object Props {
  def table(res: Result, name: String, t: SegmentedTable): Unit = {
    val live = t.showSegments().filter(_.status == SegmentedTable.SUCCESS)
    res.props(s"$name.rows") = live.map(_.rowCount).sum
    res.props(s"$name.bytes") = live.map(_.bytes).sum
    res.props(s"$name.segments_live") = live.size
    res.props(s"$name.files") = live.map { s =>
      Option(new java.io.File(s"${t.root.toUri.getPath}/segment_${s.id}").listFiles())
        .fold(0)(_.count(_.getName.endsWith(".parquet")))
    }.sum
  }
}
