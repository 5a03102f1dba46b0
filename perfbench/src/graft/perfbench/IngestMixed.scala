package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.SegmentedTable

/** One write of the seeded sequence. `p` is an already-delivered
  * slice (or -1), `q` a fresh one (or -1); `month`/`mod`/`r` shape the
  * DML predicates.
  */
final case class WriteOp(n: Int, kind: String, p: Int = -1, q: Int = -1,
                         month: String = "", mod: Int = 1, r: Int = 0)

/** ingest_mixed: one writer and one reader at once on a lineitem table
  * that starts with 70% of the rows (one segment per ship half-year)
  * and takes the held-back 30% as slices in a seeded order. The table refreshes its
  * aggregate table on every commit. The writer cycles through append,
  * update, append_unique, delete, merge and a minor compaction, with
  * seeded parameters; the reader runs the BI templates.
  */
final class IngestMixed(spark0: SparkSession, args0: Args)
    extends Workload(spark0, args0) with BiReader {
  def Slices: Int = data.Slices
  val Keys = Seq("l_orderkey", "l_linenumber")
  var store = ""
  var pool: Map[String, Seq[Query]] = Map.empty
  var smallBytes = 0L
  /** Rows per held-back slice, counted once in set-up so that no timed
    * write runs a job of the benchmark's own.
    */
  var sliceRows: Map[Int, Long] = Map.empty
  val executed = new java.util.concurrent.ConcurrentLinkedQueue[(WriteOp, Boolean)]()
  val delivered = mutable.ArrayBuffer.empty[Int]
  var nextSlice = 0
  var opN = 0
  val wrng = new scala.util.Random(args.seed * 7919 + 1)
  lazy val sliceOrder: IndexedSeq[Int] = wrng.shuffle((0 until Slices).toIndexedSeq)

  def readRoot = s"$store/li_ingest"
  def tables: Map[String, String] = Map("L" -> "graft.default.li_ingest",
    "O" -> "graft.default.orders", "C" -> "graft.default.customer",
    "L_ROOT" -> readRoot)

  def slicePath(i: Int) = data.slicePath(i)
  def base: DataFrame = data.lineitemPlain.filter(col("l_orderkey") % 10 < 7)

  def setup(root: String): Unit = {
    storeConf(root)
    store = s"$root/store"
    val schema = spark.read.parquet(data.monthPath(data.months.head)).schema
    SegmentedTable.create(spark, readRoot, schema,
      Map("sort_columns" -> "l_shipdate", "bloom_columns" -> "l_orderkey",
        "refresh_on_commit" -> "true"))
    // one segment per ship half-year: the table stays under the 32
    // paths at which Spark lists files with a job, all run long
    val halves = data.months.groupBy(m => s"${m.take(4)}-${(m.drop(5).toInt - 1) / 6}")
    Par.foreach(halves.keys.toSeq.sorted, 4) { hy =>
      val view = s"ingest_base_${hy.replace('-', '_')}"
      spark.read.parquet(halves(hy).map(data.monthPath): _*)
        .filter(col("l_orderkey") % 10 < 7).createOrReplaceTempView(view)
      spark.sql(s"INSERT INTO graft.default.li_ingest SELECT * FROM $view")
    }
    val t = SegmentedTable.open(spark, readRoot)
    // minor compaction merges only segments well below a base half-year
    smallBytes = Stats.median(t.showSegments().filter(_.status == SegmentedTable.SUCCESS)
      .map(_.bytes.toDouble)).toLong / 2
    sliceRows = spark.read.parquet(new java.io.File(slicePath(0)).getParent)
      .groupBy("slice").count().collect()
      .map(r => r.getAs[Number](0).intValue -> r.getLong(1)).toMap
    val o = spark.read.parquet(data.ordersPath)
    SegmentedTable.create(spark, s"$store/orders", o.schema, Map("sort_columns" -> "o_orderdate"))
    spark.sql(s"INSERT INTO graft.default.orders SELECT * FROM parquet.`${data.ordersPath}`")
    val c = spark.read.parquet(data.customerPath)
    SegmentedTable.create(spark, s"$store/customer", c.schema, Map.empty)
    spark.sql(s"INSERT INTO graft.default.customer SELECT * FROM parquet.`${data.customerPath}`")
    graft.mv.AggTables.create(spark, "li_ingest_rollup", readRoot,
      BiTemplates.MvGroup, BiTemplates.MvMeasures)
    pool = BiTemplates.pool(new scala.util.Random(args.seed * 31 + 7),
      data.months, data.Orders, 6)
    for (q <- pool.values.flatMap(_.take(1))) q.frame(spark, tables).collect()
  }

  /** The write cycle: every kind once, then a minor compaction. The
    * seed draws each op's slices, month and key class; the kinds come
    * in a fixed order so every run of a given length does the same mix.
    */
  val Cycle = Seq("append", "update", "append_unique", "delete", "merge", "compact_minor")

  /** The next op of the seeded sequence (deterministic in the seed and
    * the number of ops drawn so far).
    */
  def nextOp(): WriteOp = {
    val n = opN; opN += 1
    def fresh(): Int = { val s = sliceOrder(nextSlice % Slices); nextSlice += 1; s }
    def old(): Int = if (delivered.isEmpty) -1 else delivered(wrng.nextInt(delivered.size))
    def month() = data.months(wrng.nextInt(data.months.size))
    Cycle(n % Cycle.size) match {
      case "append" => WriteOp(n, "append", q = fresh())
      case "append_unique" => WriteOp(n, "append_unique", p = old(), q = fresh())
      case "delete" => WriteOp(n, "delete", month = month(), mod = 13, r = wrng.nextInt(13))
      case "update" => WriteOp(n, "update", month = month(), mod = 17, r = wrng.nextInt(17))
      case "merge" => WriteOp(n, "merge", p = old(), q = fresh())
      case k => WriteOp(n, k)
    }
  }

  private def monthBounds(m: String): (String, String) = {
    val a = java.time.LocalDate.parse(m + "-01")
    (s"TIMESTAMP'$a 00:00:00'", s"TIMESTAMP'${a.plusMonths(1)} 00:00:00'")
  }

  private def dmlCond(op: WriteOp): String = {
    val (a, b) = monthBounds(op.month)
    s"l_shipdate >= $a AND l_shipdate < $b AND l_orderkey % ${op.mod} = ${op.r}"
  }

  private def slice(i: Int): DataFrame = spark.read.parquet(slicePath(i))

  private def source(op: WriteOp): DataFrame = {
    val fresh = slice(op.q)
    if (op.p < 0) fresh else slice(op.p).unionByName(fresh)
  }

  /** User rows an op delivers: its slices' rows. */
  private def delivers(op: WriteOp): Long =
    Seq(op.p, op.q).filter(_ >= 0).map(sliceRows).sum

  /** Execute one write op; returns user rows delivered. */
  def execute(op: WriteOp, root: Span): Long = op.kind match {
    case "append" =>
      val df = Trace.span("sql.insert", "sql") { _ =>
        spark.sql(s"INSERT INTO graft.default.li_ingest SELECT * FROM parquet.`${slicePath(op.q)}`")
      }
      if (root != null) planInto(df, root)
      delivers(op)
    case "append_unique" =>
      Trace.span("table.load_unique", "table") { _ =>
        SegmentedTable.open(spark, readRoot).loadUnique(source(op), Keys)
      }
      delivers(op)
    case "delete" | "update" =>
      val stmt =
        if (op.kind == "delete") s"DELETE FROM graft.default.li_ingest WHERE ${dmlCond(op)}"
        else s"UPDATE graft.default.li_ingest SET l_quantity = l_quantity + 1, " +
          s"l_discount = 0.05 WHERE ${dmlCond(op)}"
      val df = Trace.span(s"sql.${op.kind}", "sql") { _ => spark.sql(stmt) }
      if (root != null) planInto(df, root, dml = true)
      0L
    case "merge" =>
      source(op).createOrReplaceTempView("merge_src")
      val df = Trace.span("sql.merge", "sql") { _ =>
        spark.sql(
          """MERGE INTO graft.default.li_ingest t USING merge_src s
            |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
            |WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity + 100
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      if (root != null) planInto(df, root, dml = true)
      delivers(op)
    case "compact_minor" =>
      Trace.span("table.compact_minor", "table") { _ =>
        SegmentedTable.open(spark, readRoot).compactMinor(smallBytes)
      }
      0L
  }

  private def planInto(df: DataFrame, root: Span, dml: Boolean = false): Unit = {
    val ph = Trace.planPhases(df, root)
    ph.foreach { case (k, v) => root.put(s"plan_$k", v) }
    if (dml) root.put("dml_plan_ms",
      ph.getOrElse("analysis", 0.0) + ph.getOrElse("optimization", 0.0))
  }

  private def filesUnder(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[(String, Long)] =
      if (f.isFile) Seq(f.getPath -> f.length)
      else Option(f.listFiles()).fold(Seq.empty[(String, Long)])(_.toSeq.flatMap(walk))
    walk(new java.io.File(dir)).toMap
  }

  /** One timed write by the writer client. */
  def timedWrite(op: WriteOp): Unit = {
    val tracing = Trace.enabled
    val before = if (tracing) filesUnder(readRoot) else Map.empty[String, Long]
    val mvBefore = if (tracing) filesUnder(spark.conf.get("spark.graft.mv.store")) else Map.empty[String, Long]
    val segsBefore = if (tracing) SegmentedTable.open(spark, readRoot).showSegments() else Nil
    var root: Span = null
    var opId = 0L
    val (s, err) = Loop.timed("write", op.kind) {
      val (n, id, sp) = Trace.op(spark, "write", Map("kind" -> op.kind)) { sp =>
        execute(op, sp)
      }
      root = sp; opId = id
      n
    }
    err.foreach(e => res.error(s"${op.kind}#${op.n}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    executed.add(op -> s.ok)
    if (s.ok) {
      if (op.q >= 0) delivered += op.q
    }
    if (root != null) {
      val after = filesUnder(readRoot)
      val written = after.filter { case (f, _) => !before.contains(f) }.values.sum
      val mvAfter = filesUnder(spark.conf.get("spark.graft.mv.store"))
      val live0 = segsBefore.filter(_.status == SegmentedTable.SUCCESS)
      val segsAfter = SegmentedTable.open(spark, readRoot).showSegments()
      val retired = live0.filter(sg => segsAfter.exists(x => x.id == sg.id && x.status != SegmentedTable.SUCCESS))
      root.put("rows_delivered", s.rows).put("bytes_written", written)
        .put("user_bytes", if (s.rows > 0) userBytes(op) else 0L)
        .put("mv_bytes_written", mvAfter.filter { case (f, _) => !mvBefore.contains(f) }.values.sum)
        .put("segments_live_before", live0.size)
        .put("segments_retired", retired.size)
        .put("retired_bytes", retired.map(_.bytes).sum)
        .put("segments_live", segsAfter.count(_.status == SegmentedTable.SUCCESS))
      traced(root, opId)
    }
    record(s)
  }

  /** Bytes of an op's delivered rows as plain Parquet. */
  private def userBytes(op: WriteOp): Long =
    Seq(op.p, op.q).filter(_ >= 0).map(i => SpaceAmp.dirBytes(new java.io.File(slicePath(i)))).sum

  def measure(seconds: Double): Loop.Window =
    Loop.run(seconds, Seq(
      "writer" -> (() => { timedWrite(nextOp()); true }),
      "reader" -> (() => { timedRead(deck.next()); true })))

  lazy val deck = new Deck(rng, pool, BiTemplates.DeckSlots)

  def metrics(window: Loop.Window, phase: String): Unit = {
    readMetrics(window, phase)
    val ws = samplesOf(phase, "write")
    val ms = ws.map(_.ms)
    res.e2e("commit_p50_ms") = (Stats.median(ms), "ms")
    res.e2e("commit_p95_ms") = (Stats.pct(ms, 0.95), "ms")
    res.e2e("write_rows_per_s") = (ws.map(_.rows).sum / (ms.sum / 1e3), "1/s")
    res.extra("commit_samples") = (ws.size.toDouble, "count")
    Cycle.foreach { k =>
      val xs = ws.filter(_.label == k).map(_.ms)
      if (xs.nonEmpty) res.extra(s"commit.$k.p50_ms") = (Stats.median(xs), "ms")
    }
  }

  /** Plain-Spark replay of the executed op sequence from the base rows. */
  def replay(): DataFrame = {
    val cols = data.lineitemPlain.schema.fieldNames.map(col).toSeq
    var exp = base.select(cols: _*)
    var k = 0
    executed.asScala.foreach { case (op, ok) =>
      if (ok) {
        exp = op.kind match {
          case "append" => exp.unionByName(slice(op.q).select(cols: _*))
          case "append_unique" =>
            val src = source(op).select(cols: _*)
            exp.unionByName(src.join(exp.select(Keys.map(col): _*), Keys, "left_anti").select(cols: _*))
          case "delete" => exp.filter(not(expr(dmlCond(op))))
          case "update" =>
            val c = expr(dmlCond(op))
            exp.withColumn("__c", c)
              .withColumn("l_quantity", when(col("__c"), col("l_quantity") + 1).otherwise(col("l_quantity")))
              .withColumn("l_discount", when(col("__c"), lit(0.05)).otherwise(col("l_discount")))
              .select(cols: _*)
          case "merge" =>
            val src = source(op).select(cols: _*)
            val upd = src.select(col("l_orderkey"), col("l_linenumber"),
              (col("l_quantity") + 100).as("__q"))
            val kept = exp.join(upd, Keys, "left")
              .withColumn("l_quantity", coalesce(col("__q"), col("l_quantity")))
              .select(cols: _*)
            kept.unionByName(src.join(exp.select(Keys.map(col): _*), Keys, "left_anti").select(cols: _*))
          case _ => exp
        }
        k += 1
        if (k % 4 == 0) exp = exp.localCheckpoint()
      }
    }
    exp
  }

  def check(): Unit = {
    spark.read.parquet(data.ordersPath).createOrReplaceTempView("orders_ref")
    spark.read.parquet(data.customerPath).createOrReplaceTempView("customer_ref")
    val t = SegmentedTable.open(spark, readRoot)
    // reads that saw one version: against plain Parquet over the live
    // segment directories of that version
    checkAnswers((q, v) => {
      val st = t.statusAt(v)
      val dirs = st.segments.filter(_.status == SegmentedTable.SUCCESS)
        .map(s => s"$readRoot/segment_${s.id}")
      if (!dirs.forall(d => new java.io.File(d).exists)) None
      else {
        val plain = if (dirs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], t.schema)
                    else spark.read.schema(t.schema).parquet(dirs: _*)
        plain.createOrReplaceTempView("li_ref_v")
        Some(Answers.norm(q.reference(spark,
          Map("L" -> "li_ref_v", "O" -> "orders_ref", "C" -> "customer_ref")).collect().toSeq))
      }
    }, maxRefs = 8)
    // the final table against the replayed sequence
    val cols = t.schema.fieldNames.map(col).toSeq
    val got = t.read().select(cols: _*)
    val want = replay().select(cols: _*)
    val (s, _) = Loop.timed("check", "final_state") {
      val extra = got.exceptAll(want).count()
      val missing = want.exceptAll(got).count()
      if (extra != 0 || missing != 0)
        throw new IllegalStateException(s"final table differs from replay: +$extra -$missing rows")
      0L
    }
    if (!s.ok) res.error("final_state: table differs from the plain-Spark replay")
    samples.add(s)
    probeProps(probe(pool.values.flatMap(_.take(1)).toSeq))
    Props.table(res, "li_ingest", t)
    res.props("write_mix") = executed.asScala.groupBy(_._1.kind).map { case (k, v) => k -> v.size }
    res.props("ops_executed") = executed.size
    // space after maintenance: retired segments cleaned first
    t.cleanFiles()
    res.e2e("space_amp") = (SpaceAmp(spark, readRoot, t.read()), "ratio")
  }
}
