package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.table.SegmentedTable

/** curation_ingest: one client delivers seeded batches of the grown
  * 50k-document corpus into a curated table. Each batch is scored
  * (quality, language), exact-deduplicated, MinHash-clustered within
  * the batch, and handed to Dedup.ingestNovel. A second client reads
  * the curated table. The table starts with 20k delivered documents
  * and its band index, so per-batch cost that grows with the corpus
  * shows.
  */
final class CurationIngest(spark0: SparkSession, args0: Args)
    extends Workload(spark0, args0) with BiReader {
  val Initial = 20000
  val Fresh = 240
  val ExactDups = 20
  val NearDups = 20
  val Redeliveries = 20
  def batchSize: Int = Fresh + ExactDups + NearDups + Redeliveries
  val Batches = 16
  val MinQuality = 0.12
  val Cols = Seq("doc_id", "text", "lang", "source", "n_chars", "quality", "lang_pred")

  var store = ""
  var nextBatch = 1
  var pool: Seq[Query] = Nil
  val steps = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val rebuilds = new java.util.concurrent.atomic.AtomicInteger()
  val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def readRoot = s"$store/curated"
  def tables: Map[String, String] = Map("D" -> "graft.default.curated")
  def batchDir = s"${args.out}/batches"

  override def prepare(): Unit = {
    super.prepare()
    val seed = args.seed
    val ordered = spark.read.parquet(data.corpusPath)
      .withColumn("didx", row_number().over(Window.orderBy(xxhash64(lit(seed), col("doc_id")))) - 1)
      .localCheckpoint()
    ordered.filter(col("didx") < Initial).drop("didx")
      .write.mode("overwrite").parquet(s"${args.out}/initial")
    def h(tag: String) = pmod(xxhash64(lit(seed), lit(tag), col("batch"), col("j")), lit(1L << 40))
    val delivered = lit(Initial.toLong) + col("batch") * Fresh
    val slots = spark.range(Batches.toLong * batchSize)
      .select((col("id") / batchSize).cast("long").as("batch"), pmod(col("id"), lit(batchSize)).as("j"))
      .withColumn("kind",
        when(col("j") < Fresh, "fresh")
          .when(col("j") < Fresh + ExactDups, "exact")
          .when(col("j") < Fresh + ExactDups + NearDups, "near")
          .otherwise("redeliver"))
      // exact duplicates copy a document of the same batch; near
      // duplicates copy one of the batch or an earlier delivery;
      // re-deliveries repeat an earlier delivery verbatim
      .withColumn("src", when(col("kind") === "fresh", delivered + col("j"))
        .when(col("kind") === "exact", delivered + pmod(h("e"), lit(Fresh.toLong)))
        .when(col("kind") === "near" && pmod(col("j"), lit(2)) === 0,
          delivered + pmod(h("n"), lit(Fresh.toLong)))
        .otherwise(pmod(h("r"), delivered)))
    val vocab = array(data.Vocab.map(lit): _*)
    val words = split(col("text"), " ")
    val nw = size(words)
    val p1 = pmod(h("p1"), nw.cast("long")).cast("int")
    val p2 = pmod(h("p2"), nw.cast("long")).cast("int")
    slots.join(ordered, slots("src") === ordered("didx"))
      .withColumn("text", when(col("kind") === "near",
        array_join(transform(words, (w, i) =>
          when(i === p1 || i === p2,
            element_at(vocab, (pmod(h("w") + i, lit(data.Vocab.size.toLong)) + 1).cast("int")))
            .otherwise(w)), " "))
        .otherwise(col("text")))
      .withColumn("doc_id", when(col("kind").isin("exact", "near"),
        lit(1000000000L) + col("batch") * batchSize + col("j")).otherwise(col("doc_id")))
      .select(col("batch"), col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"), col("kind"))
      .repartition(4, col("batch"))
      .write.mode("overwrite").partitionBy("batch").parquet(batchDir)
  }

  def scored(df: DataFrame): DataFrame =
    df.withColumn("quality", TextFunctions.qualityScore(col("text")))
      .withColumn("lang_pred", TextFunctions.langId(col("text")))

  def setup(root: String): Unit = {
    storeConf(root)
    store = s"$root/store"
    val init = scored(spark.read.parquet(s"${args.out}/initial"))
      .select(Cols.map(col): _*)
    val t = SegmentedTable.create(spark, readRoot, init.schema,
      Map("sort_columns" -> "doc_id"))
    t.load(init)
    Dedup.rebuildBandIndex(t, "doc_id", "text")
    // warm-up: batch 0 through the whole pipeline, and the reads
    runBatch(0, timedSteps = false)
    pool = readPool()
    pool.foreach(q => q.frame(spark, tables).collect())
  }

  private def readPool(): Seq[Query] = {
    val r = new scala.util.Random(args.seed * 31 + 11)
    val ids = spark.read.parquet(s"${args.out}/initial").select("doc_id")
      .limit(2000).collect().map(_.getLong(0))
    Seq(
      Query("lang_mix", "cl0",
        "SELECT lang_pred, count(*) AS n, avg(quality) AS q FROM {D} GROUP BY lang_pred"),
      Query("corpus_count", "cl1", "SELECT count(*) AS n, max(doc_id) AS mx FROM {D}"),
      Query("doc_lookup", "cl2",
        s"SELECT doc_id, lang, quality FROM {D} WHERE doc_id = ${ids(r.nextInt(ids.length))}L"),
      Query("doc_lookup", "cl3",
        s"SELECT doc_id, lang, quality FROM {D} WHERE doc_id = ${ids(r.nextInt(ids.length))}L"),
      Query("source_quality", "cl4",
        s"SELECT source, count(*) AS n FROM {D} WHERE quality >= 0.${3 + r.nextInt(3)} GROUP BY source"))
  }

  private def step[T](name: String, layer: String, timed: Boolean)(body: => T): T = {
    val s = System.nanoTime()
    val r = Trace.span(name, layer)(_ => body)
    if (timed) steps.synchronized {
      steps.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - s) / 1e6
    }
    r
  }

  /** What one batch left behind, counted after its timed region. */
  final case class BatchOut(scored: DataFrame, exact: DataFrame, pairs: Long,
                            dropped: DataFrame, before: Long, rebuild: Boolean)

  /** One batch through the pipeline. */
  def runBatch(b: Int, timedSteps: Boolean): BatchOut = {
    val t = SegmentedTable.open(spark, readRoot)
    val raw = spark.read.parquet(s"$batchDir/batch=$b").drop("kind")
    val sc = step("text.score", "text", timedSteps) {
      scored(raw).filter(col("quality") >= MinQuality).localCheckpoint()
    }
    val ex = step("dedup.exact", "dedup", timedSteps) {
      val reps = Dedup.exactGroups(sc, "doc_id", "text").select(col("rep_id").as("doc_id"))
      sc.join(reps, Seq("doc_id"), "left_semi").localCheckpoint()
    }
    val (pairs, nPairs) = step("dedup.candidates", "dedup", timedSteps) {
      val p = Dedup.minhashCandidates(ex, "doc_id", "text", 16, 4)
      (p, p.count())
    }
    val (kept, drop) = step("dedup.cluster", "dedup", timedSteps) {
      val d = Dedup.nearDupClusters(pairs).filter(col("doc_id") =!= col("rep")).select("doc_id")
      (ex.join(d, Seq("doc_id"), "left_anti").localCheckpoint(), d)
    }
    val before = t.countFromCatalog
    val rebuild = !markerMatches(t)
    step("dedup.ingest_novel", "dedup", timedSteps) {
      Dedup.ingestNovel(t, kept.select(Cols.map(col): _*), "doc_id", "text")
    }
    BatchOut(sc, ex, nPairs, drop, before, rebuild)
  }

  private def markerMatches(t: SegmentedTable): Boolean = {
    val f = new java.io.File(s"$readRoot/_bands/_meta/main_version")
    f.exists && scala.io.Source.fromFile(f).mkString.trim.toLongOption.contains(t.currentVersion)
  }

  def timedBatch(): Boolean = {
    if (nextBatch >= Batches) return false
    val b = nextBatch; nextBatch += 1
    var root: Span = null
    var opId = 0L
    var out: BatchOut = null
    val (s, err) = Loop.timed("write", "batch") {
      val (_, id, sp) = Trace.op(spark, "batch", Map("batch" -> b)) { _ =>
        out = runBatch(b, timedSteps = true)
      }
      root = sp; opId = id
      batchSize.toLong
    }
    err.foreach(e => res.error(s"batch $b: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    if (s.ok) {
      val dropped = out.dropped.count()
      val added = SegmentedTable.open(spark, readRoot).countFromCatalog - out.before
      counts.synchronized {
        counts("batches") += 1
        counts("delivered") += batchSize
        counts("scored_kept") += out.scored.count()
        counts("exact_kept") += out.exact.count()
        counts("candidate_pairs") += out.pairs
        counts("cluster_dropped") += dropped
        counts("ingested") += added
        if (out.rebuild) rebuilds.incrementAndGet()
      }
      if (root != null) root.put("candidate_pairs", out.pairs).put("cluster_dropped", dropped)
        .put("docs_ingested", added).put("index_rebuild", out.rebuild)
    }
    traced(root, opId)
    record(s)
    true
  }

  lazy val deck = new Deck(rng, pool.groupBy(_.key), pool.map(_.key))

  def measure(seconds: Double): Loop.Window = {
    Loop.run(seconds, Seq(
      "curator" -> (() => timedBatch()),
      "reader" -> (() => { timedRead(deck.next()); true })))
  }

  def metrics(window: Loop.Window, phase: String): Unit = {
    readMetrics(window, phase)
    val bs = samplesOf(phase, "write")
    val ms = bs.map(_.ms)
    // a write op here is one delivered batch, end to end
    res.e2e("commit_p50_ms") = (Stats.median(ms), "ms")
    res.e2e("commit_p95_ms") = (Stats.pct(ms, 0.95), "ms")
    res.e2e("write_rows_per_s") = (bs.map(_.rows).sum / (ms.sum / 1e3), "1/s")
    res.extra("commit_samples") = (bs.size.toDouble, "count")
    res.extra("docs_per_s") = (bs.map(_.rows).sum / (ms.sum / 1e3), "1/s")
    res.extra("batch_p50_s") = (Stats.median(ms) / 1e3, "s")
    steps.foreach { case (k, v) => res.extra(s"$k.p50_ms") = (Stats.median(v.toSeq), "ms") }
  }

  private def invariant(label: String)(ok: => Boolean): Unit = {
    val (s, _) = Loop.timed("check", label) {
      if (!ok) throw new IllegalStateException(label); 0L
    }
    if (s.failed) res.error(s"invariant failed: $label")
    samples.add(s)
  }

  def check(): Unit = {
    val t = SegmentedTable.open(spark, readRoot)
    val docs = t.read()
    invariant("unique_ids") {
      docs.groupBy("doc_id").count().filter(col("count") > 1).isEmpty
    }
    invariant("unique_fingerprints") {
      docs.groupBy(TextFunctions.fingerprint(col("text"))).count()
        .filter(col("count") > 1).isEmpty
    }
    invariant("catalog_count") { t.countFromCatalog == docs.count() }
    checkAnswers((q, v) => {
      val st = t.statusAt(v)
      val dirs = st.segments.filter(_.status == SegmentedTable.SUCCESS)
        .map(s => s"$readRoot/segment_${s.id}")
      spark.read.schema(t.schema).parquet(dirs: _*).createOrReplaceTempView("curated_ref_v")
      Some(Answers.norm(q.reference(spark, Map("D" -> "curated_ref_v")).collect().toSeq))
    }, maxRefs = 10)
    val c = counts
    val delivered = c("delivered").toDouble
    if (delivered > 0) {
      res.props("share.exact_dup") = ExactDups.toDouble / batchSize
      res.props("share.near_dup") = NearDups.toDouble / batchSize
      res.props("share.redelivery") = Redeliveries.toDouble / batchSize
      res.props("share.kept") = c("ingested") / delivered
      res.props("share.quality_dropped") = 1 - c("scored_kept") / delivered
      res.props("share.exact_dropped") = (c("scored_kept") - c("exact_kept")) / delivered
      res.props("share.cluster_dropped") = c("cluster_dropped") / delivered
      res.props("candidate_pairs_per_batch") = c("candidate_pairs") / c("batches").toDouble
    }
    res.props("index_rebuilds") = rebuilds.get
    val idx = SegmentedTable.open(spark, s"$readRoot/_bands")
    res.props("band_index_rows") = idx.countFromCatalog
    Props.table(res, "curated", t)
    res.e2e("space_amp") = (SpaceAmp(spark, readRoot, docs), "ratio")
  }
}
