package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One read: SQL text over placeholder table names ({L} lineitem,
  * {O} orders, {C} customer, {D} curated documents), bound to graft
  * catalog names for the timed run and to plain-Parquet views for the
  * reference. `api` runs the query through the DataFrame API of a
  * SegmentedTable instead (see [[BiTemplates]]).
  */
final case class Query(template: String, key: String, sql: String,
                       api: Option[(SparkSession, Map[String, String]) => DataFrame] = None) {
  def bind(tables: Map[String, String]): String =
    tables.foldLeft(sql) { case (s, (k, v)) => s.replace(s"{$k}", v) }

  def frame(spark: SparkSession, tables: Map[String, String]): DataFrame =
    api match {
      case Some(f) => f(spark, tables)
      case None => spark.sql(bind(tables))
    }

  /** The plain-Spark reference: always SQL over the reference views. */
  def reference(spark: SparkSession, views: Map[String, String]): DataFrame =
    spark.sql(bind(views))
}

/** The six BI templates and their seeded parameter pools. */
object BiTemplates {
  val Names = Seq("pruned_range", "point_lookup", "stats_fold", "mv_rollup",
    "star_join", "full_agg")

  private def ts(d: java.time.LocalDate) = s"TIMESTAMP'$d 00:00:00'"

  /** MV shape (see [[BiRead]]): grouped by flag and status. */
  val MvGroup = Seq("l_returnflag", "l_linestatus")
  val MvMeasures = Seq("sum" -> "l_quantity", "sum" -> "l_extendedprice",
    "min" -> "l_discount", "max" -> "l_discount")

  /** `variants` parameterizations per template from `rng`; `months`
    * are the ship months present ("yyyy-MM").
    */
  def pool(rng: scala.util.Random, months: Seq[String], orders: Long,
           variants: Int): Map[String, Seq[Query]] = {
    val first = java.time.LocalDate.parse(months.head + "-01")
    val lastMonth = java.time.LocalDate.parse(months.last + "-01")
    val spanDays = java.time.temporal.ChronoUnit.DAYS.between(first, lastMonth).toInt
    def day() = first.plusDays(rng.nextInt(spanDays))
    def month(maxLen: Int) = {
      val i = rng.nextInt(months.size - maxLen)
      java.time.LocalDate.parse(months(i) + "-01")
    }
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

    val pruned = (0 until variants).map { i =>
      val a = day(); val b = a.plusDays(7L * (1 + rng.nextInt(4)))
      Query("pruned_range", s"pr$i",
        s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
           |sum(l_quantity) AS q, sum(l_extendedprice) AS p
           |FROM {L} WHERE l_shipdate >= ${ts(a)} AND l_shipdate < ${ts(b)}
           |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    }
    val lookup = (0 until variants).map { i =>
      val k = (rng.nextDouble() * orders).toLong
      Query("point_lookup", s"pl$i",
        s"""SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice, l_shipdate
           |FROM {L} WHERE l_orderkey = ${k}L""".stripMargin)
    }
    // two thirds month-aligned (answered from the catalog), one third
    // straddling a month boundary (the hybrid fold scans the edges)
    val fold = (0 until variants).map { i =>
      val (a, b) =
        if (i % 3 != 2) { val m = month(3); (m, m.plusMonths(1 + rng.nextInt(3))) }
        else { val m = month(3).plusDays(5 + rng.nextInt(15)); (m, m.plusMonths(1)) }
      Query("stats_fold", s"sf$i",
        s"""SELECT count(*) AS n, min(l_shipdate) AS lo, max(l_shipdate) AS hi,
           |sum(l_linenumber) AS ln, max(l_quantity) AS mq
           |FROM {L} WHERE l_shipdate >= ${ts(a)} AND l_shipdate < ${ts(b)}""".stripMargin)
    }
    val mvShapes = Seq(
      Seq("l_returnflag", "l_linestatus") ->
        Seq("sum(l_quantity) AS q", "sum(l_extendedprice) AS p", "count(*) AS n"),
      Seq("l_returnflag") -> Seq("sum(l_quantity) AS q", "count(*) AS n"),
      Seq("l_linestatus") ->
        Seq("min(l_discount) AS dmin", "max(l_discount) AS dmax", "avg(l_quantity) AS aq"),
      Seq("l_returnflag") -> Seq("max(l_discount) AS dmax", "sum(l_extendedprice) AS p"))
    val mv = (0 until variants).map { i =>
      val (g, aggs) = mvShapes(i % mvShapes.size)
      val sql = s"SELECT ${(g ++ aggs).mkString(", ")} FROM {L} GROUP BY ${g.mkString(", ")}"
      // the MV rewrite matches file-relation scans only, and the V2
      // catalog surface never rewrites: aggregate over
      // SegmentedTable.read() with the DataFrame API
      val api = (spark: SparkSession, t: Map[String, String]) => {
        val base = graft.table.SegmentedTable.open(spark, t("L_ROOT")).read()
        val es = aggs.map(org.apache.spark.sql.functions.expr)
        base.groupBy(g.map(base.col): _*).agg(es.head, es.tail: _*)
      }
      Query("mv_rollup", s"mv$i", sql, Some(api))
    }
    val star = (0 until variants).map { i =>
      val a = month(2); val b = a.plusMonths(1)
      Query("star_join", s"sj$i",
        s"""SELECT o.o_orderpriority, count(*) AS n,
           |sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
           |FROM {L} l JOIN {O} o ON l.l_orderkey = o.o_orderkey
           |JOIN {C} c ON o.o_custkey = c.c_custkey
           |WHERE l.l_shipdate >= ${ts(a)} AND l.l_shipdate < ${ts(b)}
           |AND c.c_mktsegment = '${segs(rng.nextInt(segs.size))}'
           |GROUP BY o.o_orderpriority""".stripMargin)
    }
    val full = Seq(Query("full_agg", "fa0",
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |sum(l_extendedprice) AS sum_base_price,
        |sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
        |sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
        |avg(l_quantity) AS avg_qty, avg(l_extendedprice) AS avg_price,
        |avg(l_discount) AS avg_disc, count(*) AS count_order
        |FROM {L} WHERE l_shipdate <= TIMESTAMP'2002-06-30 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin))
    Map("pruned_range" -> pruned, "point_lookup" -> lookup, "stats_fold" -> fold,
      "mv_rollup" -> mv, "star_join" -> star, "full_agg" -> full)
  }

  /** Template slots per deck: every template once. No measured BI
    * traffic is known for graft, so the mix gives each template an
    * equal share rather than guessing weights.
    */
  val DeckSlots: Seq[String] = Names
}

/** Seeded draws from a query pool, stratified: every deck of
  * `slots.size` draws holds each template exactly as often as `slots`
  * does, in a seeded order, so short runs keep the intended mix.
  */
final class Deck(rng: scala.util.Random, pool: Map[String, Seq[Query]], slots: Seq[String]) {
  private var deck: List[String] = Nil
  def next(): Query = synchronized {
    if (deck.isEmpty) deck = rng.shuffle(slots).toList
    val t = deck.head
    deck = deck.tail
    val vs = pool(t)
    vs(rng.nextInt(vs.size))
  }
}

/** Result comparison with a relative tolerance on floating values
  * (segment-wise sums add in another order than a one-file scan).
  */
object Answers {
  def norm(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq.map {
      case d: java.math.BigDecimal => d.doubleValue
      case f: Float => f.toDouble
      case n: Int => n.toLong
      case n: Short => n.toLong
      case n: Byte => n.toLong
      case t: java.sql.Timestamp => t.toString
      case t: java.time.Instant => t.toString
      case t: java.time.LocalDateTime => t.toString
      case other => other
    }).sortBy(_.map(sortKey).mkString("|"))

  private def sortKey(v: Any): String = v match {
    case d: Double => f"$d%.6e"
    case null => "∅"
    case other => other.toString
  }

  def same(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall {
        case (p: Double, q: Double) =>
          p == q || math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q)) + 1e-9
        case (p, q) => p == q
      }
    }

  /** Deliberately wrong copy of an answer (the corrupted-reference
    * self-test): one more row.
    */
  def corrupt(a: Seq[Seq[Any]]): Seq[Seq[Any]] = a :+ Seq("corrupted")
}
