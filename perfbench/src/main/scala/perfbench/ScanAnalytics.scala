package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.format.GraftFormat

/** Read-only analytics over a many-fragment lineitem. Set-up appends
  * key-shifted replicas of one seeded lineitem, one append (one
  * fragment, one version) per replica, and writes orders. Every answer
  * is checked against the same query over the input parquet, scaled by
  * the replica count where the replicas all contribute. */
final class ScanAnalytics(env: Env, baseRows: Long, replicas: Int) extends Workload(env) {
  val name = "scan_analytics"
  import ScanAnalytics._

  private var li: DataFrame = _
  private var ord: DataFrame = _
  private var rep = 0
  private def liName = s"li_$rep"
  private def ordName = s"ord_$rep"

  // seeded parameter pools, and the oracle answer for each
  private var cutoffs: Seq[String] = Nil
  private var qtys: Seq[Int] = Nil
  private var points: Seq[(Int, Long)] = Nil
  private var joinDates: Seq[String] = Nil
  private var versions: Seq[Int] = Nil
  private val oracle = mutable.HashMap.empty[String, Seq[Seq[Any]]]

  def prepare(): Unit = {
    li = writeInput("lineitem", Inputs.lineitem(spark, env.seed, 0, baseRows))
    ord = writeInput("orders", Inputs.orders(spark, env.seed, baseRows / 4))
    val r = rng(-1)
    def day(lo: Int, span: Int) =
      java.time.LocalDate.of(1992, 1, 1).plusDays(lo + r.nextInt(span)).toString
    cutoffs = Seq.fill(2)(day(1500, 1000))
    qtys = Seq.fill(2)(5 + r.nextInt(40))
    points = Seq.fill(2)((r.nextInt(replicas), 1L + r.nextInt((baseRows / 4).toInt - 3)))
    joinDates = Seq.fill(2)(day(300, 2000))
    versions = Seq.fill(2)(1 + r.nextInt(replicas))
    // oracle answers from the input rows on the driver; every replica
    // holds the same rows under shifted keys, so totals scale by the
    // number of replicas a query sees
    val n = replicas.toLong
    val rows = li.collect().toSeq
    val orders = ord.collect().iterator.map(o => o.getLong(0) -> o).toMap
    def epochMs(day: String) =
      java.time.LocalDate.parse(day).atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    def ts(r: Row, i: Int) = r.getTimestamp(i).getTime
    def qty(r: Row) = r.getDouble(4)
    def grouped[K: Ordering](rs: Seq[Row], key: Row => K)(f: (K, Seq[Row]) => Seq[Any]) =
      rs.groupBy(key).toSeq.sortBy(_._1).map { case (k, g) => f(k, g) }
    cutoffs.foreach(c => oracle(s"filter_agg/$c") =
      grouped(rows.filter(ts(_, 10) <= epochMs(c)), r => (r.getString(8), r.getString(9))) {
        case ((rf, ls), g) => Seq(rf, ls, g.map(qty).sum * n, g.map(_.getDouble(5)).sum * n,
          g.size * n)
      })
    oracle("sum") = Seq(Seq(rows.map(_.getDouble(5)).sum * n, rows.map(qty).sum * n))
    qtys.foreach(q => oracle(s"filtered_count/$q") = Seq(Seq(rows.count(qty(_) < q) * n)))
    oracle("group_by") = grouped(rows, _.getInt(3)) { (ln, g) =>
      Seq(ln, g.size * n, g.map(qty).sum * n)
    }
    points.foreach { case (rp, k) =>
      oracle(s"point/$rp/$k") = rows.filter(r => r.getLong(0) >= k && r.getLong(0) <= k + 2)
        .sortBy(r => (r.getLong(0), r.getInt(3)))
        .map(r => Seq(r.getLong(0) + rp * Inputs.KeySpan, r.getInt(3), qty(r)))
    }
    oracle("count") = Seq(Seq(baseRows * n))
    joinDates.foreach { d =>
      val joined = rows.flatMap(r => orders.get(r.getLong(0))
        .filter(ts(_, 4) < epochMs(d)).map(o => Row(o.getString(5), qty(r))))
      oracle(s"join/$d") = grouped(joined, _.getString(0)) { (p, g) =>
        Seq(p, g.size.toLong, g.map(_.getDouble(1)).sum)
      }
    }
    versions.foreach(v => oracle(s"version/$v") = Seq(Seq(baseRows * v, rows.map(qty).sum * v)))
  }

  def setup(rep: Int): Unit = {
    li.createOrReplaceTempView("sa_li")
    env.sql("connector.write", s"CREATE TABLE graft.db.li_$rep AS SELECT * FROM sa_li",
      baseRows)
    (1 until replicas).foreach { r =>
      li.withColumn("l_orderkey", col("l_orderkey") + r * Inputs.KeySpan)
        .createOrReplaceTempView("sa_li_r")
      env.sql("connector.write", s"INSERT INTO graft.db.li_$rep SELECT * FROM sa_li_r",
        baseRows)
    }
    ord.createOrReplaceTempView("sa_ord")
    env.sql("connector.write", s"CREATE TABLE graft.db.ord_$rep AS SELECT * FROM sa_ord",
      baseRows / 4)
  }

  def adopt(rep: Int, reps: Int): Unit = {
    this.rep = rep
    (0 until reps).filter(_ != rep).foreach { r =>
      dropTable(s"li_$r"); dropTable(s"ord_$r")
    }
  }

  private def read(kind: String, key: String)(q: => DataFrame): OpSpec =
    OpSpec(kind, "read", () => {
      val rows = env.collect(q)
      Outcome(() => Check.rows(rows.toSeq, oracle(key)))
    })

  private def table(): DataFrame = env.frame(env.loadTable(liName))

  /** The eight shapes, the sum twice: nine ops whose median is a sum. */
  def deck(k: Int): Seq[OpSpec] = {
    val r = rng(k)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    val c = pick(cutoffs); val q = pick(qtys); val (rp, pk) = pick(points)
    val d = pick(joinDates); val v = pick(versions)
    val lo = pk + rp * Inputs.KeySpan
    Seq(
      read("filter_agg", s"filter_agg/$c")(filterAgg(table(), c)),
      read("point_lookup", s"point/$rp/$pk")(point(table(), lo, lo + 2)),
      read("sum", "sum")(sumShape(table())),
      read("count_star", "count")(table().agg(count(lit(1)).as("n"))),
      read("group_by", "group_by")(groupBy(table())),
      read("version_as_of", s"version/$v")(
        versionAgg(env.frame(env.loadTable(liName, Some(v.toLong))))),
      read("sum", "sum")(sumShape(table())),
      read("filtered_count", s"filtered_count/$q")(filteredCount(table(), q)),
      read("join", s"join/$d")(join(table(), env.frame(env.loadTable(ordName)), d)))
  }

  def tables: Seq[org.apache.hadoop.fs.Path] =
    Seq(env.tableDir(liName), env.tableDir(ordName))

  /** Graft time over the time of the same query run by Spark's own
    * parquet reader on the table's live data files, per shape: the
    * median of alternating runs. */
  def ownMetrics(traced: Boolean): Seq[Metric] = if (!traced) Nil else {
    val dir = env.tableDir(liName)
    val files = GraftFormat.readLatest(env.fs, dir).get.fragments
      .map(f => new org.apache.hadoop.fs.Path(dir, f.path).toString)
    def native = spark.read.parquet(files: _*)
    val shapes: Seq[(String, DataFrame => DataFrame)] = Seq(
      "filter_agg" -> (filterAgg(_, cutoffs.head)),
      "sum" -> sumShape,
      "filtered_count" -> (filteredCount(_, qtys.head)),
      "group_by" -> groupBy)
    shapes.map { case (shape, f) =>
      def time(df: => DataFrame): Double = {
        val t0 = System.nanoTime(); df.collect(); (System.nanoTime() - t0) / 1e6
      }
      val pairs = (0 until NativeRepeats).map { _ =>
        (time(f(table())), time(f(native)))
      }
      Metric(s"connector.native_ratio.$shape",
        Stats.median(pairs.map(_._1)) / Stats.median(pairs.map(_._2)), "ratio")
    }
  }
}

object ScanAnalytics {
  val NativeRepeats = 3

  def filterAgg(t: DataFrame, cutoff: String): DataFrame =
    t.where(col("l_shipdate") <= to_timestamp(lit(cutoff)))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity"), sum("l_extendedprice"), count(lit(1)))
      .orderBy("l_returnflag", "l_linestatus")

  def sumShape(t: DataFrame): DataFrame =
    t.agg(sum("l_extendedprice"), sum("l_quantity"))

  def filteredCount(t: DataFrame, q: Int): DataFrame =
    t.where(col("l_quantity") < q).agg(count(lit(1)))

  def groupBy(t: DataFrame): DataFrame =
    t.groupBy("l_linenumber").agg(count(lit(1)), sum("l_quantity"))
      .orderBy("l_linenumber")

  def point(t: DataFrame, lo: Long, hi: Long): DataFrame =
    t.where(col("l_orderkey").between(lo, hi))
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")

  def join(li: DataFrame, ord: DataFrame, before: String): DataFrame =
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .where(col("o_orderdate") < to_timestamp(lit(before)))
      .groupBy("o_orderpriority").agg(count(lit(1)), sum("l_quantity"))
      .orderBy("o_orderpriority")

  def versionAgg(t: DataFrame): DataFrame =
    t.agg(count(lit(1)), sum("l_quantity"))
}
