package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.connector.GraftTable
import graft.format.GraftFormat

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one op left to check once its timing has stopped: None when the
  * output is right, else what was wrong. */
final case class Outcome(check: () => Option[String])

object Outcome {
  val ok: Outcome = Outcome(() => None)
}

/** One benchmark op: its kind (a shape name), its class (read, write,
  * maint or probe) and the graft calls it makes. `before` runs untimed
  * right before `run` (it records state the check needs). */
final case class OpSpec(kind: String, cls: String, run: () => Outcome,
    before: () => Unit = () => ())

/** Scan statistics of one executed query, read from its physical plan. */
final case class ScanStats(tasks: Long, planned: Long, pruned: Long, dvSkipped: Long)

/** The session and the layer calls every workload makes. Each call into
  * graft goes through a span named after its layer (module). */
final class Env(val spark: SparkSession, val seed: Long, val work: java.nio.file.Path,
    val tracer: Tracer, val cpus: Int) {
  val fs: FileSystem =
    FileSystem.getLocal(spark.sessionState.newHadoopConf())
  val warehouse: Path = new Path(work.resolve("wh").toUri)
  private lazy val catalog: TableCatalog =
    spark.sessionState.catalogManager.catalog("graft").asInstanceOf[TableCatalog]

  /** Scan statistics of the reads run while tracing. */
  val scanStats = mutable.ArrayBuffer.empty[ScanStats]
  /** Rows written by graft writes while tracing, with their time. */
  var writeRows = 0L
  var writeNs = 0L

  def tableDir(name: String): Path = new Path(warehouse, s"db/$name.graft")

  def loadTable(name: String, version: Option[Long] = None): GraftTable =
    tracer.span("catalog", "catalog.loadTable") {
      val id = Identifier.of(Array("db"), name)
      (version match {
        case Some(v) => catalog.loadTable(id, v.toString)
        case None => catalog.loadTable(id)
      }).asInstanceOf[GraftTable]
    }

  def frame(t: GraftTable): DataFrame =
    org.apache.spark.sql.GraftShim.tableDF(spark, t)

  /** DataFrame → executed plan → rows. Planning is its own span so the
    * connector's scan planning (and any optimizer rewrite) shows apart
    * from execution. */
  def collect(df: DataFrame, planModule: String = "connector"): Array[Row] = {
    val plan = tracer.span(planModule, s"$planModule.plan") {
      df.queryExecution.executedPlan
    }
    val rows = tracer.span("connector", "connector.execute")(df.collect())
    if (tracer.enabled) scanStats += statsOf(plan)
    rows
  }

  /** SQL DML or DDL, which Spark runs eagerly. */
  def sql(name: String, text: String, rows: Long = 0L): Unit = {
    val t0 = System.nanoTime()
    tracer.span("connector", name)(spark.sql(text))
    if (tracer.enabled && rows > 0) {
      writeRows += rows
      writeNs += System.nanoTime() - t0
    }
  }

  def readLatest(dir: Path): GraftFormat.Manifest =
    tracer.span("format", "format.readLatest") {
      GraftFormat.readLatest(fs, dir).getOrElse(
        throw new IllegalStateException(s"not a graft table: $dir"))
    }

  /** Bytes of every file under `dir` (data, deletion files, manifests,
    * indices), by a listing outside any timed region. */
  def bytesUnder(dir: Path): Long =
    if (!fs.exists(dir)) 0L else {
      var total = 0L
      val it = fs.listFiles(dir, true)
      while (it.hasNext) total += it.next().getLen
      total
    }

  def statsOf(plan: SparkPlan): ScanStats = {
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case b: BatchScanExec => Seq(b)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    val ss = scans(plan)
    def metric(b: BatchScanExec, k: String): Long =
      b.metrics.get(k).map(_.value).getOrElse(0L)
    ScanStats(ss.map(_.inputPartitions.size.toLong).sum,
      ss.map(metric(_, "fragmentsPlanned")).sum,
      ss.map(metric(_, "fragmentsPruned")).sum,
      ss.map(metric(_, "deletionRowsSkipped")).sum)
  }
}
