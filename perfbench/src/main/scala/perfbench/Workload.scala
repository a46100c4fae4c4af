package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.format.GraftFormat

/** A closed-loop workload: one client, the next op sent only when the
  * previous one has returned. */
abstract class Workload(val env: Env) {
  def name: String

  /** Generates the inputs and the oracle answers (the benchmark's own
    * work: not part of set-up time). */
  def prepare(): Unit

  /** Builds this workload's graft tables under the suffix `rep`. Timed
    * as set-up; runs several times per run. */
  def setup(rep: Int): Unit

  /** Points the loop at the tables of `rep`, resets any driver-side
    * model to the freshly set-up state and drops the other reps' tables. */
  def adopt(rep: Int, reps: Int): Unit

  /** The k-th deck of ops: a fixed mix in a fixed order, with seeded
    * parameters, so every deck holds the same share of each op kind and
    * meets the same table states whatever the seed. */
  def deck(k: Int): Seq[OpSpec]

  /** Ops run before timing starts, to load classes and compile code:
    * by default a whole deck. */
  def warmup(): Seq[OpSpec] = deck(0)

  /** Directories of the graft tables the loop runs on. */
  def tables: Seq[Path]

  /** (bytes on disk, live rows) of everything the workload owns: its
    * tables with their indices, and any index store beside them. */
  def footprint(): (Long, Long) =
    (tables.map(env.bytesUnder).sum,
      tables.map(d => GraftFormat.readLatest(env.fs, d).get.liveRows).sum)

  /** Called once, untimed, after the deck where the footprint is
    * sampled, so state-dependent layer metrics are read at a fixed op
    * count. */
  def sample(traced: Boolean): Unit = ()

  /** Metrics that exist on this workload only. `traced` adds those that
    * take extra measurement work after the loop. */
  def ownMetrics(traced: Boolean): Seq[Metric]

  /** Exact counts that must repeat for the same seed: a digest of
    * every generated input, plus the workload's own. */
  def counts(): Seq[(String, Any)] = inputDigests.toSeq

  private val inputDigests = mutable.LinkedHashMap.empty[String, String]

  /** Median duration of the traced spans named `span`, as a metric. */
  protected def spanMedian(span: String, metric: String): Metric =
    Metric(metric, Stats.median(env.tracer.all.filter(_.name == span)
      .map(_.durNs / 1e6)), "ms")

  protected def rng(k: Int): Random = new Random(env.seed * 1000003L + k)

  protected def spark = env.spark

  protected def parquetPath(name: String): String =
    env.work.resolve("inputs").resolve(s"$name.parquet").toString

  protected def writeInput(name: String, df: DataFrame): DataFrame = {
    df.coalesce(1).write.mode("overwrite").parquet(parquetPath(name))
    val written = spark.read.parquet(parquetPath(name))
    val d = written.agg(count(lit(1)), bit_xor(xxhash64(written.columns.map(col): _*)))
      .head()
    inputDigests(s"input.$name") = f"${d.getLong(0)}%d:${d.getLong(1)}%016x"
    written
  }

  /** Seeded op inputs kept on the driver: batch j holds rows
    * [j * size, (j + 1) * size) of `gen`, generated eight batches per
    * Spark job, so building a deck runs no job (and compiles no code)
    * between ops. */
  protected final class BatchPool(size: Long)(gen: (Long, Long) => DataFrame) {
    private val Block = 8
    private val cache = mutable.HashMap.empty[Int, Seq[Row]]
    def apply(j: Int): Seq[Row] = cache.getOrElseUpdate(j, {
      val b = j / Block * Block
      val rows = gen(b * size, (b + Block) * size).collect().toSeq
      (0 until Block).foreach(i => cache(b + i) = rows.slice((i * size).toInt,
        ((i + 1) * size).toInt))
      cache(j)
    })
  }

  protected def dropTable(name: String): Unit =
    env.fs.delete(env.tableDir(name), true)
}

object Check {
  /** Relative tolerance for sums whose addition order differs between
    * graft and the oracle. */
  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Number, y: Number) => close(x.doubleValue, y.doubleValue)
    case _ => a == b
  }

  /** None when `got` equals `want` row by row (numbers to [[close]]). */
  def rows(got: Seq[Row], want: Seq[Seq[Any]]): Option[String] = {
    val g = got.map(_.toSeq)
    val ok = g.size == want.size && g.zip(want).forall { case (r, w) =>
      r.size == w.size && r.zip(w).forall { case (x, y) => sameValue(x, y) }
    }
    if (ok) None
    else Some(s"got ${g.take(4).mkString(";")} (${g.size} rows), " +
      s"want ${want.take(4).mkString(";")} (${want.size} rows)")
  }
}
