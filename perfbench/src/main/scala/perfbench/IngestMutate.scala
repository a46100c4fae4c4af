package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.format.GraftFormat
import graft.ops.Maintenance

/** Write-heavy table lifecycle on one lineitem: appends of held-out
  * key-shifted batches, DELETE by predicate (deletion vectors), UPDATE,
  * MERGE upsert, incremental `start_version` reads and checked
  * aggregate reads; every deck starts with a compact and a vacuum of
  * what the previous deck left, so at its end (where the footprint and
  * the deletion vectors are sampled) deletion files and rewritten
  * fragments are live. Reads are checked against a driver-side model of
  * the live rows: key (orderkey * 8 + linenumber) → quantity and
  * whether the return flag is 'R'. */
final class IngestMutate(env: Env, baseRows: Long, batchRows: Int) extends Workload(env) {
  val name = "ingest_mutate"
  import IngestMutate._

  private var base: DataFrame = _
  private var baseModel: mutable.LongMap[Row] = _
  private var model: mutable.LongMap[Row] = _
  private var rep = 0
  private var lastAppend: Option[(Long, Seq[Row])] = None
  private def dir: Path = env.tableDir(s"im_$rep")
  private def table = s"graft.db.im_$rep"

  // layer counts, gathered in traced runs
  private var compactBytes = 0L
  private var vacuumFiles = 0L
  private val rewriteRows = mutable.ArrayBuffer.empty[Long]
  private val incrementalRatio = mutable.ArrayBuffer.empty[Double]
  private var dvStats: Seq[Metric] = Nil

  // held-out rows: append batches, and the fresh rows of each upsert,
  // on key ranges of their own
  private lazy val appends = new BatchPool(batchRows)((from, until) =>
    Inputs.lineitem(spark, env.seed + 1, from, until, keyBase = 10L * Inputs.KeySpan))
  private lazy val fresh = new BatchPool(MergeRows)((from, until) =>
    Inputs.lineitem(spark, env.seed + 2, from, until, keyBase = 20L * Inputs.KeySpan))

  def prepare(): Unit = {
    base = writeInput("lineitem", Inputs.lineitem(spark, env.seed, 0, baseRows))
    baseModel = mutable.LongMap.from(base.collect().iterator.map(r => key(r) -> r))
  }

  def setup(rep: Int): Unit = {
    base.createOrReplaceTempView("im_base")
    env.sql("connector.write", s"CREATE TABLE graft.db.im_$rep AS SELECT * FROM im_base",
      baseRows)
  }

  def adopt(rep: Int, reps: Int): Unit = {
    this.rep = rep
    (0 until reps).filter(_ != rep).foreach(r => dropTable(s"im_$r"))
    model = baseModel.clone()
    lastAppend = None
  }

  def tables: Seq[Path] = Seq(dir)

  private def local(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), base.schema)

  private def append(rows: Seq[Row]): OpSpec = {
    var from = 0L
    OpSpec("append", "write", before = () => {
      from = GraftFormat.latestVersion(env.fs, dir).get
    }, run = () => {
      local(rows).createOrReplaceTempView("im_batch")
      env.sql("connector.write", s"INSERT INTO $table SELECT * FROM im_batch", rows.size)
      Outcome { () =>
        rows.foreach(r => model(key(r)) = r)
        lastAppend = Some((from, rows))
        None
      }
    })
  }

  /** Rows appended since the version before the last append: exactly
    * that append's batch, since the deck runs it right after. */
  private def incremental(): OpSpec = OpSpec("incremental_read", "read", () => {
    val (from, rows) = lastAppend.get
    val got = env.tracer.span("streaming", "streaming.incremental_read") {
      env.collect(spark.read.option("start_version", from).table(table)
        .agg(count(lit(1)), sum("l_quantity")))
    }
    Outcome { () =>
      incrementalRatio += got.head.getLong(0).toDouble / rows.size
      Check.rows(got.toSeq, Seq(Seq(rows.size.toLong, rows.map(_.getDouble(4)).sum)))
    }
  })

  /** A mutation whose rewritten rows are counted in traced runs. */
  private def mutation(kind: String, text: String, apply: () => Unit): OpSpec = {
    var before: GraftFormat.Manifest = null
    OpSpec(kind, "write", before = () => {
      if (env.tracer.enabled) before = GraftFormat.readLatest(env.fs, dir).get
    }, run = () => {
      env.sql(s"connector.$kind", text)
      Outcome { () =>
        apply()
        if (env.tracer.enabled) {
          val old = before.fragments.map(_.id).toSet
          rewriteRows += GraftFormat.readLatest(env.fs, dir).get.fragments
            .filterNot(f => old(f.id)).map(_.rowCount).sum
        }
        None
      }
    })
  }

  private def delete(a: Int, q: Int): OpSpec =
    mutation("delete", s"DELETE FROM $table WHERE l_orderkey % $DeleteMod = $a " +
      s"AND l_quantity <= $q", () =>
      model.filterInPlace { case (k, r) => !((k >> 3) % DeleteMod == a && qty(r) <= q) })

  private def update(b: Int): OpSpec =
    mutation("update", s"UPDATE $table SET l_quantity = l_quantity + 1 " +
      s"WHERE l_orderkey % $UpdateMod = $b AND l_returnflag = 'R'", () =>
      model.mapValuesInPlace { case (k, r) =>
        if ((k >> 3) % UpdateMod == b && r.getString(8) == "R") withQty(r, qty(r) + 1)
        else r
      })

  /** Upsert: existing keys get a new quantity, fresh keys are inserted. */
  private def merge(src: Seq[Row]): OpSpec = {
    val m = mutation("merge", s"MERGE INTO $table t USING im_src s " +
      "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber " +
      "WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity " +
      "WHEN NOT MATCHED THEN INSERT *", () => src.foreach { r =>
        val k = key(r)
        model(k) = model.get(k).map(withQty(_, qty(r))).getOrElse(r)
      })
    m.copy(run = () => { local(src).createOrReplaceTempView("im_src"); m.run() })
  }

  private def checkedRead(): OpSpec = OpSpec("checked_read", "read", () => {
    val got = env.collect(env.frame(env.loadTable(s"im_$rep"))
      .agg(count(lit(1)), sum("l_quantity"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))))
    Outcome { () =>
      val rs = model.values
      Check.rows(got.toSeq, Seq(Seq(model.size.toLong, rs.iterator.map(qty).sum,
        rs.count(_.getString(8) == "R").toLong)))
    }
  })

  private def compact(): OpSpec = {
    var before: GraftFormat.Manifest = null
    OpSpec("compact", "maint", before = () => {
      if (env.tracer.enabled) before = GraftFormat.readLatest(env.fs, dir).get
    }, run = () => {
      env.tracer.span("ops", "ops.compact") {
        Maintenance.compact(spark, dir, minRows = CompactMinRows)
      }
      Outcome { () =>
        if (env.tracer.enabled) {
          val now = GraftFormat.readLatest(env.fs, dir).get.fragments.map(_.id).toSet
          compactBytes += before.fragments.filterNot(f => now(f.id)).map(_.sizeBytes).sum
        }
        None
      }
    })
  }

  private def vacuum(): OpSpec = OpSpec("vacuum", "maint", () => {
    val (_, files) = env.tracer.span("ops", "ops.vacuum") {
      Maintenance.vacuum(spark, dir, keepVersions = 3, minVersionsRetained = 3)
    }
    Outcome { () => vacuumFiles += files; None }
  })

  /** One op of each kind. */
  override def warmup(): Seq[OpSpec] = {
    val d = deck(0)
    d.take(7) ++ d.slice(10, 11)
  }

  /** 13 ops; sorted by latency, the middle ones are the checked reads
    * and the appends, which lie close together. */
  def deck(k: Int): Seq[OpSpec] = {
    val r = rng(k)
    // upsert source: live keys sampled from the model plus fresh rows
    def upsert(): Seq[Row] = {
      val stride = math.max(1, model.size / MergeRows)
      val existing = model.valuesIterator.drop(r.nextInt(stride))
        .grouped(stride).map(_.head).take(MergeRows).map(withQty(_, 1 + r.nextInt(50)))
      existing.toSeq ++ fresh(k)
    }
    def del() = delete(r.nextInt(DeleteMod), 10 + r.nextInt(20))
    Seq(compact(), vacuum(), append(appends(2 * k)), incremental(), del(), checkedRead(),
      update(r.nextInt(UpdateMod)), append(appends(2 * k + 1)), incremental(), checkedRead(),
      merge(upsert()), del(), checkedRead())
  }

  /** Deletion-vector size and load time at the sample point (the end of
    * deck 1, after its deletes): every DV file of the current version,
    * read through the format layer. */
  override def sample(traced: Boolean): Unit = if (traced) {
    val m = GraftFormat.readLatest(env.fs, dir).get
    val dvs = m.fragments.flatMap(f => f.deletionPath.map(f -> _))
    val bytes = dvs.map { case (_, p) => env.fs.getFileStatus(new Path(dir, p)).getLen }.sum
    val loads = dvs.map { case (_, p) =>
      val t0 = System.nanoTime()
      env.tracer.span("format", "format.readDeletionFile") {
        GraftFormat.readDeletionFile(env.fs, dir, p)
      }
      (System.nanoTime() - t0) / 1e6
    }
    val deleted = m.fragments.map(_.deletedCount).sum
    dvStats = Seq(
      Metric("format.dv_files", dvs.size.toDouble, "count"),
      Metric("format.dv_bytes_per_deleted_row",
        if (deleted == 0) 0.0 else bytes.toDouble / deleted, "bytes"),
      Metric("format.dv_load_ms", Stats.mean(loads), "ms"))
  }

  def ownMetrics(traced: Boolean): Seq[Metric] = if (!traced) Nil else dvStats ++ Seq(
    spanMedian("ops.compact", "ops.compact_ms"),
    spanMedian("ops.vacuum", "ops.vacuum_ms"),
    spanMedian("streaming.incremental_read", "streaming.incremental_read_ms"),
    Metric("ops.compact_bytes_rewritten", compactBytes.toDouble, "bytes"),
    Metric("ops.vacuum_files_deleted", vacuumFiles.toDouble, "count"),
    Metric("connector.rewrite_rows_per_mutation", Stats.mean(rewriteRows.map(_.toDouble).toSeq),
      "rows"),
    Metric("streaming.incremental_rows_ratio",
      if (incrementalRatio.isEmpty) 1.0 else incrementalRatio.min, "ratio"))

  override def counts(): Seq[(String, Any)] = super.counts() :+ ("model_rows" -> model.size)
}

object IngestMutate {
  val DeleteMod = 53
  val UpdateMod = 59
  val MergeRows = 100
  val CompactMinRows = 50000L

  def key(r: Row): Long = r.getLong(0) * 8 + r.getInt(3)
  def qty(r: Row): Double = r.getDouble(4)
  def withQty(r: Row, q: Double): Row = Row.fromSeq(r.toSeq.updated(4, q))
}
