package perfbench

import java.nio.file.{Files, Path => JPath, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.format.{GraftFormat, ManifestCache}

/** One op of the loop, from deck `deck` (0 = warm-up). `t0Ms`/`t1Ms`
  * are epoch milliseconds. */
final case class OpRecord(id: Int, kind: String, cls: String, ms: Double,
    t0Ms: Long, t1Ms: Long, error: Option[String], deck: Int, traced: Boolean) {
  def warm: Boolean = deck == 0
}

/** Runs one workload for one seed and writes one strict-JSON artifact.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --out <file>
  * }}} */
object Main {
  /** Set-ups per untraced run; set-up time is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val stampStart = Stamps.probe()
    Files.createDirectories(work.resolve("tmp"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toUri.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", work.resolve("wh").toUri.toString)
      .config("spark.graft.ann.indexRewrite", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
      val env = new Env(spark, seed, work, new Tracer(false), cpus)
      val w: Workload = workload match {
        case "scan_analytics" => new ScanAnalytics(env, baseRows = 40000L, replicas = 8)
        case "ingest_mutate" => new IngestMutate(env, baseRows = 100000L, batchRows = 2000)
        case "index_dedup" => new IndexDedup(env, docs = 2000L, variants = 400L,
          vectors = 10000L)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val result = new Runner(env, w, seconds).run(traced)
      val json = Json.obj(Seq(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "trace" -> (if (traced) 1 else 0),
        "stamps" -> Json.Raw(Json.obj(Stamps.fields(stampStart, Stamps.probe(), cpus, seed))),
        "correct" -> (result.failed == 0),
        "attempted" -> result.attempted, "failed" -> result.failed,
        "failures" -> result.failures,
        "sizes" -> Json.Raw(Json.obj(result.sizes)),
        "counts" -> Json.Raw(Json.obj(result.counts)),
        "metrics" -> Json.Raw(Json.obj(result.metrics.map(m =>
          m.name -> Json.Raw(Json.obj(Seq("value" -> m.value, "unit" -> m.unit))))))))
      Files.writeString(Paths.get(opt("out")), json + "\n")
      if (traced) {
        val spans = work.resolve(s"spans-$workload-$seed.jsonl")
        Files.write(spans, Trace.jsonLines(env.tracer.all).toSeq.asJava)
      }
    } finally spark.stop()
  }
}

final case class RunResult(attempted: Int, failed: Int, failures: Seq[String],
    metrics: Seq[Metric], sizes: Seq[(String, Any)], counts: Seq[(String, Any)])

final class Runner(env: Env, w: Workload, seconds: Double) {
  import Main._
  private val spark = env.spark
  private var nextId = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var footprint: (Long, Long) = (0L, 1L)
  private var sampledCounts: Seq[(String, Any)] = Nil
  private var listener: OpListener = _

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def runOp(spec: OpSpec, deck: Int): OpRecord = {
    val id = nextId
    nextId += 1
    val traced = env.tracer.enabled
    val pre = Try(spec.before())
    if (traced) {
      listener.current = id
      spark.sparkContext.setJobGroup(s"op-$id", spec.kind)
      env.tracer.op = id
    }
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = pre.flatMap(_ => Try(env.tracer.span("bench", s"op.${spec.kind}")(spec.run())))
    val ms = (System.nanoTime() - t0) / 1e6
    val t1Ms = System.currentTimeMillis()
    if (traced) {
      env.tracer.op = -1
      listener.current = -1
      spark.sparkContext.clearJobGroup()
    }
    val error = out match {
      case Failure(e) => Some(e.toString)
      case Success(o) => Try(o.check()) match {
        case Failure(e) => Some(s"check failed: $e")
        case Success(r) => r
      }
    }
    attempted += 1
    error.foreach { e =>
      val msg = s"op $id ${spec.kind}: ${e.take(400)}"
      failures += msg
      System.err.println(s"[perfbench] FAILED $msg")
    }
    // the format layer's manifest load, timed outside the op
    if (traced) w.tables.foreach(env.readLatest)
    OpRecord(id, spec.kind, spec.cls, ms, t0Ms, t1Ms, error, deck, traced)
  }

  /** Warm-up deck, then whole timed decks until the time is up, so
    * every run holds each op kind in the deck's proportions.
    * A traced run traces every odd deck and leaves the even ones
    * untraced: both see the same table states and the same warm JVM, so
    * their per-kind latencies give the tracing overhead. The footprint
    * and the counts are sampled after the first timed deck, so they
    * repeat for one seed whatever `--seconds` is. */
  private def loop(traced: Boolean): Seq[OpRecord] = {
    val warm = phase("warm-up")(w.warmup().map(runOp(_, deck = 0)))
    val timed = mutable.ArrayBuffer.empty[OpRecord]
    val minDecks = if (traced) 2 else 1
    var deckNo = 0
    val start = System.nanoTime()
    def more = (System.nanoTime() - start) / 1e9 < seconds || deckNo < minDecks
    phase("timed decks")(while (more) {
      deckNo += 1
      env.tracer.enabled = traced && deckNo % 2 == 1
      val cache0 = cacheCounts()
      w.deck(deckNo).foreach(op => timed += runOp(op, deckNo))
      if (env.tracer.enabled) cache = cache.zip(cacheCounts().zip(cache0))
        .map { case (acc, (now, was)) => acc + now - was }
      if (deckNo == 1) {
        footprint = w.footprint()
        w.sample(env.tracer.enabled)
        sampledCounts = counts(warm ++ timed)
      }
      env.tracer.enabled = false
    })
    warm ++ timed
  }

  /** ManifestCache hits, misses and revalidations, and the manifest
    * materializer's total wait. */
  private def cacheCounts(): Seq[Long] = Seq(ManifestCache.hits.get,
    ManifestCache.misses.get, ManifestCache.revalidations.get,
    GraftFormat.MaterializeMetrics.totalWaitNanos.get)
  private var cache = Seq(0L, 0L, 0L, 0L)

  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] ${w.name} $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def run(traced: Boolean): RunResult = {
    phase("prepare")(w.prepare())
    if (traced) {
      listener = new OpListener
      spark.sparkContext.addSparkListener(listener)
    }
    // the last set-up is traced: its writes count toward write_rows_per_s
    val setups = (0 until SetupReps).map { r =>
      env.tracer.enabled = traced && r == SetupReps - 1
      try phase(s"setup $r")(time(w.setup(r))) finally env.tracer.enabled = false
    }
    w.adopt(SetupReps - 1, SetupReps)
    val sizes = sizesNow()
    val recs = loop(traced)
    val kept = recs.filterNot(_.traced)
    val own = w.ownMetrics(traced)
    if (!traced) RunResult(attempted, failures.size, failures.toSeq,
      endToEnd(kept, setups) ++ own, sizes, sampledCounts)
    else {
      org.apache.spark.sql.GraftShim.drainListenerBus(spark)
      val Seq(hits, misses, revalidations, waitNs) = cache
      RunResult(attempted, failures.size, failures.toSeq,
        endToEnd(kept, setups).map(e => e.copy(name = s"untraced.${e.name}")) ++
          layers(recs.filter(_.traced)) ++ Seq(
            Metric("format.cache_hit_ratio",
              hits.toDouble / math.max(1L, hits + misses + revalidations), "ratio"),
            Metric("format.materialize_wait_ms", waitNs / 1e6, "ms"),
            Metric("trace.overhead_frac", overhead(recs), "ratio")) ++ own,
        sizes, sampledCounts)
    }
  }

  /** Traced over untraced latency, per op kind (medians), weighted by
    * the traced op count of each kind; minus one. */
  private def overhead(recs: Seq[OpRecord]): Double = {
    val timed = recs.filterNot(_.warm)
    val ratios = timed.groupBy(_.kind).values.flatMap { rs =>
      val (t, u) = rs.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((t.size, Stats.median(t.map(_.ms)) / Stats.median(u.map(_.ms))))
    }
    val n = ratios.map(_._1).sum
    if (n == 0) 0.0 else ratios.map { case (k, x) => k * x }.sum / n - 1.0
  }

  /** Rows, bytes, fragments and version of each table after set-up. */
  private def sizesNow(): Seq[(String, Any)] = w.tables.map { d =>
    val m = GraftFormat.readLatest(env.fs, d).get
    d.getName -> Json.Raw(Json.obj(Seq("rows" -> m.liveRows,
      "bytes" -> env.bytesUnder(d), "fragments" -> m.fragments.size,
      "version" -> m.version)))
  }

  private def endToEnd(recs: Seq[OpRecord], setups: Seq[Double]): Seq[Metric] = {
    val timed = recs.filterNot(_.warm)
    val ms = timed.map(_.ms)
    val (tail, pct, n) = Stats.tail(ms)
    def p50(cls: String): Seq[Metric] = {
      val xs = timed.filter(_.cls == cls).map(_.ms)
      if (xs.isEmpty) Nil else Seq(Metric(s"${cls}_p50_ms", Stats.median(xs), "ms"))
    }
    val (bytes, rows) = footprint
    Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      // the median over decks: one deck disturbed by a pause or a busy
      // neighbour moves it less than a mean over all ops would move
      Metric("ops_per_s", Stats.median(timed.groupBy(_.deck).values.toSeq.map(d =>
        1000.0 * d.size / math.max(1e-9, d.map(_.ms).sum))), "1/s"),
      Metric("op_p50_ms", Stats.median(ms), "ms"),
      Metric("op_tail_ms", tail, "ms"),
      Metric("op_tail_pct", pct, "%"),
      Metric("op_count", n.toDouble, "count")) ++
      p50("read") ++ p50("write") ++ p50("maint") ++ p50("probe") ++
      timed.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
        Metric(s"kind.${k}_p50_ms", Stats.median(rs.map(_.ms)), "ms")
      } ++ Seq(
      Metric("bytes_per_live_row", bytes.toDouble / math.max(1L, rows), "bytes"),
      Metric("failed_frac", failures.size.toDouble / math.max(1, attempted), "ratio"),
      Metric("rss_peak_mb", Stamps.rssPeakMb(), "MB"))
  }

  /** Per-layer metrics of the traced pass: self time per module, the
    * layer calls' own times and counts, and the listener's view. */
  private def layers(timed: Seq[OpRecord]): Seq[Metric] = {
    val ids = timed.map(_.id).toSet
    val n = math.max(1, timed.size).toDouble
    val spans = env.tracer.all
    val opSpans = spans.filter(s => ids(s.op))
    val self = Trace.selfNsByModule(opSpans)
    val modules = Seq("bench", "catalog", "connector", "format", "ops", "plans",
      "operators", "streaming")
    def meanMs(name: String, ss: Seq[Span]) =
      Stats.mean(ss.filter(_.name == name).map(_.durNs / 1e6))
    val scans = env.scanStats.toSeq
    // fragmentsPlanned counts the fragments a scan kept, fragmentsPruned
    // the ones its zone maps or index dropped
    val planned = scans.map(_.planned).sum
    val pruned = scans.map(_.pruned).sum
    val tables = w.tables.map(d => GraftFormat.readLatest(env.fs, d).get)
    val stats = timed.map(r => listener.of(r.id))
    val wallMs = timed.map(_.ms).sum
    modules.map(m => Metric(s"trace.self_ms.$m", self.getOrElse(m, 0L) / 1e6 / n, "ms")) ++
      Seq(
        Metric("catalog.load_table_ms", meanMs("catalog.loadTable", opSpans), "ms"),
        Metric("format.manifest_load_ms",
          meanMs("format.readLatest", spans.filter(_.op < 0)), "ms"),
        Metric("format.manifest_bytes", w.tables.map(d =>
          env.bytesUnder(GraftFormat.versionsDir(d))).sum.toDouble, "bytes"),
        Metric("format.fragments", tables.map(_.fragments.size).sum.toDouble, "count"),
        Metric("format.versions", w.tables.map(d =>
          GraftFormat.listVersions(env.fs, d).size).sum.toDouble, "count"),
        Metric("connector.plan_ms", meanMs("connector.plan", opSpans), "ms"),
        Metric("connector.scan_tasks",
          Stats.mean(scans.map(_.tasks.toDouble)), "count"),
        Metric("connector.fragments_pruned_ratio",
          if (planned + pruned == 0) 0.0 else pruned.toDouble / (planned + pruned), "ratio"),
        Metric("connector.dv_rows_skipped",
          Stats.mean(scans.map(_.dvSkipped.toDouble)), "rows"),
        Metric("connector.write_rows_per_s",
          env.writeRows / math.max(1e-9, env.writeNs / 1e9), "rows/s"),
        Metric("spark.jobs_per_op", stats.map(_.jobs).sum / n, "count"),
        Metric("spark.tasks_per_op", stats.map(_.tasks).sum / n, "count"),
        Metric("spark.shuffle_bytes_per_op", stats.map(_.shuffleBytes).sum / n, "bytes"),
        Metric("spark.spill_bytes", stats.map(_.spillBytes).sum.toDouble, "bytes"),
        Metric("spark.task_skew", listener.taskSkew, "ratio"),
        Metric("spark.busy_frac",
          stats.map(_.taskMs).sum / math.max(1e-9, wallMs * env.cpus), "ratio"),
        Metric("spark.driver_gap_ms",
          timed.map(r => listener.driverGapMs(r.id, r.t0Ms, r.t1Ms)).sum / n, "ms"))
  }

  /** Counts that repeat exactly for one seed, taken after the warm-up
    * and the first timed deck (`recs`). */
  private def counts(recs: Seq[OpRecord]): Seq[(String, Any)] = {
    val tables = w.tables.map(d => GraftFormat.readLatest(env.fs, d).get)
    Seq(
      "ops" -> recs.size,
      "op_kinds" -> recs.map(_.kind).mkString(","),
      "fragments" -> tables.map(_.fragments.size).sum,
      "manifest_bytes" -> w.tables.map(d => env.bytesUnder(GraftFormat.versionsDir(d))).sum,
      "live_rows" -> tables.map(_.liveRows).sum,
      "scan_tasks" -> env.scanStats.map(_.tasks).sum) ++ w.counts()
  }
}

/** Environment stamps: what else ran on the machine, and with what. */
object Stamps {
  final case class Probe(load1: Double, otherJvms: Int, unreadable: Int)

  def probe(): Probe = {
    val self = ProcessHandle.current().pid()
    var jvms = 0; var unreadable = 0
    ProcessHandle.allProcesses().iterator().asScala.filter(_.pid != self).foreach { p =>
      val cmd = p.info().command()
      if (!cmd.isPresent) unreadable += 1
      else if (new java.io.File(cmd.get).getName == "java") jvms += 1
    }
    Probe(java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage, jvms, unreadable)
  }

  def fields(start: Probe, end: Probe, cpus: Int, seed: Long): Seq[(String, Any)] = Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
    "local_cores" -> cpus,
    "load1_start" -> start.load1, "load1_end" -> end.load1,
    "other_jvms_start" -> start.otherJvms, "other_jvms_end" -> end.otherJvms,
    "unreadable_procs" -> end.unreadable,
    "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
    "source_sha" -> sys.env.getOrElse("PERFBENCH_SOURCE_SHA", "unknown"),
    "seed" -> seed)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)).getOrElse(0.0)
}
