package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.ops.{IndexSegments, MinhashStore, ScalarIndex, TextIndex, VectorIndex}
import graft.operators.TextOps

/** Index-served operations. Set-up writes a document corpus with seeded
  * near-duplicate variants (four round-robin fragments, so zone maps
  * cannot prune doc_id) and clustered embeddings, then builds a scalar
  * index on doc_id, a text index, an IVF index and a minhash store. The
  * loop runs ANN top-10 (index rewrite on), scalar-index lookups, text
  * search, minhash near-dup probes of fresh seeded batches, and appends
  * each followed by its O(delta) index refreshes. Oracles: a driver-side
  * copy of both tables — exact cosine top-10, exact BM25, the seeded
  * cluster of every document. */
final class IndexDedup(env: Env, docs: Long, variants: Long, vectors: Long)
    extends Workload(env) {
  val name = "index_dedup"
  import IndexDedup._

  private var corpus: DataFrame = _
  private var embs: DataFrame = _
  // driver-side copies: doc_id → (tokens, n_chars, cluster); vectors
  private var baseDocs: Map[Long, Doc] = _
  private var docModel: mutable.LongMap[Doc] = _
  private var baseVecs: Seq[(Long, Array[Float])] = _
  private val vecIds = mutable.ArrayBuffer.empty[Long]
  private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  private var queries: Seq[Array[Float]] = Nil
  private var rep = 0

  private def docsDir = env.tableDir(s"docs_$rep")
  private def embDir = env.tableDir(s"emb_$rep")
  private def storeRoot(rep: Int) = new Path(env.warehouse, s"minhash_$rep").toString

  // results gathered over the run
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var annOps = 0
  private var annRewritten = 0
  private var dupPairs = 0L

  def prepare(): Unit = {
    corpus = writeInput("documents", Inputs.corpus(spark, env.seed, docs, variants))
    embs = writeInput("embeddings", Inputs.embeddings(spark, env.seed, 0, vectors))
    baseDocs = corpus.collect().iterator.map(r => r.getLong(0) -> doc(r)).toMap
    baseVecs = embs.collect().toSeq.map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray)
    val r = rng(-1)
    queries = Seq.fill(3)(query(r))
  }

  def setup(rep: Int): Unit = {
    corpus.createOrReplaceTempView("ix_docs")
    env.sql("connector.write", s"CREATE TABLE graft.db.docs_$rep AS " +
      "SELECT * FROM ix_docs WHERE doc_id % 4 = 0", (docs + variants) / 4)
    (1 until 4).foreach { i =>
      env.sql("connector.write", s"INSERT INTO graft.db.docs_$rep " +
        s"SELECT * FROM ix_docs WHERE doc_id % 4 = $i", (docs + variants) / 4)
    }
    embs.createOrReplaceTempView("ix_emb")
    env.sql("connector.write", s"CREATE TABLE graft.db.emb_$rep AS SELECT * FROM ix_emb",
      vectors)
    val d = env.tableDir(s"docs_$rep")
    val e = env.tableDir(s"emb_$rep")
    val docsFrame = env.frame(env.loadTable(s"docs_$rep"))
    // one build after another, so each span holds that build's own cost
    def build(kind: String)(body: => Any): Unit =
      env.tracer.span("ops", s"ops.build.$kind")(body)
    build("scalar")(ScalarIndex.build(spark, d, "doc_id"))
    build("text")(TextIndex.build(spark, d, "doc_id", "text"))
    build("ivf")(VectorIndex.Ivf.build(spark, e, "vec_id", "embedding"))
    build("minhash")(MinhashStore.build(TextOps.minhashIndex(docsFrame), storeRoot(rep)))
  }

  def adopt(rep: Int, reps: Int): Unit = {
    this.rep = rep
    (0 until reps).filter(_ != rep).foreach { r =>
      dropTable(s"docs_$r"); dropTable(s"emb_$r")
      env.fs.delete(new Path(storeRoot(r)), true)
    }
    docModel = mutable.LongMap.from(baseDocs)
    vecIds.clear(); vecs.clear()
    baseVecs.foreach { case (id, v) => vecIds += id; vecs += v }
    recalls.clear(); annOps = 0; annRewritten = 0; dupPairs = 0
  }

  def tables: Seq[Path] = Seq(docsDir, embDir)

  override def footprint(): (Long, Long) = {
    val (bytes, rows) = super.footprint()
    (bytes + env.bytesUnder(new Path(storeRoot(rep))), rows)
  }

  private def ann(q: Array[Float]): OpSpec = OpSpec("ann_top10", "probe", () => {
    val df = env.frame(env.loadTable(s"emb_$rep"))
      .orderBy(VectorFunctions.cosine_sim(col("embedding"), typedlit(q.toSeq)).desc)
      .limit(10).select("vec_id")
    val rows = env.collect(df, planModule = "plans")
    Outcome { () =>
      annOps += 1
      if (df.queryExecution.optimizedPlan.exists {
        case j: Join => j.joinType == LeftSemi
        case _ => false
      }) annRewritten += 1
      val got = rows.map(_.getLong(0)).toSet
      val exact = exactTop10(q)
      val recall = (got intersect exact).size / 10.0
      recalls += recall
      if (rows.length != 10 || recall < MinRecall)
        Some(s"ANN returned ${rows.length} rows with recall $recall")
      else None
    }
  })

  private def exactTop10(q: Array[Float]): Set[Long] = {
    val scored = vecs.indices.map { i =>
      val v = vecs(i)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < v.length) {
        val x = v(j).toDouble; val y = q(j).toDouble
        dot += x * y; na += x * x; nb += y * y; j += 1
      }
      (dot / (math.sqrt(na) * math.sqrt(nb)), vecIds(i))
    }
    scored.sortBy(s => (-s._1, s._2)).take(10).map(_._2).toSet
  }

  private def lookup(ids: Seq[Long]): OpSpec = OpSpec("scalar_lookup", "read", () => {
    val rows = env.collect(env.frame(env.loadTable(s"docs_$rep"))
      .where(col("doc_id").isin(ids: _*)).select("doc_id", "n_chars").orderBy("doc_id"))
    Outcome(() => Check.rows(rows.toSeq,
      ids.sorted.flatMap(id => docModel.get(id).map(d => Seq(id, d.chars)))))
  })

  private def textSearch(terms: Seq[String]): OpSpec = OpSpec("text_search", "probe", () => {
    val rows = env.tracer.span("ops", "ops.text_search") {
      env.collect(TextIndex.searchCurrent(spark, docsDir, "text", terms, 10).get, "ops")
    }
    Outcome { () =>
      val want = bm25Top10(terms)
      val scores = bm25(terms)
      val ok = rows.length == want.size && rows.zip(want).forall { case (g, (_, s)) =>
        math.abs(g.getDouble(1) - s) <= 2e-4 &&
          math.abs(scores.getOrElse(g.getLong(0), -1.0) - g.getDouble(1)) <= 2e-4
      }
      if (ok) None
      else Some(s"BM25 ${rows.take(3).mkString(",")} vs ${want.take(3).mkString(",")}")
    }
  })

  private def bm25(terms: Seq[String]): Map[Long, Double] = {
    val n = docModel.size.toDouble
    val avgdl = docModel.valuesIterator.map(_.tokens.length).sum / n
    val df = terms.map(t => t -> docModel.valuesIterator.count(_.tokens.contains(t))).toMap
    docModel.iterator.flatMap { case (id, d) =>
      val s = terms.map { t =>
        val tf = d.tokens.count(_ == t).toDouble
        if (tf == 0) 0.0
        else math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0) * tf * (K1 + 1.0) /
          (tf + K1 * (1 - B + B * d.tokens.length / avgdl))
      }.sum
      if (d.tokens.exists(terms.contains)) Some(id -> s) else None
    }.toMap
  }

  private def bm25Top10(terms: Seq[String]): Seq[(Long, Double)] =
    bm25(terms).toSeq.map { case (id, s) => (id, math.round(s * 1e4) / 1e4) }
      .sortBy { case (id, s) => (-s, id) }.take(10)

  private def dedupProbe(batch: Seq[Row]): OpSpec = OpSpec("dedup_probe", "probe", () => {
    val rows = env.tracer.span("operators", "operators.dedup_probe") {
      TextOps.incrementalNearDupsIndexed(local(batch.map(r => Row(r.getLong(0),
        r.getString(1))), "doc_id LONG, text STRING"), storeRoot(rep)).collect()
    }
    Outcome { () =>
      dupPairs += rows.length
      val cluster = batch.map(r => r.getLong(0) -> r.getLong(3)).toMap
      def clusterOf(id: Long) = cluster.getOrElse(id, docModel(id).cluster)
      val planted = batch.map(_.getLong(0)).filter(_ % 2 == 0).toSet
      val found = rows.map(_.getLong(0)).toSet
      val wrong = rows.filter(r => clusterOf(r.getLong(0)) != clusterOf(r.getLong(1)))
      if (found != planted) Some(s"near-dups ${found.size} of ${planted.size} planted, " +
        s"extra ${(found -- planted).take(3)}, missed ${(planted -- found).take(3)}")
      else if (wrong.nonEmpty) Some(s"near-dup outside its cluster: ${wrong.head}")
      else None
    }
  })

  private def local(rows: Seq[Row], schema: String): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType.fromDDL(schema))

  private def appendDocs(rows: Seq[Row]): Seq[OpSpec] = Seq(
    OpSpec("append_docs", "write", () => {
      local(rows, DocSchema).createOrReplaceTempView("ix_new_docs")
      env.sql("connector.write", s"INSERT INTO graft.db.docs_$rep " +
        "SELECT * FROM ix_new_docs", rows.size)
      Outcome { () => rows.foreach(r => docModel(r.getLong(0)) = doc(r)); None }
    }),
    OpSpec("refresh_scalar", "maint", () => {
      env.tracer.span("ops", "ops.refresh.scalar")(ScalarIndex.refresh(spark, docsDir, "doc_id"))
      Outcome.ok
    }),
    OpSpec("refresh_text", "maint", () => {
      env.tracer.span("ops", "ops.refresh.text") {
        TextIndex.refresh(spark, docsDir, "doc_id", "text")
      }
      Outcome.ok
    }),
    OpSpec("refresh_minhash", "maint", () => {
      env.tracer.span("ops", "ops.refresh.minhash") {
        val sigs = env.tracer.span("operators", "operators.minhash_sig") {
          val s = TextOps.minhashIndex(local(rows.map(r => Row(r.getLong(0), r.getString(1))),
            "doc_id LONG, text STRING")).cache()
          s.count()
          s
        }
        try MinhashStore.append(sigs, storeRoot(rep)) finally sigs.unpersist()
      }
      Outcome.ok
    }))

  private def appendVectors(rows: Seq[Row]): Seq[OpSpec] = Seq(
    OpSpec("append_vectors", "write", () => {
      local(rows, "vec_id LONG, embedding ARRAY<FLOAT>").createOrReplaceTempView("ix_new_emb")
      env.sql("connector.write", s"INSERT INTO graft.db.emb_$rep SELECT * FROM ix_new_emb",
        rows.size)
      Outcome { () =>
        rows.foreach { r => vecIds += r.getLong(0); vecs += r.getSeq[Float](1).toArray }
        None
      }
    }),
    OpSpec("refresh_ivf", "maint", () => {
      env.tracer.span("ops", "ops.refresh.ivf") {
        VectorIndex.Ivf.refresh(spark, embDir, "vec_id", "embedding")
      }
      Outcome.ok
    }))

  /** A fresh query: a seeded corpus vector plus noise, so every ANN op
    * plans anew (no cached survivor counts) whatever the seed. */
  private def query(r: scala.util.Random): Array[Float] =
    baseVecs(r.nextInt(baseVecs.size))._2.map(x => (x + 0.05 * r.nextGaussian()).toFloat)

  private lazy val probePool = new BatchPool(ProbeRows)((from, until) =>
    Inputs.probeBatch(spark, env.seed, docs, ProbeBase + from, until - from))
  private lazy val docPool = new BatchPool(AppendDocs)((from, until) =>
    Inputs.freshDocs(spark, env.seed, FreshBase + from, FreshBase + until))
  private lazy val vecPool = new BatchPool(AppendVectors)((from, until) =>
    Inputs.embeddings(spark, env.seed, vectors + from, vectors + until))

  /** One op of each probe and read kind; the writes and refreshes are
    * warmed by set-up's writes and index builds. */
  override def warmup(): Seq[OpSpec] = {
    val r = rng(0)
    Seq(ann(query(r)), lookup(Seq(docModel.keys.min)), textSearch(Seq("w1", "w2")),
      dedupProbe(probePool(0)))
  }

  def deck(k: Int): Seq[OpSpec] = {
    val r = rng(k)
    val ids = docModel.keys.toIndexedSeq.sorted
    def look() = lookup(Seq.fill(3)(ids(r.nextInt(ids.size))).distinct)
    def text() = textSearch(Seq.fill(3)(s"w${r.nextInt(Inputs.Vocab)}").distinct)
    // 25 ops, 13 of them lookups: the median op is a lookup with two
    // lookups on either side, so op_p50_ms does not sit on a cluster edge
    Seq(ann(query(r)), look(), look(), text(), look(), look(), dedupProbe(probePool(k)),
      look(), ann(query(r)), look(), look()) ++ appendDocs(docPool(k)) ++
      Seq(look(), text(), look(), look(), ann(query(r))) ++ appendVectors(vecPool(k)) ++
      Seq(look(), look(), look())
  }

  private def segments(root: Path, table: Path): Long = {
    val v = graft.format.GraftFormat.latestVersion(env.fs, table).get
    IndexSegments.read(env.fs, new Path(root, s"v=$v")).map(_.segments.size.toLong)
      .getOrElse(0L)
  }

  def ownMetrics(traced: Boolean): Seq[Metric] = {
    val recall = Seq(Metric("ann_recall_at_10", Stats.mean(recalls.toSeq), "ratio"))
    if (!traced) recall else recall ++ Seq(
      Metric("plans.ann_rewrite_rate", annRewritten.toDouble / math.max(1, annOps), "ratio"),
      annSpeedup(),
      Metric("operators.dup_pairs", dupPairs.toDouble, "count"),
      spanMedian("operators.minhash_sig", "operators.minhash_sig_ms"),
      spanMedian("operators.dedup_probe", "operators.dedup_probe_ms"),
      Metric("ops.index_bytes", (env.bytesUnder(new Path(docsDir, "_indices")) +
        env.bytesUnder(new Path(embDir, "_indices")) +
        env.bytesUnder(new Path(storeRoot(rep)))).toDouble, "bytes"),
      Metric("ops.segments.scalar", segments(ScalarIndex.indexRoot(docsDir, "doc_id"),
        docsDir).toDouble, "count"),
      Metric("ops.segments.text", segments(TextIndex.indexRoot(docsDir, "text"),
        docsDir).toDouble, "count"),
      Metric("ops.segments.ivf", segments(VectorIndex.Ivf.root(embDir, "embedding"),
        embDir).toDouble, "count"),
      Metric("ops.segments.minhash",
        MinhashStore.meta(spark, storeRoot(rep)).segments.size.toDouble, "count")) ++
      IndexKinds.flatMap { kind =>
        // the last set-up is the traced one: one build span per kind
        val build = spanMedian(s"ops.build.$kind", s"ops.build_ms.$kind")
        val refresh = spanMedian(s"ops.refresh.$kind", s"ops.refresh_ms.$kind")
        Seq(build, refresh,
          Metric(s"ops.refresh_build_ratio.$kind", refresh.value / build.value, "ratio"))
      }
  }

  /** Exact-scan time over index-probe time for the same top-10 queries. */
  private def annSpeedup(): Metric = {
    def time(q: Array[Float]): Double = {
      val t0 = System.nanoTime()
      env.frame(env.loadTable(s"emb_$rep"))
        .orderBy(VectorFunctions.cosine_sim(col("embedding"), typedlit(q.toSeq)).desc)
        .limit(10).select("vec_id").collect()
      (System.nanoTime() - t0) / 1e6
    }
    val pairs = queries.flatMap(q => (0 until 2).map { _ =>
      val probe = time(q)
      spark.conf.set("spark.graft.ann.indexRewrite", "false")
      try (time(q), probe) finally spark.conf.set("spark.graft.ann.indexRewrite", "true")
    })
    Metric("plans.ann_speedup_vs_bruteforce",
      Stats.median(pairs.map(_._1)) / Stats.median(pairs.map(_._2)), "ratio")
  }

  override def counts(): Seq[(String, Any)] = super.counts() :+ ("dup_pairs" -> dupPairs)
}

object IndexDedup {
  final case class Doc(tokens: Array[String], chars: Long, cluster: Long)
  def doc(r: Row): Doc = Doc(r.getString(1).split("\\s+").filter(_.nonEmpty),
    r.getLong(2), r.getLong(3))

  val IndexKinds = Seq("scalar", "text", "ivf", "minhash")
  val DocSchema = "doc_id LONG, text STRING, n_chars LONG, cluster LONG"
  val MinRecall = 0.5
  val ProbeRows = 40L
  val ProbeBase = 3000000000L
  val FreshBase = 2000000000L
  val AppendDocs = 30L
  val AppendVectors = 300L
  val K1 = 1.2
  val B = 0.75
}
