package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generators for every benchmark input. Each value is a hash of
  * (seed, row id, column salt), so the same seed yields the same rows on
  * any partitioning, and a row range can be regenerated on its own.
  * Shapes follow the TPC-H-like tables the gate queries run on
  * (lineitem, orders) plus a text corpus and clustered embeddings. */
object Inputs {
  /** Key distance between key-shifted replicas and held-out batches. */
  val KeySpan = 100000000L
  val Dim = 64
  val Clusters = 32
  val Vocab = 300

  private def h(seed: Long, salt: Int, c: Column = col("id")): Column =
    xxhash64(lit(seed), c, lit(salt))
  private def u(seed: Long, salt: Int, n: Long, c: Column = col("id")): Column =
    pmod(h(seed, salt, c), lit(n))

  /** Lineitem rows for ids [from, until): four lines per order, keys
    * ascending with id and offset by `keyBase`, so a row range written
    * in order yields a fragment whose key zone map is narrow. */
  def lineitem(spark: SparkSession, seed: Long, from: Long, until: Long,
      keyBase: Long = 0L): DataFrame =
    spark.range(from, until).select(
      (col("id").divide(4).cast("long") + 1 + keyBase).as("l_orderkey"),
      (u(seed, 1, 20000) + 1).as("l_partkey"),
      (u(seed, 2, 1000) + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (u(seed, 3, 50) + 1).cast("double").as("l_quantity"),
      (u(seed, 4, 100000) / 100.0 + 900.0).as("unit_price"),
      (u(seed, 5, 11) / 100.0).as("l_discount"),
      (u(seed, 6, 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (u(seed, 7, 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")),
        (u(seed, 8, 2) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + u(seed, 9, 2526) * 86400L)
        .as("l_shipdate"))
      .withColumn("l_extendedprice",
        round(col("l_quantity") * col("unit_price"), 2))
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")

  /** Orders for keys 1..n (matching [[lineitem]]'s unshifted keys). */
  def orders(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(0, n).select(
      (col("id") + 1).as("o_orderkey"),
      (u(seed, 11, 15000) + 1).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (u(seed, 12, 3) + 1).cast("int")).as("o_orderstatus"),
      (u(seed, 13, 50000000) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + u(seed, 14, 2406) * 86400L)
        .as("o_orderdate"),
      element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
        lit("4-NOT SPECIFIED"), lit("5-LOW")),
        (u(seed, 15, 5) + 1).cast("int")).as("o_orderpriority"))

  /** Token `i` of a document: drawn from a small vocabulary for corpus
    * text, or from a huge one for novel text, so novel documents share
    * no shingle with anything. */
  private def tokenSql(seed: Long, key: String, novel: String): String =
    s"IF($novel, concat('x', cast(pmod(xxhash64(${seed}L, $key, i, 21), " +
      s"1000000000) AS STRING)), concat('w', cast(pmod(xxhash64(${seed}L, " +
      s"$key, i, 21), $Vocab) AS STRING)))"

  /** Documents from a spec frame (doc_id, cluster, edit, novel): a
    * document repeats its cluster's token sequence except at position
    * `edit` (and `edit + 7` when `edit2`), where it draws its own token.
    * Cluster text has 30 to 59 tokens. */
  def documents(seed: Long, spec: DataFrame): DataFrame =
    spec.withColumn("n_tok", (pmod(xxhash64(lit(seed), col("cluster"),
        lit(22)), lit(30)) + 30).cast("int"))
      .withColumn("text", expr(
        "array_join(transform(sequence(1, n_tok), i -> " +
          s"IF(i = edit OR (edit2 AND i = edit + 7), " +
          s"${tokenSql(seed, "doc_id", "novel")}, " +
          s"${tokenSql(seed, "cluster", "novel")})), ' ')"))
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n_chars"), col("cluster"))

  /** Corpus: `n` base documents (their own cluster) plus `variants`
    * near-duplicates of seeded base documents with two tokens edited. */
  def corpus(spark: SparkSession, seed: Long, n: Long, variants: Long): DataFrame = {
    val base = spark.range(0, n).select(col("id").as("doc_id"),
      col("id").as("cluster"), lit(-1).as("edit"), lit(false).as("edit2"),
      lit(false).as("novel"))
    val vars = spark.range(n, n + variants).select(col("id").as("doc_id"),
      u(seed, 23, n).as("cluster"), (u(seed, 24, 20) + 1).cast("int").as("edit"),
      lit(true).as("edit2"), lit(false).as("novel"))
    documents(seed, base.unionByName(vars))
  }

  /** A probe batch of ids [from, from + size): even ids are one-token
    * near-copies of seeded base documents (clusters < `n`), odd ids are
    * novel text. */
  def probeBatch(spark: SparkSession, seed: Long, n: Long, from: Long,
      size: Long): DataFrame = {
    val spec = spark.range(from, from + size).select(col("id").as("doc_id"),
      when(col("id") % 2 === 0, u(seed, 25, n)).otherwise(col("id")).as("cluster"),
      (u(seed, 26, 25) + 1).cast("int").as("edit"), lit(false).as("edit2"),
      (col("id") % 2 =!= 0).as("novel"))
    documents(seed, spec)
  }

  /** New base documents (fresh clusters) for ids [from, until). */
  def freshDocs(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame =
    documents(seed, spark.range(from, until).select(col("id").as("doc_id"),
      col("id").as("cluster"), lit(-1).as("edit"), lit(false).as("edit2"),
      lit(false).as("novel")))

  /** Clustered `Dim`-d embeddings for ids [from, until): each vector is
    * its cluster's centre plus seeded noise. */
  def embeddings(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame =
    spark.range(from, until)
      .withColumn("cl", u(seed, 31, Clusters))
      .select(col("id").as("vec_id"), expr(
        s"transform(sequence(0, ${Dim - 1}), i -> CAST(" +
          s"(pmod(xxhash64(${seed}L, cl, i, 32), 2000) / 1000.0 - 1.0) + " +
          s"0.35 * (pmod(xxhash64(${seed}L, id, i, 33), 2000) / 1000.0 - 1.0) " +
          "AS FLOAT))").as("embedding"))
}
