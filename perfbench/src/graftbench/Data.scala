package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (seed, row
  * id, column tag), so one seed always yields the same inputs. Shapes
  * follow the sf0.1 TPC-H `lineitem`, `documents` and `embeddings`
  * tables. */
object Data {

  private def h(seed: Long, tag: Int, cols: Column*): Column =
    xxhash64((cols :+ lit(seed) :+ lit(tag)): _*)

  /** Order keys of wave `w` start at this offset, so waves never share a
    * key and an equality delete written before wave `w` cannot reach it. */
  def waveBase(w: Int): Long = w * 10000000L

  /** `n` lineitem rows of wave `w`, in orders of 7 lines. */
  def lineitem(spark: SparkSession, seed: Long, w: Int, n: Long): DataFrame = {
    val id = col("id")
    def u(tag: Int, m: Int) = pmod(h(seed, tag, id, lit(w)), lit(m.toLong))
    spark.range(n).select(
      (lit(waveBase(w)) + floor(id / 7) + 1).as("l_orderkey"),
      (u(1, 20000) + 1).as("l_partkey"),
      (u(2, 1000) + 1).as("l_suppkey"),
      (id % 7 + 1).cast("int").as("l_linenumber"),
      (u(3, 50) + 1).cast("double").as("l_quantity"),
      round((u(3, 50) + 1) * (lit(900.0) + u(4, 100000) / 100.0), 2).as("l_extendedprice"),
      (u(5, 11) / 100.0).as("l_discount"),
      (u(6, 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (u(7, 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (u(8, 2) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + u(9, 2500) * 86400L).as("l_shipdate"))
  }

  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** `n` documents of 8..97 words drawn from the sf0.1 corpus vocabulary. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val vocab = Vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    spark.range(n).select(col("id").as("doc_id"))
      .withColumn("_nw", pmod(h(seed, 20, col("doc_id")), lit(90L)) + 8)
      .withColumn("text", expr(
        s"array_join(transform(sequence(0, cast(_nw as int) - 1), " +
          s"i -> element_at($vocab, cast(pmod(xxhash64(doc_id, i, ${seed}L), 30) as int) + 1)), ' ')"))
      .select("doc_id", "text")
  }

  /** The `curate_corpus` construction over `base`: exact copies of every
    * 10th document, near copies of every 20th, truncated junk of every
    * 25th; every 50th document is held out as the decontamination bench. */
  def corpus(base: DataFrame): (DataFrame, DataFrame) = {
    val kept = base.where(col("doc_id") % 50 =!= 0)
    val c = kept
      .unionByName(kept.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(kept.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" zz qq xx")).as("text")))
      .unionByName(kept.where(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          substring(col("text"), 1, 20).as("text")))
    (c, base.where(col("doc_id") % 50 === 0))
  }

  val Dim = 64

  /** `n` 64-d float embeddings around 32 label centroids. */
  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"))
      .withColumn("label", pmod(h(seed, 30, col("vec_id")), lit(32L)).cast("int"))
      .withColumn("embedding", expr(
        s"transform(sequence(0, ${Dim - 1}), j -> cast(" +
          s"(pmod(xxhash64(label, j, ${seed}L), 2001) - 1000) / 1000.0 * 0.3 + " +
          s"(pmod(xxhash64(vec_id, j, ${seed}L, 31), 2001) - 1000) / 1000.0 * 0.15 as float))"))
      .select("vec_id", "embedding", "label")
}
