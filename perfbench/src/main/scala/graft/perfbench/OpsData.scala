package graft.perfbench

import org.apache.spark.sql.Row

/** The input tables of the ops_mix operators: the repository's seed-42
  * sf0.01 fixture tables customer (1500 rows), documents (500) and
  * embeddings (500), copied as parquet into `perfbench/data/sf0.01`.
  * The tables are fixed, so each operator's output is fixed too: its
  * row count and order-insensitive hash are recorded in [[expected]].
  */
object OpsData {
  val Customers = 1500
  val Documents = 500
  val Embeddings = 500

  val keys: Seq[String] = Seq(
    "graph_pagerank", "graph_connected_components", "dedup_cluster_canonical",
    "sim_knn_graph", "mm_png_decode", "mm_gif_anim_decode", "text_bigram_logprob")

  /** Rows and order-insensitive hash ([[hash]]) of each key's output on
    * these tables, recorded from the program at the commit that added
    * the benchmark.
    */
  val expected: Map[String, (Long, String)] = Map(
    "graph_pagerank" -> (500L, "000000ec0bb7a47e"),
    "graph_connected_components" -> (1500L, "000002f7589d1757"),
    "dedup_cluster_canonical" -> (47L, "00000018c528df3b"),
    "sim_knn_graph" -> (1500L, "000002eb1a152fc2"),
    "mm_png_decode" -> (167L, "000000534fba2425"),
    "mm_gif_anim_decode" -> (585L, "0000011ed37167f6"),
    "text_bigram_logprob" -> (500L, "000000f86a650c3c"))

  /** Input rows the mix reads per pass: customers, documents and
    * embeddings (each read by at least one key).
    */
  val inputRows: Long = Customers.toLong + Documents + Embeddings

  /** Order-insensitive hash of collected rows: the sum of per-row
    * MurmurHash3 values, as 16 hex digits.
    */
  def hash(rows: Array[Row]): String = {
    var h = 0L
    rows.foreach(r => h += (scala.util.hashing.MurmurHash3.stringHash(r.mkString("\u0001")).toLong & 0xffffffffL))
    f"$h%016x"
  }
}
