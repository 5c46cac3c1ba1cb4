package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Content digest of a committed KG: the nodes' count and row-hash sum,
  * then per predicate the edges' count and row-hash sum (first 8 hex
  * digits of md5 over the U+0001-joined row, as the q_kg_edges gate
  * digests edges). Order-free, so it is independent of partitioning and
  * parallelism; any changed row changes it. */
object Digest {

  private def h(cols: Column*) =
    conv(substring(md5(concat_ws("\u0001", cols: _*)), 1, 8), 16, 10)
      .cast("long")

  private type Column = org.apache.spark.sql.Column

  def of(nodes: DataFrame, edges: DataFrame): String = {
    val n = nodes.select(h(col("node_id"), col("canonical"), col("type"),
        concat_ws("|", col("aliases")), col("n_mentions").cast("string"))
        .as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0L))).head()
    val e = edges.select(col("pred"), h(col("src_id"), col("pred"),
        col("dst_id"), col("conv_id"), col("turn_idx").cast("string")).as("h"))
      .groupBy("pred").agg(count(lit(1)), sum("h"))
      .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}:${r.getLong(2)}")
      .sorted
    (s"nodes:${n.getLong(0)}:${n.getLong(1)}" +: e).mkString("|")
  }

  /** Short form for records: node count, edge count, md5 of the digest. */
  def short(d: String): String = {
    val parts = d.split('|')
    val nodes = parts.head.split(':')(1)
    val edges = parts.tail.map(_.split(':')(1).toLong).sum
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"$nodes/$edges/${md.take(16)}"
  }
}
