package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.MultimodalOps

/** Round-12i queries: the TPC-H q5 star join and frame-level multimodal
  * near-dup pairs.
  */
object R12iQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q5 local-supplier revenue: the canonical star join — region →
    // nation → supplier broadcast down the dimension chain, lineitem ⋈
    // orders shuffled on the order key, customer shuffled on custkey,
    // exact cent-milli revenue per nation
    "tpch_q5" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1997-01-01").cast("timestamp")
      val r = s.read.parquet(s"$dir/region.parquet")
        .where(col("r_name") === "ASIA")
      val n = s.read.parquet(s"$dir/nation.parquet")
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select("c_custkey", "c_nationkey")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey")
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(1000L) - round(col("l_discount") * 1000).cast("long")))
            .as("rev_cm"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .where(col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg((sum("rev_cm").cast("double") / 1e5).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // Frame-level multimodal near-dup: documents sharing >= 2 identical
    // sampled frames — exact-equality join on the frame hash, per-doc
    // distinct frames first so repeated in-doc content cannot inflate the
    // share count; empty-window frames excluded
    "mm_frame_dedup" -> ((s, dir) => {
      val fr = MultimodalOps.frameSample(Tables.docs(s, dir), col("text"),
          col("doc_id"), n = 8, width = 32)
        .where(col("frame_hash") =!= md5(lit("")))
        .select("doc_id", "frame_hash").distinct()
      fr.as("a")
        .join(fr.as("b"),
          col("a.frame_hash") === col("b.frame_hash") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_frames"))
        .where(col("shared_frames") >= 2)
    })
  )

  def oracles: Map[String, String] = Map(

    "tpch_q5" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_suppkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      (1000 - CAST(round(l_discount * 1000) AS BIGINT)) AS rev_cm
        |  FROM lineitem)
        |SELECT n.n_name,
        |  sum(l.rev_cm)::DOUBLE / 1e5 AS revenue
        |FROM l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND c.c_nationkey = s.s_nationkey
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n.n_name
        |ORDER BY revenue DESC, n.n_name""".stripMargin,

    "mm_frame_dedup" ->
      """WITH fr AS (
        |  SELECT DISTINCT doc_id,
        |    md5(substr(text, i * 32 + 1, 32)) AS frame_hash
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i)
        |  WHERE length(substr(text, i * 32 + 1, 32)) > 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*)::BIGINT AS shared_frames
        |FROM fr a JOIN fr b
        |  ON a.frame_hash = b.frame_hash AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 2""".stripMargin
  )
}
