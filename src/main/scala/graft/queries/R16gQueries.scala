package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.GraphOps

/** Round-16g: k-core decomposition over the REAL-pixel near-dup graph —
  * the dense-cluster extractor (template farms / spam rings are exactly
  * the high-k cores of a near-duplicate graph).  Edges are the SHARED
  * near-dup pair layout ([[Tables.nearDupPairs]] — landed once per (JVM,
  * dir), same discipline as the graph tier's coEdges; r16 derived the
  * codec+pair graph inline here, which made this the bench's most
  * expensive query).  With the r18 64-bit per-pixel hash the pair graph
  * has TRUE near-dup sparsity (Hamming ≤ 3 of 64 ≈ re-encodes of the
  * same raster), so k is the fixed dup-clique threshold 2 — the core is
  * "clusters of ≥3 mutually-near-duplicate documents", the template-farm
  * shape; k no longer scales with corpus size because a selective
  * fingerprint's degree tracks farm density, not n (the old n/125 rule
  * was calibrated to the saturating 16-bit hash, whose degree DID grow
  * with n — the very defect r18 removed).  The peel loop early-exits at
  * its fixpoint, and the oracle replays a FIXED 16 rounds — peeling is
  * monotone, so post-fixpoint rounds are no-ops and the two agree
  * hash-exactly (the generated-CTE discipline of ml_kmeans_lloyd). */
object R16gQueries extends QuerySet {

  private val MaxRounds = 16
  private val K = 2

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_kcore" -> ((s, dir) =>
      GraphOps.kCore(Tables.nearDupPairs(s, dir), col("doc_a"),
        col("doc_b"), K, maxRounds = MaxRounds))
  )

  def oracles: Map[String, String] = Map(
    "graph_kcore" -> {
      // every e_i is referenced 3× by round i+1: AS MATERIALIZED stops
      // DuckDB from inlining the chain (3^16 expansions otherwise)
      val rounds = (1 to MaxRounds).map { i =>
        s"""k$i AS MATERIALIZED (SELECT a FROM e${i - 1} GROUP BY a
           |  HAVING count(*) >= (SELECT kk FROM kv)),
           |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
           |  JOIN k$i x ON e.a = x.a JOIN k$i y ON e.b = y.a)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${R16bQueries.RealAHash64Sql},
         |p AS MATERIALIZED (
         |  SELECT x.doc_id AS da, y.doc_id AS db
         |  FROM a x JOIN a y ON x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.ahash, y.ahash)) <= 3),
         |kv AS MATERIALIZED (SELECT $K AS kk),
         |e0 AS MATERIALIZED (SELECT da AS a, db AS b FROM p
         |       UNION SELECT db, da FROM p),
         |$rounds
         |SELECT a AS v, count(*)::BIGINT AS degree
         |FROM e$MaxRounds GROUP BY 1""".stripMargin
    }
  )
}
