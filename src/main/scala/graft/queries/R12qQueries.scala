package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, SimilarityOps, SplitOps}

/** Round-12q queries: triplet assembly for contrastive training, the
  * split manifest card, and the nearest-duplicate distance histogram.
  */
object R12qQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // (anchor, positive, negative) triplets in one pass over the exact
    // top-10: positive = rank-0 neighbour, negatives = ranks 5..7 —
    // three triplets per anchor, self-joined on the bounded rank table
    "emb_triplets" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val nn = SimilarityOps.bruteTopK(e, col("embedding"), col("vec_id"),
        e.where(col("vec_id") < 10), col("embedding"), col("vec_id"),
        k = 10)
      val pos = nn.where(col("rank") === 0)
        .select(col("query_id").as("anchor_id"),
          col("neighbor_id").as("positive_id"))
      val neg = nn.where(col("rank") >= 5 && col("rank") < 8)
        .select(col("query_id").as("anchor_id"),
          col("neighbor_id").as("negative_id"))
      pos.join(neg, "anchor_id")
        .select("anchor_id", "positive_id", "negative_id")
    }),

    // Split manifest: per-split doc/char totals after the hash split —
    // the dataset-card numbers a release ships with
    "p3_split_manifest" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      SplitOps.withSplit(d.select("doc_id", "n_chars"), col("doc_id"),
          seed = 42L, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    }),

    // Nearest-duplicate distance histogram: per-vector best cosine among
    // its SRP-banded candidates IN THE NEAR-DUP-RELEVANT REGION
    // (cos >= 0.2), bucketed at 0.05 — the "how much near-dup mass is
    // there" gauge before choosing a semantic threshold.  The floor keeps
    // the confirmed-pair set bounded: an uncut histogram would
    // materialize EVERY banded collision (measured super-linear at 10x)
    "dd_nn_dist_hist" -> ((s, dir) => {
      // the landed 0.2-threshold pair table (Tables.embBandedPairs02):
      // both union legs scan the committed layout
      val pairs = Tables.embBandedPairs02(s, dir)
      val best = pairs.select(col("vec_a").as("v"), col("cos"))
        .unionByName(pairs.select(col("vec_b").as("v"), col("cos")))
        .groupBy("v").agg(max("cos").as("best_cos"))
      best.groupBy(floor(col("best_cos") * 20).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_vecs"))
    })
  )

  def oracles: Map[String, String] = Map(

    "emb_triplets" -> {
      val cos =
        """round(
          |      list_reduce(list_transform(list_zip(q.embedding, c.embedding),
          |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
          |      (sqrt(list_reduce(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
          |       sqrt(list_reduce(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
          |      6)""".stripMargin
      s"""WITH s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    $cos AS cos
         |  FROM embeddings c CROSS JOIN
         |    (SELECT * FROM embeddings WHERE vec_id < 10) q
         |  WHERE c.vec_id <> q.vec_id),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) - 1 AS rank FROM s),
         |pos AS (SELECT query_id AS anchor_id, neighbor_id AS positive_id
         |  FROM r WHERE rank = 0),
         |neg AS (SELECT query_id AS anchor_id, neighbor_id AS negative_id
         |  FROM r WHERE rank >= 5 AND rank < 8)
         |SELECT pos.anchor_id, pos.positive_id, neg.negative_id
         |FROM pos JOIN neg USING (anchor_id)""".stripMargin
    },

    "p3_split_manifest" -> {
      val u = graft.core.Rng.Md5.uniformSql(42L, "split", Seq("doc_id"))
      s"""WITH sp AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN u < 0.8 THEN 'train'
         |         WHEN u < 0.9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, n_chars, $u AS u FROM documents))
         |SELECT split, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS chars
         |FROM sp GROUP BY split""".stripMargin
    },

    "dd_nn_dist_hist" ->
      s"""WITH ${R12eQueries.EmbBandSql},
         |sc AS (
         |  SELECT c.vec_a, c.vec_b,
         |    round(
         |      list_reduce(list_transform(list_zip(ea.embedding, eb.embedding),
         |        z -> z[1]::DOUBLE * z[2]::DOUBLE), (a, b) -> a + b) /
         |      (sqrt(list_reduce(list_transform(ea.embedding, x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b)) *
         |       sqrt(list_reduce(list_transform(eb.embedding, x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))),
         |      6) AS cos
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_a
         |  JOIN embeddings eb ON eb.vec_id = c.vec_b),
         |u AS (
         |  SELECT vec_a AS v, cos FROM sc
         |  UNION ALL SELECT vec_b, cos FROM sc),
         |f AS (SELECT * FROM u WHERE cos >= 0.2),
         |best AS (SELECT v, max(cos) AS best_cos FROM f GROUP BY v)
         |SELECT CAST(floor(best_cos * 20) AS BIGINT) AS bucket,
         |  count(*)::BIGINT AS n_vecs
         |FROM best GROUP BY 1""".stripMargin
  )
}
