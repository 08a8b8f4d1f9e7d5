package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.ops._

/** Model training and evaluation over the embeddings and documents:
  * naive Bayes, logistic and ridge regression, k-means, kNN classifiers,
  * cross-validation folds and calibration curves.  Names: `ml`. */
object MlQueries extends QuerySet {

  import Tables.emb
  import SimilarityQueries.cosSql
  import TextQueries.toksSql

  /** Naive-Bayes scoring CTE body (no `WITH`) over `tokens(doc_id, tok)`
    * and the trained `cnt`, `ntot`, `v`, `pri`: each document's per-label
    * score (alpha = 1, term for term MlOps.nbScore) in `sc` and its
    * ranking `r` (rn = 1 is the prediction, ties to the smaller label). */
  private def nbScoreCte(tokens: String): String =
    s"""dt AS (SELECT doc_id, tok, count(*)::DOUBLE AS m FROM $tokens GROUP BY 1, 2),
      |mdoc AS (SELECT doc_id, sum(m) AS mm FROM dt GROUP BY 1),
      |adj AS (
      |  SELECT dt.doc_id, cnt.lbl, sum(dt.m * ln(cnt.c + 1.0)) AS adj
      |  FROM dt JOIN cnt ON cnt.tok = dt.tok GROUP BY 1, 2),
      |sc AS (
      |  SELECT md.doc_id, p.lbl,
      |    round(p.lp - md.mm * ln(nt.n + v.vs) + coalesce(adj.adj, 0), 6) AS score
      |  FROM mdoc md
      |  CROSS JOIN pri p
      |  JOIN ntot nt ON nt.lbl = p.lbl
      |  CROSS JOIN v
      |  LEFT JOIN adj ON adj.doc_id = md.doc_id AND adj.lbl = p.lbl),
      |r AS (
      |  SELECT doc_id, lbl, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lbl) AS rn
      |  FROM sc)""".stripMargin

  /** The `ml_nb_classify` oracle, shared with the queries that wrap it. */
  private lazy val MlNbClassifySql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, source,
      |    unnest(${toksSql("text")}) AS tok
      |  FROM documents),
      |cnt AS (SELECT source AS lbl, tok, count(*)::DOUBLE AS c FROM tok GROUP BY 1, 2),
      |ntot AS (SELECT lbl, sum(c) AS n FROM cnt GROUP BY 1),
      |v AS (SELECT count(DISTINCT tok)::DOUBLE AS vs FROM tok),
      |pri AS (
      |  SELECT source AS lbl,
      |    ln(count(*)::DOUBLE / (SELECT count(*)::DOUBLE FROM documents)) AS lp
      |  FROM documents GROUP BY 1),
      |${nbScoreCte("tok")}
      |SELECT doc_id, lbl AS pred_label, score FROM r WHERE rn = 1""".stripMargin

  /** Shared Cramer-rule arithmetic for ml_ridge — evaluated by BOTH
    * engines over identically-named exact sums, so the double expression
    * trees are the same and the results bit-match.  Inputs: n, s1, s2,
    * a22, a33, a23, sy, s1y, s2y (doubles; a22/a33 carry the ridge). */
  private val RidgeExprs = Seq(
    "round((sy*(a22*a33 - a23*a23) - s1*(s1y*a33 - a23*s2y) + s2*(s1y*a23 - a22*s2y)) / (n*(a22*a33 - a23*a23) - s1*(s1*a33 - a23*s2) + s2*(s1*a23 - a22*s2)), 6) AS b0",
    "round((n*(s1y*a33 - a23*s2y) - sy*(s1*a33 - a23*s2) + s2*(s1*s2y - s1y*s2)) / (n*(a22*a33 - a23*a23) - s1*(s1*a33 - a23*s2) + s2*(s1*a23 - a22*s2)), 6) AS b1",
    "round((n*(a22*s2y - s1y*a23) - s1*(s1*s2y - s1y*s2) + sy*(s1*a23 - a22*s2)) / (n*(a22*a33 - a23*a23) - s1*(s1*a33 - a23*s2) + s2*(s1*a23 - a22*s2)), 6) AS b2")

  private val LogregIters = 3

  /** The oracle unrolls the GD iterations as generated CTEs — every
    * arithmetic expression mirrors the Spark side token-for-token, so
    * the doubles agree bit-exactly at every step. */
  private def logregSql(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH li AS (
        |  SELECT CAST(round(l_quantity) AS BIGINT)/50.0 AS x1,
        |    CAST(round(l_discount*1000) AS BIGINT)/100.0 AS x2,
        |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
        |  FROM lineitem),
        |c0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)""".stripMargin)
    for (k <- 1 to iters) {
      val z = "(c.b0 + c.b1*x1 + c.b2*x2)"
      val p = s"(0.5 + $z/(2*(1+abs($z))))"
      sb.append(s""",
        |g$k AS (SELECT count(*) AS n,
        |  sum(CAST(floor(($p - y) * 1000000.0) AS BIGINT)) AS g0,
        |  sum(CAST(floor(($p - y) * x1 * 1000000.0) AS BIGINT)) AS g1,
        |  sum(CAST(floor(($p - y) * x2 * 1000000.0) AS BIGINT)) AS g2
        |  FROM li, c${k - 1} c),
        |c$k AS (SELECT c.b0 - (g.g0/1000000.0)/g.n AS b0,
        |  c.b1 - (g.g1/1000000.0)/g.n AS b1,
        |  c.b2 - (g.g2/1000000.0)/g.n AS b2
        |  FROM c${k - 1} c, g$k g)""".stripMargin)
    }
    sb.append(s"\nSELECT b0, b1, b2 FROM c$iters")
    sb.toString
  }

  private val Folds = 3

  private val Seed = 11L

  /** One NB train/score block per fold, generated with the fold predicate
    * baked in; the scoring formula mirrors MlOps.nbScore (alpha = 1)
    * term-for-term. */
  private def foldSql(f: Int): String = {
    val u = Rng.Md5.uniformSql(Seed, "cv", Seq("doc_id"))
    s"""(WITH base AS (
       |  SELECT doc_id, source, text,
       |    CAST(floor(($u) * $Folds) AS INT) AS fold
       |  FROM documents),
       |train AS (SELECT * FROM base WHERE fold <> $f),
       |test AS (SELECT * FROM base WHERE fold = $f),
       |ttok AS (
       |  SELECT doc_id, source,
       |    unnest(${toksSql("text")}) AS tok
       |  FROM train),
       |cnt AS (SELECT source AS lbl, tok, count(*)::DOUBLE AS c FROM ttok GROUP BY 1, 2),
       |ntot AS (SELECT lbl, sum(c) AS n FROM cnt GROUP BY 1),
       |v AS (SELECT count(DISTINCT tok)::DOUBLE AS vs FROM ttok),
       |pri AS (
       |  SELECT source AS lbl,
       |    ln(count(*)::DOUBLE / (SELECT count(*)::DOUBLE FROM train)) AS lp
       |  FROM train GROUP BY 1),
       |stok AS (
       |  SELECT doc_id,
       |    unnest(${toksSql("text")}) AS tok
       |  FROM test),
       |${nbScoreCte("stok")},
       |pred AS (SELECT doc_id, lbl FROM r WHERE rn = 1)
       |SELECT $f AS fold, count(*)::BIGINT AS n_test,
       |  sum(CASE WHEN pred.lbl = t.source THEN 1 ELSE 0 END)::BIGINT AS n_correct,
       |  round(sum(CASE WHEN pred.lbl = t.source THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*)::DOUBLE, 6) AS accuracy
       |FROM pred JOIN test t USING (doc_id))""".stripMargin
  }

  private val K = 4

  private val KmeansIters = 2

  private val Dim = 64

  /** One assignment + update block per iteration; every expression
    * mirrors the Spark side exactly (micro-unit ints, exact long
    * distances, lowest-cid ties, truncating integer division). */
  private def kmeansSql(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH iv AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
         |  FROM embeddings),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS c
         |  FROM (SELECT vec_id, v FROM iv ORDER BY vec_id LIMIT $k))""".stripMargin)
    for (it <- 1 to iters) {
      sb.append(s""",
         |a$it AS (
         |  SELECT iv.vec_id, iv.v, c.cid,
         |    list_sum(list_transform(list_zip(iv.v, c.c),
         |      x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
         |  FROM iv, c${it - 1} c),
         |b$it AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d, cid) AS rn FROM a$it) WHERE rn = 1),
         |n$it AS (SELECT cid, count(*) AS n FROM b$it GROUP BY 1),
         |s$it AS (
         |  SELECT cid, r.j, sum(list_extract(v, CAST(r.j AS INT))) AS s
         |  FROM b$it, range(1, ${Dim + 1}) r(j) GROUP BY 1, 2),
         |c$it AS (
         |  SELECT s$it.cid, list(s$it.s // n$it.n ORDER BY s$it.j) AS c
         |  FROM s$it JOIN n$it USING (cid) GROUP BY s$it.cid)""".stripMargin)
    }
    sb.append(s"""
         |SELECT cid, -1 AS j, n::BIGINT AS val FROM n$iters
         |UNION ALL
         |SELECT cid, CAST(r.j AS INT) AS j,
         |  list_extract(c, CAST(r.j AS INT))::BIGINT AS val
         |FROM c$iters, range(1, ${Dim + 1}) r(j)""".stripMargin)
    sb.toString
  }

  /** The inertia oracle extends the fit's CTE chain with one more
    * assignment against the final centroids. */
  private def inertiaSql(k: Int, iters: Int): String = {
    val fit = kmeansSql(k, iters)
    val pre = fit.substring(0, fit.indexOf("\nSELECT cid, -1"))
    s"""$pre,
       |af AS (
       |  SELECT iv.vec_id,
       |    list_sum(list_transform(list_zip(iv.v, c.c),
       |      x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d, c.cid
       |  FROM iv, c$iters c),
       |bf AS (
       |  SELECT vec_id, cid, d FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY d, cid) AS rn FROM af) WHERE rn = 1)
       |SELECT cid, count(*)::BIGINT AS n,
       |  sum(d::DECIMAL(38,0))::DOUBLE / 1e12 AS inertia
       |FROM bf GROUP BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Learned IVF quantizer: seeded k-means fit + assignment.  The
    // iterative float fitting is not SQL-reproducible, so the ORACLE checks
    // the geometric invariant instead: every point's assigned cluster is
    // its argmin-distance centroid (same arithmetic on both sides of the
    // comparison → exact equality), and every cluster id is in [0, k).  A
    // violated invariant flips a boolean and fails the hash compare.
    "ml_kmeans_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val k = 8
      // requireLocal pins the regime IN CODE: the invariant below replays
      // the local path's exact `sum((a_i-b_i)^2)` arithmetic, and the MLlib
      // path (norm algebra) could flip a near-tie argmin by a ulp.  If the
      // datagen ever grows past maxDriverRows this now fails loudly instead
      // of going silently flaky.
      val (centers, asg) = MlOps.kmeansFit(e, col("embedding"),
        col("vec_id"), k = k, seed = 42L, requireLocal = true)
      val bc = s.sparkContext.broadcast(centers)
      val okU = udf { (v: Seq[Double], cluster: Long) =>
        val cs = bc.value
        // an out-of-range id must REPORT false, not crash the query
        if (cluster < 0 || cluster >= cs.length) false
        else {
          def d2(c: Array[Double]): Double = {
            var s0 = 0.0; var i = 0
            while (i < c.length) { val t = v(i) - c(i); s0 += t * t; i += 1 }
            s0
          }
          var dmin = Double.MaxValue
          var j = 0
          while (j < cs.length) { val d = d2(cs(j)); if (d < dmin) dmin = d; j += 1 }
          d2(cs(cluster.toInt)) == dmin
        }
      }
      e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .join(asg, Seq("vec_id"))
        .select(col("vec_id"), okU(col("v"), col("cluster")).as("argmin_ok"),
          (col("cluster") >= 0 && col("cluster") < k).as("cluster_in_range"))
    }),

    // Multinomial NB domain classifier: train on (text, source), score the
    // same corpus — model table broadcast, smoothing mass in closed form
    "ml_nb_classify" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      graft.ops.MlOps.nbClassify(d, col("text"), col("source"),
        d, col("text"), col("doc_id"))
    }),

    // Label propagation: majority label of the 5 nearest neighbours for
    // each query vector (vote ties to the smallest label)
    "ml_knn_classify" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      MlOps.knnClassify(e, col("embedding"), col("vec_id"), col("label"),
        e.where(col("vec_id") < 20), col("embedding"), col("vec_id"), k = 5)
    }),

    // Classifier-evaluation report: true source × NB-predicted source
    "ml_nb_confusion" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      MlOps.nbClassify(d, col("text"), col("source"),
          d, col("text"), col("doc_id"))
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source", "pred_label").agg(count(lit(1)).as("n"))
    }),

    // Does vote count predict correctness?  kNN (k=10) over the first 200
    // vectors as queries, bucketed by votes, empirical accuracy per
    // bucket — the reliability diagram feeding pavCalibrate.
    "ml_reliability" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val queries = e.where(col("vec_id") < 200)
      val pred = Tables.knnPred200(s, dir)
      pred.join(queries.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), "query_id")
        .groupBy("votes")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred_label") === col("true_label"), 1L)
            .otherwise(0L)).as("n_correct"))
        .select(col("votes"), col("n"), col("n_correct"),
          round(col("n_correct").cast("double") / col("n").cast("double"), 6)
            .as("rate"))
    }),

    // Threshold-free discrimination: does vote count RANK correct
    // predictions above wrong ones?  Exact Mann-Whitney AUC with
    // average-rank ties, integer arithmetic to the final division.
    "ml_auc" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val queries = e.where(col("vec_id") < 200)
      val pred = Tables.knnPred200(s, dir)
      val joined = pred.join(queries.select(col("vec_id").as("query_id"),
        col("label").as("true_label")), "query_id")
      MlOps.exactAuc(joined, col("votes"),
        col("pred_label") === col("true_label"))
    }),

    // Where to set the confidence bar: per vote threshold, exact TP/FP
    // and precision/recall for "trust the kNN label when votes >= s".
    "ml_pr_curve" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val queries = e.where(col("vec_id") < 200)
      val pred = Tables.knnPred200(s, dir)
      val joined = pred.join(queries.select(col("vec_id").as("query_id"),
        col("label").as("true_label")), "query_id")
      MlOps.prCurve(joined, col("votes"),
        col("pred_label") === col("true_label"))
    }),

    // How predictable is the event stream?  Classify each transition's
    // next type as the current type's modal successor (argmax of the
    // transition matrix, tie → lexicographic) and measure accuracy —
    // the in-sample backtest that says whether first-order structure is
    // worth exploiting (resubstitution estimate; split by time for a
    // true holdout).  Everything derives from the |types|² transition
    // count table: the argmax window and the accuracy rollup never touch
    // the event stream again.
    "ml_markov_backtest" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = EventOps.transitionMatrix(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .select(col("from_type"), col("to_type"), col("n"))
      val w = Window.partitionBy("from_type")
        .orderBy(col("n").desc, col("to_type"))
      counts.withColumn("rn", row_number().over(w))
        .agg(sum("n").as("n_transitions"),
          sum(when(col("rn") === 1, col("n")).otherwise(0L)).as("n_correct"))
        .select(col("n_transitions"), col("n_correct"),
          round(col("n_correct").cast("double") /
            col("n_transitions").cast("double"), 6).as("accuracy"))
    }),

    // Ridge regression (normal equations) predicting line revenue from
    // quantity and discount: ONE pass of exact integer sufficient
    // statistics, then the Cramer solve over a broadcast single row —
    // the same shared expression strings the oracle evaluates
    "ml_ridge" -> ((s, dir) => {
      val lam = 1000.0
      val li = s.read.parquet(s"$dir/lineitem.parquet").select(
        round(col("l_quantity")).cast("long").as("x1"),
        round(col("l_discount") * 1000).cast("long").as("x2"),
        round(col("l_extendedprice") * 100).cast("long").as("yc"))
      val sums = li.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x1").cast("decimal(38,0)")).cast("double").as("s1"),
        sum(col("x2").cast("decimal(38,0)")).cast("double").as("s2"),
        sum((col("x1") * col("x1")).cast("decimal(38,0)")).cast("double").as("s11"),
        sum((col("x1") * col("x2")).cast("decimal(38,0)")).cast("double").as("a23"),
        sum((col("x2") * col("x2")).cast("decimal(38,0)")).cast("double").as("s22"),
        sum(col("yc").cast("decimal(38,0)")).cast("double").as("sy"),
        sum((col("x1") * col("yc")).cast("decimal(38,0)")).cast("double").as("s1y"),
        sum((col("x2") * col("yc")).cast("decimal(38,0)")).cast("double").as("s2y"))
        .withColumn("a22", col("s11") + lam)
        .withColumn("a33", col("s22") + lam)
      sums.selectExpr(RidgeExprs: _*)
    }),

    // P(returned) from scaled quantity and discount; 3 full-batch GD
    // steps, eta = 1
    "ml_logreg" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      MlOps.logregGd(li,
        round(col("l_quantity")).cast("long") / lit(50.0),
        round(col("l_discount") * 1000).cast("long") / lit(100.0),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0),
        iters = LogregIters, eta = 1.0)
    }),

    // per-fold held-out accuracy: md5-deterministic fold assignment,
    // train on k-1 folds, score the held-out fold (unseen test tokens
    // cost only their closed-form smoothing mass)
    // NOTE (r20 optimization round): a one-pass exclusion-model CV
    // (tokenize once, every fold's model = global counts minus its own)
    // was built, proven value-identical, and MEASURED SLOWER in the
    // warm sweep (5.7 s vs 3.7 s): the fold pipelines below are
    // independent subtrees Spark runs concurrently, while the one-pass
    // plan serialized them through one cache + a deep broadcast chain.
    // Kept as the per-fold composition (whose argmax is now the
    // sort-free min_by aggregate via nbScore); see OPTIMIZATION_r20.md.
    "ml_cv_accuracy" -> ((s, dir) => {
      val d = Tables.docs(s, dir).withColumn("fold",
        floor(Rng.Md5.uniform(Seed, "cv", col("doc_id")) * Folds)
          .cast("int"))
      (0 until Folds).map { f =>
        val train = d.where(col("fold") =!= f)
        val test = d.where(col("fold") === f)
        MlOps.nbClassify(train, col("text"), col("source"),
            test, col("text"), col("doc_id"))
          .join(test.select(col("doc_id"), col("source")), "doc_id")
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("pred_label") === col("source"), 1L)
              .otherwise(0L)).as("n_correct"))
          .select(lit(f).as("fold"), col("n_test"), col("n_correct"),
            round(col("n_correct").cast("double") /
              col("n_test").cast("double"), 6).as("accuracy"))
      }.reduce(_ unionByName _)
    }),

    "ml_kmeans_lloyd" -> ((s, dir) =>
      MlOps.kmeansLloyd(Tables.emb(s, dir), col("embedding"),
        col("vec_id"), k = K, iters = KmeansIters)),

    // per-cluster within-SSE of the same fit — the elbow quantity, exact
    // to the micro-unit²
    "ml_kmeans_inertia" -> ((s, dir) =>
      MlOps.kmeansInertia(Tables.emb(s, dir), col("embedding"),
        col("vec_id"), k = K, iters = KmeansIters)),

    // Resident-codebook gauge: kmeansFitResident (no k×d driver collect)
    // must reproduce kmeansFitRouted's distributed-init regime bit-for-
    // bit — centers AND assignment — on the embeddings corpus.  The
    // equality is asserted IN the compared output (the
    // sim_assign2_learned pattern); the oracle replays the invariant.
    "ml_kmeans_resident" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val k = 16
      // ONE refine iteration exercises the full update + empty-cluster
      // carry; 2+ only repeats the same algebra at double the bench cost
      // (R16ResidentKmeansSpec runs 2-iteration equality on fixtures)
      val (rc, ra) = MlOps.kmeansFitRouted(e, col("embedding"),
        col("vec_id"), k, seed = 7L, maxDriverRows = 2L * k - 1,
        refineIters = 1, probe = 3)
      val (cc, ca) = MlOps.kmeansFitResident(e, col("embedding"),
        col("vec_id"), k, seed = 7L, refineIters = 1, probe = 3)
      import s.implicits._
      val routedDf = s.createDataset(rc.toSeq.zipWithIndex
          .map { case (v, i) => (i.toLong, v.toSeq) })
        .toDF("centroid_id", "rv")
      // ONE emptiness action over the union of both mismatch sets (the
      // boolean is identical: no center mismatch AND no assignment
      // mismatch) — the two subtrees schedule concurrently inside a
      // single job instead of two serial driver actions
      val centerMism = cc.join(routedDf, "centroid_id")
        .where(col("cv") =!= col("rv")).select(lit(1L).as("m"))
      val assignMism = ra.withColumnRenamed("cluster", "c_r")
        .join(ca.withColumnRenamed("cluster", "c_d"), "vec_id")
        .where(col("c_r") =!= col("c_d")).select(lit(1L).as("m"))
      // count(), not isEmpty: take(1)'s incremental-limit cascade costs
      // several jobs on an (expected-)empty result; count is exactly one
      val bitEqual = centerMism.unionAll(assignMism).count() == 0L
      e.agg(count(lit(1)).as("n_vecs"))
        .select(col("n_vecs"), lit(k).as("k"),
          lit(bitEqual).as("bit_equal"))
    })
  )

  /** kNN-vote oracle CTE body (no `WITH`): the `k` nearest neighbours by
    * cosine of each query vec_id < `queries` (`s`, `r`), the label votes
    * `v` and their ranking `a` (rn = 1 is the winning label, ties to the
    * smaller label). */
  private def knnVoteCte(queries: Int, k: Int): String =
    s"""s AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings c CROSS JOIN
       |    (SELECT * FROM embeddings WHERE vec_id < $queries) q
       |  WHERE c.vec_id <> q.vec_id),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) - 1 AS rank FROM s),
       |v AS (
       |  SELECT r.query_id, e.label AS pred_label, count(*)::BIGINT AS votes
       |  FROM r JOIN embeddings e ON e.vec_id = r.neighbor_id
       |  WHERE r.rank < $k GROUP BY 1, 2),
       |a AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY votes DESC, pred_label) AS rn FROM v)""".stripMargin

  /** Oracle CTE body over [[knnVoteCte]]'s `a`: each query's winning vote
    * count as a score `s` with `y` = 1 when its label is right (`j`), and
    * the per-score counts `g(s, cnt, pos)`. */
  private val VoteOutcomeCte =
    """p0 AS (SELECT query_id, pred_label, votes FROM a WHERE rn = 1),
      |j AS (SELECT votes AS s,
      |    CASE WHEN p0.pred_label = t.label THEN 1 ELSE 0 END AS y
      |  FROM p0 JOIN embeddings t ON t.vec_id = p0.query_id),
      |g AS (SELECT s, count(*)::BIGINT AS cnt, sum(y)::BIGINT AS pos
      |  FROM j GROUP BY 1)""".stripMargin

  def oracles: Map[String, String] = Map(

    // invariant oracle: if any point's assigned centroid were not its
    // argmin (or any id out of range), the boolean flips and the hash fails
    "ml_kmeans_ivf" ->
      """SELECT vec_id, true AS argmin_ok, true AS cluster_in_range
        |FROM embeddings""".stripMargin,

    // alpha = 1 (ln 1 = 0): score = lp - mm*ln(n + V) + sum m*ln(c+1)
    "ml_nb_classify" -> MlNbClassifySql,

    "ml_knn_classify" ->
      s"""WITH ${knnVoteCte(20, 5)}
         |SELECT query_id, pred_label, votes FROM a WHERE rn = 1""".stripMargin,

    "ml_nb_confusion" ->
      s"""WITH pred AS (${MlNbClassifySql})
         |SELECT d.source, pred.pred_label, count(*)::BIGINT AS n
         |FROM pred JOIN documents d ON d.doc_id = pred.doc_id
         |GROUP BY 1, 2""".stripMargin,

    "ml_reliability" ->
      s"""WITH ${knnVoteCte(200, 10)},
         |p AS (SELECT query_id, pred_label, votes FROM a WHERE rn = 1)
         |SELECT votes, count(*)::BIGINT AS n,
         |  sum(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END)::BIGINT
         |    AS n_correct,
         |  round(sum(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END)
         |    ::DOUBLE / count(*)::DOUBLE, 6) AS rate
         |FROM p JOIN embeddings t ON t.vec_id = p.query_id
         |GROUP BY votes""".stripMargin,

    "ml_auc" ->
      s"""WITH ${knnVoteCte(200, 10)},
         |$VoteOutcomeCte,
         |c AS (SELECT *, sum(cnt) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM g),
         |f AS (SELECT sum(pos)::BIGINT AS p, sum(cnt - pos)::BIGINT AS n,
         |    sum(pos * ((cum - cnt + 1) + cum))::BIGINT AS sr2 FROM c)
         |SELECT p AS n_pos, n AS n_neg,
         |  round((sr2 - p * (p + 1))::DOUBLE / (2 * p * n)::DOUBLE, 6) AS auc
         |FROM f""".stripMargin,

    "ml_pr_curve" ->
      s"""WITH ${knnVoteCte(200, 10)},
         |$VoteOutcomeCte,
         |c AS (SELECT *,
         |    sum(pos) OVER (ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         |    sum(cnt) OVER (ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumall
         |  FROM g),
         |t AS (SELECT sum(pos)::BIGINT AS totpos FROM g)
         |SELECT s AS threshold, tp::BIGINT AS tp,
         |  (cumall - tp)::BIGINT AS fp,
         |  round(tp::DOUBLE / cumall::DOUBLE, 6) AS precision,
         |  round(tp::DOUBLE / totpos::DOUBLE, 6) AS recall
         |FROM c CROSS JOIN t""".stripMargin,

    "ml_markov_backtest" ->
      s"""WITH ${EventQueries.TransitionCte},
        |c AS (SELECT pr.f AS from_type, pr.t AS to_type,
        |    count(*)::BIGINT AS n FROM p GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY from_type
        |    ORDER BY n DESC, to_type) AS rn FROM c)
        |SELECT sum(n)::BIGINT AS n_transitions,
        |  sum(CASE WHEN rn = 1 THEN n ELSE 0 END)::BIGINT AS n_correct,
        |  round(sum(CASE WHEN rn = 1 THEN n ELSE 0 END)::DOUBLE
        |    / sum(n)::DOUBLE, 6) AS accuracy
        |FROM r""".stripMargin,

    "ml_ridge" -> {
      """WITH li AS (
        |  SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
        |    CAST(round(l_discount*1000) AS BIGINT) AS x2,
        |    CAST(round(l_extendedprice*100) AS BIGINT) AS yc
        |  FROM lineitem),
        |sums AS (
        |  SELECT count(*)::DOUBLE AS n,
        |    sum(x1)::DOUBLE AS s1, sum(x2)::DOUBLE AS s2,
        |    sum(x1*x1)::DOUBLE + 1000.0 AS a22,
        |    sum(x1*x2)::DOUBLE AS a23,
        |    sum(x2*x2)::DOUBLE + 1000.0 AS a33,
        |    sum(yc)::DOUBLE AS sy,
        |    sum(x1*yc)::DOUBLE AS s1y, sum(x2*yc)::DOUBLE AS s2y
        |  FROM li)
        |SELECT """.stripMargin + RidgeExprs.mkString(",\n  ") + "\nFROM sums"
    },

    "ml_logreg" -> logregSql(LogregIters),

    "ml_cv_accuracy" ->
      (0 until Folds).map(foldSql).mkString("\nUNION ALL\n"),

    "ml_kmeans_lloyd" -> kmeansSql(K, KmeansIters),

    "ml_kmeans_inertia" -> inertiaSql(K, KmeansIters),

    "ml_kmeans_resident" ->
      """SELECT count(*)::BIGINT AS n_vecs, 16 AS k, true AS bit_equal
        |FROM embeddings""".stripMargin
  )
}
