package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MLlib interop: the bridge from this engine's plain-column data model
  * (`array<float>` embeddings, string labels) into `spark.ml` pipelines,
  * and the learned counterpart of the deterministic ANN operators.
  *
  * Everything stays a DataFrame transform: `Vector` columns are just
  * another column type, so sampling strategies, hooks, and batch slicing
  * compose with MLlib estimators unchanged.
  */
object MlOps {

  /** Numeric array column → MLlib dense `Vector` column. */
  def toVector(c: Column): Column = array_to_vector(c.cast("array<double>"))

  /** MLlib `Vector` column → `array<double>` (for parquet-friendly output). */
  def toArray(c: Column): Column = vector_to_array(c)

  /** Learned IVF coarse quantizer: fit seeded k-means over the embedding
    * column and return each vector's cluster id — the trained alternative
    * to [[SimilarityOps.ivfAssign]]'s fixed centroids.  Seeded and
    * deterministic for a fixed input; at scale the cluster id becomes the
    * partition/bucketing key exactly like the LSH bucket.
    *
    * Two physical plans behind one signature (same pattern as
    * [[DedupOps.embeddingPairs]]): a driver-sized training set is collected
    * once and fit with local kmeans++ + Lloyd — k-means over n·d doubles is
    * pure CPU, and the distributed fit pays a full scheduler round-trip PER
    * LLOYD STEP (~3 jobs/iteration) for work a single core finishes in
    * milliseconds.  Beyond `maxDriverRows` the MLlib estimator takes over
    * (distributed kmeans|| init + distributed Lloyd), which is the right
    * trade once the training set no longer fits one heap. */
  def kmeansAssign(df: DataFrame, vec: Column, id: Column, k: Int,
      seed: Long, maxIter: Int = 10,
      maxDriverRows: Long = 200000L): DataFrame =
    kmeansFit(df, vec, id, k, seed, maxIter, maxDriverRows)._2

  /** [[kmeansAssign]] plus the learned centroids — the centroid table is
    * what downstream invariant checks (and an IVF search layer) need: each
    * point's assigned cluster must be its argmin-distance centroid.
    *
    * `requireLocal = true` fails loudly if the input exceeds
    * `maxDriverRows` instead of silently switching to the MLlib regime.
    * The local path's assignment is EXACT argmin under the plain
    * `sum((a_i-b_i)^2)` arithmetic; MLlib computes distances with norm
    * algebra, so on that path a near-tie can flip the argmin by a ulp.
    * Callers whose downstream check replays the plain arithmetic (the
    * `ml_kmeans_ivf` invariant oracle) must pin the local regime — growing
    * the data past the gate would otherwise make the check silently
    * flaky rather than fail. */
  def kmeansFit(df: DataFrame, vec: Column, id: Column, k: Int,
      seed: Long, maxIter: Int = 10,
      maxDriverRows: Long = 200000L,
      requireLocal: Boolean = false): (Array[Array[Double]], DataFrame) = {
    val data = df.select(id.as("vec_id"), vec.cast("array<double>").as("v"))
    // overflow-safe: maxDriverRows near Long.MaxValue must clamp, not
    // wrap to a limit(0)
    val probe = data
      .limit(if (maxDriverRows >= Int.MaxValue.toLong - 1) Int.MaxValue - 1
        else (maxDriverRows + 1).toInt).collect()
    if (probe.length > maxDriverRows) {
      require(!requireLocal,
        s"kmeansFit(requireLocal=true): input exceeds maxDriverRows=" +
          s"$maxDriverRows, which would switch to the MLlib regime whose " +
          "argmin can differ from the plain arithmetic by a ulp")
      val vdata = df.select(id.as("vec_id"), toVector(vec).as("features"))
      val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
        .fit(vdata)
      return (model.clusterCenters.map(_.toArray),
        model.transform(vdata)
          .select(col("vec_id"), col("prediction").cast("long").as("cluster")))
    }
    // sort the collected training set by id BEFORE fitting: the kmeans++
    // draws walk the array in order, so an unsorted collect would make
    // the learned centers depend on partition/collect order — the fit
    // must be a function of the row SET, not the plan that produced it
    // (kmeansFitResident's bit-equality to the routed path rests on this)
    val vecs = probe.sortWith { (a, b) =>
      a.get(0).asInstanceOf[Comparable[Any]].compareTo(b.get(0)) < 0
    }.map(_.getSeq[Double](1).toArray)
    val n = vecs.length
    val d = if (n > 0) vecs(0).length else 0
    require(n >= k, s"k=$k exceeds training rows n=$n")
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    // splitmix64 stream for the kmeans++ draws — seeded, engine-independent
    var rngState = seed
    def nextU(): Double = {
      rngState += 0x9e3779b97f4a7c15L
      var z = rngState
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z >>> 11).toDouble / (1L << 53).toDouble
    }
    val centers = new Array[Array[Double]](k)
    centers(0) = vecs((nextU() * n).toInt.min(n - 1)).clone()
    val best = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      var i = 0
      var tot = 0.0
      while (i < n) {
        val dd = dist2(vecs(i), centers(c - 1))
        if (dd < best(i)) best(i) = dd
        tot += best(i); i += 1
      }
      // kmeans++: draw proportional to D²
      var r = nextU() * tot
      var pick = 0
      i = 0
      while (i < n && r > 0) { r -= best(i); if (r > 0) pick = (i + 1).min(n - 1); i += 1 }
      centers(c) = vecs(pick).clone()
      c += 1
    }
    val assign = new Array[Int](n)
    var it = 0
    var moved = true
    while (moved && it < maxIter) {
      moved = false
      var i = 0
      while (i < n) {
        var bi = 0; var bd = Double.MaxValue
        var j = 0
        while (j < k) {
          val dd = dist2(vecs(i), centers(j))
          if (dd < bd) { bd = dd; bi = j }
          j += 1
        }
        if (assign(i) != bi) { assign(i) = bi; moved = true }
        i += 1
      }
      val sums = Array.fill(k)(new Array[Double](d))
      val cnts = new Array[Long](k)
      i = 0
      while (i < n) {
        val a = assign(i); cnts(a) += 1
        val s = sums(a); val v = vecs(i)
        var j = 0
        while (j < d) { s(j) += v(j); j += 1 }
        i += 1
      }
      var j = 0
      while (j < k) {
        if (cnts(j) > 0) {
          var t = 0
          while (t < d) { sums(j)(t) /= cnts(j); t += 1 }
          centers(j) = sums(j)
        }
        j += 1
      }
      it += 1
    }
    // one distributed pass: broadcast centroids, pointwise nearest-center
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(centers)
    val assignU = udf { (v: Seq[Double]) =>
      val cs = bc.value
      val a = v.toArray
      var bi = 0; var bd = Double.MaxValue
      var j = 0
      while (j < cs.length) {
        var s = 0.0; var i = 0
        while (i < a.length) { val t = a(i) - cs(j)(i); s += t * t; i += 1 }
        if (s < bd) { bd = s; bi = j }
        j += 1
      }
      bi.toLong
    }
    (centers, data.select(col("vec_id"), assignU(col("v")).as("cluster")))
  }

  /** Corpus-scale k-means fit with NO quadratic stage — the fit-side
    * completion of the two-level assignment story
    * ([[SimilarityOps.l2AssignTwoLevelLearned]]).
    *
    * [[kmeansFit]]'s regimes both pay O(n·k) per Lloyd step once the
    * training set outgrows the driver (MLlib's distributed Lloyd scans
    * every centroid per vector per iteration) — with k ∝ corpus that is
    * the same n² term the assignment gate removed.  This fit instead:
    * (1) fits on a SEEDED Rng-hash sample of ≤ `maxDriverRows` vectors
    * (SemDeDup's own recipe — fit on sample, assign corpus; the local
    * kmeans++/Lloyd over the sample is driver CPU), then (2) runs
    * `refineIters` FULL-CORPUS Lloyd steps where the assign half is the
    * routed two-level pass (O(n·√k·probe)) and the update half is one
    * shuffle: per-cluster element-wise means in micro-unit integer sums
    * (exact under any partitioning — a plain `avg(double)` would make
    * the learned centroids partitioning-dependent).  Empty clusters
    * keep their previous center.  Per refine iteration: one routed
    * assignment + one groupBy + a k×d driver collect (the codebook,
    * which the return contract holds driver-side anyway).
    *
    * Deterministic for fixed (input, seed, parameters).  Returns
    * (centers, (vec_id, cluster)) like [[kmeansFit]]; the assignment is
    * the routed pass over the FINAL centers. */
  def kmeansFitRouted(df: DataFrame, vec: Column, id: Column, k: Int,
      seed: Long, maxIter: Int = 10, maxDriverRows: Long = 200000L,
      refineIters: Int = 3, probe: Int = 3): (Array[Array[Double]], DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    val data = graft.core.CacheScope.persist(
      df.select(id.as("vec_id"), vec.cast("array<double>").as("v")),
      eager = false)
    var centers =
      if (k <= maxDriverRows / 2) {
        // sample comfortably holds k training points: SemDeDup's
        // fit-on-sample (local kmeans++/Lloyd) gives a quality init
        // (the corpus count is only needed on THIS branch — for the
        // sample fraction and the n>=k guard; the distributed-init
        // branch's `init.length == k` require subsumes the guard, so
        // skipping the count there saves a full pass over the corpus)
        val n = data.count()
        require(n >= k, s"k=$k exceeds corpus rows n=$n")
        val frac = math.min(1.0, maxDriverRows.toDouble / math.max(n, 1L))
        val sample = if (frac >= 1.0) data
          else data.where(
            graft.core.Rng.Xx.uniform(seed, "kmfit_sample", col("vec_id"))
              < frac)
        // local regime forced: the sample IS driver-sized by construction
        // (gate raised, NOT Long.MaxValue — kmeansFit probes limit+1)
        kmeansFit(sample, col("v"), col("vec_id"), k, seed,
          maxIter, maxDriverRows = Int.MaxValue.toLong - 2)._1
      } else {
        // k ∝ corpus past the sample's capacity (the regime this fit
        // exists for): init = k seeded-hash-ranked corpus vectors — a
        // distributed top-k, no local fit — and let the routed Lloyd
        // steps do the placement work.  k·d doubles land on the driver,
        // the same bound as the returned codebook itself.
        val init = data
          .withColumn("__u", graft.core.Rng.Xx.uniform(seed, "kmfit_init",
            col("vec_id")))
          .orderBy(col("__u"), col("vec_id"))
          .limit(k)
          .select(col("v")).collect()
          .map(_.getSeq[Double](0).toArray)
        require(init.length == k,
          s"corpus yielded only ${init.length} init vectors for k=$k")
        init
      }
    val d = centers(0).length
    def centDf(cs: Array[Array[Double]]) =
      spark.createDataset(cs.toSeq.zipWithIndex
          .map { case (v0, i) => (i.toLong, v0.toSeq) })
        .toDF("centroid_id", "cv")
    def assign(cs: Array[Array[Double]]) =
      SimilarityOps.l2AssignTwoLevelLearned(data, col("v"), col("vec_id"),
        centDf(cs), col("cv"), col("centroid_id"), probe = probe,
        seed = seed + 13, knownK = k.toLong)
    var it = 0
    while (it < refineIters) {
      val sums = (0 until d).map(i =>
        sum(round(element_at(col("v"), i + 1) * 1e6).cast("long"))
          .as(s"__s$i"))
      val rows = data
        .join(assign(centers).select(col("vec_id"), col("centroid_id")),
          "vec_id")
        .groupBy("centroid_id")
        .agg(count(lit(1)).as("__n"), sums: _*)
        .collect()
      val next = centers.map(_.clone())
      rows.foreach { r =>
        val cid = r.getLong(0).toInt
        val cnt = r.getLong(1)
        next(cid) = Array.tabulate(d)(i =>
          r.getLong(i + 2).toDouble / 1e6 / cnt)
      }
      centers = next
      it += 1
    }
    (centers, assign(centers)
      .select(col("vec_id"), col("centroid_id").as("cluster")))
  }

  /** DataFrame-RESIDENT routed k-means: [[kmeansFitRouted]]'s refine loop
    * with the codebook living as a (centroid_id, cv) table end to end —
    * NO k×d driver collect anywhere (grep: this method never calls
    * .collect()), so k ∝ corpus can outgrow driver memory and the fit
    * still runs.  This is the path beyond [[kmeansFitRouted]]'s one
    * documented driver bound (the per-refine-step codebook collect).
    *
    * Bit-equal to [[kmeansFitRouted]] in its distributed-init regime
    * (k > maxDriverRows/2) under the same (seed, refineIters, probe):
    * identical init (the same seeded-hash top-k, materialized by rank
    * instead of orderBy-limit-collect), identical routed assignment
    * (shuffle-join routes instead of broadcast — same rows), identical
    * micro-unit integer centroid updates (`long→double / 1e6 / n`, the
    * exact IEEE sequence of the driver loop), identical empty-cluster
    * carry (left join falls back to the previous center).
    * R16ResidentKmeansSpec asserts the bit-equality at the gate boundary
    * — the kHopReachAuto discipline.
    *
    * Returns (centroids (centroid_id, cv), assignment (vec_id, cluster)).
    * Driver state: the dimension d (one 1-row probe) and loop counters —
    * nothing proportional to k. */
  def kmeansFitResident(df: DataFrame, vec: Column, id: Column, k: Int,
      seed: Long, refineIters: Int = 3, probe: Int = 3)
      : (DataFrame, DataFrame) = {
    val data = graft.core.CacheScope.persist(
      df.select(id.as("vec_id"), vec.cast("array<double>").as("v")),
      eager = false)
    // one probe job for the driver scalars (count gate + dimension)
    // instead of a count job plus a head job; the update algebra needs
    // uniform dims, so ragged input is rejected here (min != max size)
    val probeRow = data.agg(count(lit(1)), max(size(col("v"))),
      min(size(col("v")))).head
    val n = probeRow.getLong(0)
    require(n >= k, s"k=$k exceeds corpus rows n=$n")
    val d = probeRow.getInt(1)
    val dMin = probeRow.getInt(2)
    require(dMin == d,
      s"ragged vectors: min dimension $dMin != max dimension $d")
    // init = the k seeded-hash-ranked corpus vectors, centroid_id = rank
    // (the same set AND the same ids as the routed path's sorted collect)
    var cent: DataFrame = graft.core.CacheScope.persist(
      graft.core.Ranker.withRank(
          data.withColumn("__u",
            graft.core.Rng.Xx.uniform(seed, "kmfit_init", col("vec_id"))),
          "__cid", col("__u").asc, col("vec_id").asc)
        .where(col("__cid") < k)
        .select(col("__cid").as("centroid_id"), col("v").as("cv")),
      eager = false)
    def assign(c: DataFrame) =
      SimilarityOps.l2AssignTwoLevelLearned(data, col("v"), col("vec_id"),
        c, col("cv"), col("centroid_id"), probe = probe, seed = seed + 13,
        broadcastRoutes = false, knownK = k.toLong)
    val sums = (0 until d).map(i =>
      sum(round(element_at(col("v"), i + 1) * 1e6).cast("long"))
        .as(s"__s$i"))
    var it = 0
    while (it < refineIters) {
      val agg = data
        .join(assign(cent).select(col("vec_id"), col("centroid_id")),
          "vec_id")
        .groupBy("centroid_id")
        .agg(count(lit(1)).as("__n"), sums: _*)
      // empty clusters keep their previous center (left-join fallback)
      val next = cent.join(agg, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          when(col("__n").isNull, col("cv"))
            .otherwise(array((0 until d).map(i =>
              col(s"__s$i").cast("double") / lit(1e6) /
                col("__n").cast("double")): _*))
            .as("cv"))
      cent = graft.core.CacheScope.persist(next, eager = false)
      it += 1
    }
    (cent, assign(cent)
      .select(col("vec_id"), col("centroid_id").as("cluster")))
  }

  /** Codebook-size-routed fit (the kHopReachAuto discipline): while the
    * k×d codebook fits comfortably on the driver (`k·d ≤ codebookGate`
    * doubles) run [[kmeansFitRouted]] — local sample init, cheapest
    * plans — and lift its array result into the table contract; beyond
    * the gate run [[kmeansFitResident]], whose driver state is O(1).
    * Both sides return (centroids (centroid_id, cv), assignment). */
  def kmeansFitAuto(df: DataFrame, vec: Column, id: Column, k: Int,
      seed: Long, maxIter: Int = 10, maxDriverRows: Long = 200000L,
      refineIters: Int = 3, probe: Int = 3,
      codebookGate: Long = 20000000L): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    val d = df.select(size(vec.cast("array<double>"))).head.getInt(0)
    if (k.toLong * d <= codebookGate) {
      val (cs, asg) = kmeansFitRouted(df, vec, id, k, seed, maxIter,
        maxDriverRows, refineIters, probe)
      val centDf = spark.createDataset(cs.toSeq.zipWithIndex
          .map { case (v0, i) => (i.toLong, v0.toSeq) })
        .toDF("centroid_id", "cv")
      (centDf, asg)
    } else kmeansFitResident(df, vec, id, k, seed, refineIters, probe)
  }

  /** A trained multinomial Naive Bayes text classifier, held as plain
    * DataFrames so it broadcasts/joins like any other table.
    *
    * `classCounts` is (lbl, tok, c) — the token-class count table, the
    * entire learned state (vocab × classes rows; for real corpora this is
    * a few MB and broadcast-joins onto the scoring side).  `classStats`
    * is one row per class: (lbl, n = total token count, lp = log prior).
    * `vocabSize` is |V| for Laplace smoothing. */
  final case class NbModel(classCounts: DataFrame, classStats: DataFrame,
      vocabSize: Double, alpha: Double)

  /** Fit multinomial NB over whitespace tokens: token-class counts, class
    * priors, vocabulary size.  Two shuffles (both on small keys); the
    * vocabulary size is the one eager action.  The classic fastText-speed
    * baseline for corpus labeling (domain/quality/language tagging) —
    * training is a single groupBy regardless of corpus size. */
  def nbTrain(train: DataFrame, text: Column, label: Column,
      alpha: Double = 1.0): NbModel = {
    val toks = train.select(label.as("lbl"),
      explode(TextOps.tokens(text)).as("tok"))
    val cnt = toks.groupBy("lbl", "tok")
      .agg(count(lit(1)).cast("double").as("c"))
    val ntot = cnt.groupBy("lbl").agg(sum("c").as("n"))
    val tot = train.select(count(lit(1)).cast("double").as("td"))
    val pri = train.groupBy(label.as("lbl"))
      .agg(count(lit(1)).cast("double").as("nd"))
      .crossJoin(broadcast(tot))
      .select(col("lbl"), log(col("nd") / col("td")).as("lp"))
    val vs = toks.select(countDistinct(col("tok"))).head.getLong(0).toDouble
    NbModel(cnt, pri.join(ntot, "lbl"), vs, alpha)
  }

  /** Score + argmax: (doc_id, pred_label, score), score = rounded log
    * posterior of the winning class (ties broken by label order after
    * rounding, so the result is engine-independent).
    *
    * Shape at scale: the model table broadcast-joins onto the exploded
    * test tokens; the two aggregations and the argmax window all hash on
    * doc_id.  Unseen
    * tokens cost nothing per class — their smoothing mass folds into the
    * closed form `mm·(ln α − ln(n + αV))` instead of a dense join. */
  def nbScore(model: NbModel, test: DataFrame, text: Column, idCol: Column)
      : DataFrame = {
    val a = model.alpha
    val dt = test.select(idCol.as("doc_id"), explode(TextOps.tokens(text)).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).cast("double").as("m"))
    val mdoc = dt.groupBy("doc_id").agg(sum("m").as("mm"))
    val adj = dt.join(broadcast(model.classCounts), "tok").groupBy("doc_id", "lbl")
      .agg(sum(col("m") * (log(col("c") + a) - math.log(a))).as("adj"))
    val params = model.classStats
      .select(col("lbl"), col("lp"), col("n"))
    val sc = mdoc.crossJoin(broadcast(params))
      .join(adj, Seq("doc_id", "lbl"), "left")
      .select(col("doc_id"), col("lbl"),
        round(col("lp") + col("mm") * (lit(math.log(a)) - log(col("n") + a * model.vocabSize))
          + coalesce(col("adj"), lit(0.0)), 6).as("score"))
    nbArgmax(sc)
  }

  /** Per-document argmax over (score desc, lbl asc) as a map-side-combined
    * `min_by` aggregate — the same selection the old row_number window
    * made, without the window's per-partition sort (scores are finite
    * negative log posteriors, so the negation is a total order flip). */
  private def nbArgmax(sc: DataFrame): DataFrame =
    sc.groupBy("doc_id")
      .agg(min_by(struct(col("lbl"), col("score")),
        struct(negate(col("score")), col("lbl"))).as("__m"))
      .select(col("doc_id"), col("__m.lbl").as("pred_label"),
        col("__m.score").as("score"))

  /** Train on `train`, score `test` — the one-call form. */
  def nbClassify(train: DataFrame, trainText: Column, trainLabel: Column,
      test: DataFrame, testText: Column, testId: Column,
      alpha: Double = 1.0): DataFrame =
    nbScore(nbTrain(train, trainText, trainLabel, alpha),
      test, testText, testId)

  /** kNN classification over an embedding column: each query takes the
    * majority label among its k nearest labeled neighbours by cosine
    * (vote ties break to the smallest label — deterministic).  The
    * label-propagation / weak-supervision primitive: label a huge corpus
    * from a small curated seed set without training anything.
    *
    * Built on [[SimilarityOps.bruteTopK]] (queries broadcast, corpus
    * scanned once); swap in an IVF/rerank candidate stage for corpus-scale
    * query sets — the voting tail is identical.  The vote aggregate and
    * argmax window both run on queries×k rows, never the corpus.
    * Output: (query_id, pred_label, votes). */
  def knnClassify(labeled: DataFrame, vec: Column, id: Column,
      label: Column, queries: DataFrame, qvec: Column, qid: Column,
      k: Int): DataFrame = {
    val nn = SimilarityOps.bruteTopK(labeled, vec, id, queries, qvec, qid, k)
    val lbl = labeled.select(id.as("neighbor_id"), label.as("pred_label"))
    val votes = nn.join(lbl, "neighbor_id")
      .groupBy("query_id", "pred_label").agg(count(lit(1)).as("votes"))
    // per-query argmax over (votes desc, label asc) as a map-side-combined
    // min_by aggregate — same selection as the old row_number window,
    // without the window's per-partition sort
    votes.groupBy("query_id")
      .agg(min_by(struct(col("pred_label"), col("votes")),
        struct(negate(col("votes")), col("pred_label"))).as("__m"))
      .select(col("query_id"), col("__m.pred_label").as("pred_label"),
        col("__m.votes").as("votes"))
  }

  /** Isotonic (PAV) calibration of a bucketed reliability table: given
    * per-bucket trial/success counts keyed by an ordered confidence
    * bucket, returns each bucket's raw rate and the pool-adjacent-
    * violators fit — the monotone success-probability curve that turns a
    * raw confidence score into a trustworthy probability.
    *
    * Distributed/driver split on the MLlib line: the corpus-sized work
    * (scoring + bucketing) happens upstream; PAV itself is inherently
    * sequential but runs on the BUCKET table (tens of rows), so it
    * collects, pools with exact integer (successes, trials) weights —
    * merge order cannot drift the result — and returns the curve for a
    * broadcast-join back onto predictions. */
  def pavCalibrate(reliability: DataFrame, bucket: Column, n: Column,
      nPos: Column): DataFrame = {
    val spark = reliability.sparkSession
    import spark.implicits._
    val rows = reliability
      .select(bucket.cast("long").as("b"), n.cast("long").as("n"),
        nPos.cast("long").as("p"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // pool-adjacent-violators over (trials, successes) blocks
    val stack = scala.collection.mutable.ArrayBuffer[(Long, Long, List[Long])]()
    rows.foreach { case (b, nn, pp) =>
      var cur = (nn, pp, List(b))
      while (stack.nonEmpty && {
        val (tn, tp, _) = stack.last
        // prev rate > cur rate  ⇔  tp·curN > curP·tn  (integer-exact)
        tp * cur._1 > cur._2 * tn
      }) {
        val (tn, tp, tb) = stack.remove(stack.size - 1)
        cur = (tn + cur._1, tp + cur._2, tb ++ cur._3)
      }
      stack += cur
    }
    val out = stack.flatMap { case (nn, pp, bs) =>
      val cal = math.rint(pp.toDouble / nn.toDouble * 1e6) / 1e6
      bs.map(b => (b, cal))
    }.toMap
    rows.toSeq.map { case (b, nn, pp) =>
      (b, nn, pp, math.rint(pp.toDouble / nn.toDouble * 1e6) / 1e6, out(b))
    }.toDF("bucket", "n", "n_pos", "rate", "calibrated")
  }

  /** Exact AUC (area under the ROC curve) of an integer score against a
    * binary label, with standard average-rank tie handling — the
    * threshold-free discrimination metric for any scorer in the pipeline
    * (quality gates, dedup confirms, classifiers).
    *
    * Rank-based Mann-Whitney form, kept integer to the end:
    * `AUC = (2·ΣR⁺ − P(P+1)) / (2·P·N)` where R⁺ are average ranks of
    * positives ascending by score; a tie group's average rank doubles to
    * the exact integer `minRank + maxRank`.  The heavy pass is one
    * group-by-score aggregate; ranks come from the range-partitioned
    * [[graft.core.Ranker]] cumsum over the SCORE GROUPS (distinct-score-
    * bounded, not row-bounded) — no single-partition window, no doubles
    * until the final division.  Returns one row
    * (n_pos, n_neg, auc). */
  def exactAuc(df: DataFrame, score: Column, label: Column): DataFrame = {
    val groups = df.select(score.cast("long").as("s"),
        when(label, 1L).otherwise(0L).as("y"))
      .groupBy("s").agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
    val ranked = graft.core.Ranker.withRank(groups, "__r", col("s"))
    val (cum, _) = graft.core.Ranker.withCumsumLongAndTotal(
      ranked, "__r", col("cnt"), "__cum")
    cum
      .select(col("cnt"), col("pos"),
        // 2·avgRank over the group = minRank + maxRank (exact integer)
        ((col("__cum") - col("cnt") + 1) + col("__cum")).as("r2"))
      .agg(sum("pos").as("p"), sum(col("cnt") - col("pos")).as("n"),
        sum(col("pos") * col("r2")).as("sr2"))
      .select(col("p").as("n_pos"), col("n").as("n_neg"),
        round((col("sr2") - col("p") * (col("p") + 1)).cast("double") /
          (lit(2) * col("p") * col("n")).cast("double"), 6).as("auc"))
  }

  /** Exact precision/recall curve: one row per distinct score threshold
    * (classify positive when `score ≥ s`), with TP/FP counts and 6-dp
    * precision/recall — [[exactAuc]]'s companion when a THRESHOLD must
    * actually be picked.  Same shape: a group-by-score aggregate, then a
    * Ranker cumsum in DESCENDING score order (distinct-score-bounded), so
    * the curve costs O(distinct scores) after one corpus pass. */
  def prCurve(df: DataFrame, score: Column, label: Column): DataFrame = {
    val groups = df.select(score.cast("long").as("s"),
        when(label, 1L).otherwise(0L).as("y"))
      .groupBy("s").agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
    val ranked = graft.core.Ranker.withRank(groups, "__r", col("s").desc)
    val (cumPos, totPos) = graft.core.Ranker.withCumsumLongAndTotal(
      ranked, "__r", col("pos"), "tp")
    val (cum, _) = graft.core.Ranker.withCumsumLongAndTotal(
      cumPos, "__r", col("cnt"), "__cumAll")
    cum.select(col("s").as("threshold"), col("tp"),
      (col("__cumAll") - col("tp")).as("fp"),
      round(col("tp").cast("double") / col("__cumAll").cast("double"), 6)
        .as("precision"),
      round(col("tp").cast("double") / lit(totPos).cast("double"), 6)
        .as("recall"))
  }

  /** Distributed full-batch gradient-descent logistic regression with a
    * RATIONAL sigmoid — engine-reproducible by construction.  Each
    * iteration is one combinable aggregate: per-row probability
    * `p = 0.5 + z/(2·(1+|z|))` (the fast sigmoid: only +,*,/,abs — no
    * libm exp, whose last-ulp varies across runtimes), residual gradients
    * floored to exact integer micro-units and long-summed, then a driver
    * coefficient update with fixed operand order.  Every cross-engine
    * replay of the same iteration count reproduces the coefficients
    * BIT-EXACTLY (the ml_logreg oracle unrolls the iterations as
    * generated CTEs).  Features should be pre-scaled to ~unit range.
    *
    * Corpus work is `iters` aggregates; driver work is O(features).
    * Returns one row (b0, b1, b2) — intercept first. */
  def logregGd(df: DataFrame, x1: Column, x2: Column, y: Column,
      iters: Int, eta: Double): DataFrame = {
    val base = df.select(x1.cast("double").as("x1"),
      x2.cast("double").as("x2"), y.cast("double").as("y"))
    var b0 = 0.0; var b1 = 0.0; var b2 = 0.0
    for (_ <- 1 to iters) {
      val z = lit(b0) + lit(b1) * col("x1") + lit(b2) * col("x2")
      val p = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
      val r = p - col("y")
      val row = base.agg(
        count(lit(1)).as("n"),
        sum(floor(r * lit(1000000.0))).as("g0"),
        sum(floor(r * col("x1") * lit(1000000.0))).as("g1"),
        sum(floor(r * col("x2") * lit(1000000.0))).as("g2")).head()
      val n = row.getLong(0).toDouble
      b0 -= eta * ((row.getLong(1) / 1000000.0) / n)
      b1 -= eta * ((row.getLong(2) / 1000000.0) / n)
      b2 -= eta * ((row.getLong(3) / 1000000.0) / n)
    }
    val spark = df.sparkSession
    import spark.implicits._
    Seq((b0, b1, b2)).toDF("b0", "b1", "b2")
  }

  /** Fully distributed, engine-reproducible Lloyd k-means: vectors are
    * integerized to exact micro-units, every distance is an exact long
    * sum of squared integer differences, centroid updates are integer
    * truncating division (Spark `div` == DuckDB `//` toward zero), and
    * ties (equal distance) resolve to the lowest centroid id — so the
    * whole trajectory is bit-identical under any partitioning AND
    * replayable in a generated-CTE SQL oracle (`ml_kmeans_lloyd`).
    * Initialization is the k lowest-id vectors; a centroid that loses all
    * members is dropped (documented, matched by the oracle).
    *
    * Per iteration: one broadcast of k×d ints, one distributed
    * assignment + two combinable aggregates — corpus work is O(n·k·d)
    * map-side, driver work O(k·d).  Returns the long-form
    * (cid, j, val) table: j = -1 carries the cluster size, j = 1..d the
    * centroid coordinates (micro-units). */
  def kmeansLloyd(df: DataFrame, vec: Column, id: Column, k: Int,
      iters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val iv = df.select(id.cast("long").as("vec_id"),
      transform(vec.cast("array<double>"),
        x => floor(x * lit(1000000.0)).cast("long")).as("v"))
    var cents: Seq[(Int, Seq[Long])] = iv.orderBy("vec_id").limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Long](1)) }.toSeq
    var counts: Map[Int, Long] = Map.empty
    for (_ <- 1 to iters) {
      val centDf = cents.toDF("cid", "c")
      val assigned = iv.crossJoin(broadcast(centDf))
        .withColumn("d", aggregate(
          zip_with(col("v"), col("c"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x))
        .groupBy("vec_id")
        .agg(min(struct(col("d"), col("cid"))).as("m"),
          first(col("v")).as("v"))
        .select(col("m.cid").as("cid"), col("v"))
      val nBy = assigned.groupBy("cid").agg(count(lit(1)).as("n"))
      val sums = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("j0", "x")))
        .groupBy("cid", "j0").agg(sum("x").as("s"))
        .join(nBy, "cid")
        // truncating integer division in an engine-agnostic form: the
        // numerator is made exactly divisible first (Spark's `div` floors
        // negative quotients; DuckDB's `//` truncates — subtracting the
        // truncation remainder, whose sign follows the dividend in BOTH
        // engines, removes the ambiguity)
        .select(col("cid"), col("j0"), expr("(s - s % n) div n").as("cj"),
          col("n"))
        .collect()
      counts = sums.map(r => r.getInt(0) -> r.getLong(3)).toMap
      cents = sums.groupBy(_.getInt(0)).toSeq.map { case (cid, rows) =>
        (cid, rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq)
      }.sortBy(_._1)
    }
    cents.flatMap { case (cid, c) =>
      (cid, -1, counts(cid)) +:
        c.zipWithIndex.map { case (x, j) => (cid, j + 1, x) }
    }.toDF("cid", "j", "val")
  }

  /** Within-cluster SSE (inertia) of the [[kmeansLloyd]] run: re-assigns
    * against the final centroids and sums the exact long distances per
    * cluster — the elbow-plot quantity, exact to the micro-unit² and
    * therefore engine-reproducible.  One more broadcast + one combinable
    * aggregate on top of the fit. */
  def kmeansInertia(df: DataFrame, vec: Column, id: Column, k: Int,
      iters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val fit = kmeansLloyd(df, vec, id, k, iters)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val cents = fit.filter(_._2 > 0).groupBy(_._1).toSeq
      .map { case (cid, rows) =>
        (cid, rows.sortBy(_._2).map(_._3).toSeq) }
    val centDf = cents.toDF("cid", "c")
    val iv = df.select(id.cast("long").as("vec_id"),
      transform(vec.cast("array<double>"),
        x => floor(x * lit(1000000.0)).cast("long")).as("v"))
    iv.crossJoin(broadcast(centDf))
      .withColumn("d", aggregate(
        zip_with(col("v"), col("c"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
      .groupBy("vec_id")
      .agg(min(struct(col("d"), col("cid"))).as("m"))
      .select(col("m.cid").as("cid"), col("m.d").as("d"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"),
        sum(col("d").cast("decimal(38,0)")).as("inertia"))
      .select(col("cid"), col("n"),
        (col("inertia").cast("double") / 1e12).as("inertia"))
  }

  /** General-d ridge regression by normal equations: ONE distributed pass
    * collects the (d+1)×(d+1) Gram sufficient statistics (intercept
    * column included) and XᵀY as exact long sums over integerized
    * features, then the driver solves the tiny (XᵀX + λI)θ = XᵀY system
    * by Gaussian elimination with partial pivoting — corpus-sized work is
    * one combinable aggregate; the solve is O(d³) on d tens, not rows.
    * λ is applied to the feature diagonal only (the intercept is not
    * shrunk).  Features/target must already be integer-scaled columns
    * (cents/milli) so the sums are exact and the fit is deterministic
    * under any partitioning.  Returns (feature index, coefficient) with
    * index 0 = intercept. */
  def ridgeNormal(df: DataFrame, xs: Seq[Column], y: Column,
      lambda: Double): Seq[(Int, Double)] = {
    val d = xs.size + 1
    val cols = lit(1L) +: xs.map(_.cast("long"))
    val sums = (for { i <- 0 until d; j <- i until d }
      yield sum(cols(i) * cols(j)).as(s"g_${i}_$j")) ++
      (0 until d).map(i => sum(cols(i) * y.cast("long")).as(s"b_$i"))
    val row = df.agg(sums.head, sums.tail: _*).head()
    val a = Array.ofDim[Double](d, d + 1)
    var idx = 0
    for { i <- 0 until d; j <- i until d } {
      a(i)(j) = row.getLong(idx).toDouble
      a(j)(i) = a(i)(j)
      idx += 1
    }
    for (i <- 0 until d) a(i)(d) = row.getLong(idx + i).toDouble
    for (i <- 1 until d) a(i)(i) += lambda
    for (p <- 0 until d) { // elimination with partial pivoting
      val best = (p until d).maxBy(r => math.abs(a(r)(p)))
      val t = a(p); a(p) = a(best); a(best) = t
      for (r <- p + 1 until d) {
        val f = a(r)(p) / a(p)(p)
        for (c <- p to d) a(r)(c) -= f * a(p)(c)
      }
    }
    val theta = Array.ofDim[Double](d)
    for (p <- d - 1 to 0 by -1) {
      var s = a(p)(d)
      for (c <- p + 1 until d) s -= a(p)(c) * theta(c)
      theta(p) = s / a(p)(p)
    }
    theta.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
  }
}
