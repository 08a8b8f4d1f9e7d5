package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core._
import graft.functions.SparseToDense
import graft.ops._
import graft.streaming.StreamingOps

/** Round-4 coverage queries: the SURVEY §2 operators that previously had
  * library support but no oracle-checked query — multi-file union (S2),
  * sort-before-fetch order (O5), epoch seed management (B6), materialize+
  * densify+project (U5), IVF coarse assignment (ANN scale path), sliding
  * windows, the multimodal stub decoder (full feature surface), and the
  * auto-config advisor (A4–A6, rows-only: SizeEstimator is JVM-specific).
  */
object CoverageQueries {
  import CoreQueries.li

  import Tables.{docs, emb, events}

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S2: ordered union of per-file collections with rowId offsets (the
    // AnnCollection analogue — same file read twice stands in for 2 files)
    "s2_union_files" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet").select("c_custkey")
      ScCollection.union(Seq("f0" -> cust, "f1" -> cust), Seq(col("c_custkey")))
        .df.select(col("row_id"), col("source_file"), col("c_custkey"))
    }),

    // O5: sort-before-fetch — within every fetch window the storage I/O
    // order is ascending row_id regardless of the shuffled epoch order.
    // Built from the strategy plan directly: the within-fetch yield
    // permutation is irrelevant to I/O order, so its window is skipped.
    "o5_fetch_order" -> ((s, dir) => {
      val plan = BlockShuffling(blockSize = 32, rng = Rng.Md5)
        .plan(li(s, dir), 42L)
        .withColumn("fetch_id", floor(col(SamplingStrategy.Ord) / 128))
      val w = Window.partitionBy("fetch_id").orderBy("row_id")
      plan
        .withColumn("io_pos", (row_number().over(w) - 1).cast("long"))
        .select(col("l_orderkey"), col("l_linenumber"), col("fetch_id"),
          col("io_pos"))
    }),

    // B6: epoch seed derivation — same base seed, epochs 0/1 give distinct
    // deterministic orders (seed + 1000*epoch)
    "b6_epoch_divergence" -> ((s, dir) => {
      // two epoch plans + a join consume the collection ~4 times: use the
      // prepare-once handle so the rank sort runs once
      val c = ScCollection.fromParquetCached(s, s"$dir/part.parquet",
        Seq("p_partkey"))
      val ds = ScDataset(c, BlockShuffling(blockSize = 8, rng = Rng.Md5),
        batchSize = 64, seed = 42L)
      val e0 = ds.strategy.plan(c, ds.epochSeed(0))
        .select(col("row_id"), col("p_partkey"),
          col(SamplingStrategy.Ord).as("ord_e0"))
      val e1 = ds.strategy.plan(c, ds.epochSeed(1))
        .select(col("row_id"), col(SamplingStrategy.Ord).as("ord_e1"))
      e0.join(e1, "row_id").select("p_partkey", "ord_e0", "ord_e1")
    }),

    // U5: AnnData materialize analogue — densify sparse rows AND project an
    // obs metadata column in one pass (broadcast dimension join)
    "u5_densify_project" -> ((s, dir) => {
      val sparse = s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(
          struct(col("l_linenumber"), col("l_quantity")))).as("sl"))
        .select(col("l_orderkey"),
          transform(col("sl"), x => x("l_linenumber").cast("long")).as("genes"),
          transform(col("sl"), x => x("l_quantity")).as("exprs"))
      val obs = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      sparse.join(broadcast(obs), Seq("l_orderkey"))
        .select(col("l_orderkey"), col("o_orderpriority"),
          posexplode(SparseToDense.sparseToDense(col("genes"), col("exprs"), 7)))
        .select(col("l_orderkey"), col("o_orderpriority"),
          col("pos").cast("long").as("pos"), col("col").as("val"))
    }),

    // IVF coarse quantizer assignment: nearest-centroid by cosine (the ANN
    // partition key at scale; centroids broadcast)
    "sim_ivf_assign" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.ivfAssign(e, col("embedding"), col("vec_id"),
        e.where(col("vec_id") < 8), col("embedding"), col("vec_id"))
    }),

    // ANN scale path end-to-end: exact cosine ranking restricted to LSH
    // buckets (candidates only — the cross product never materializes)
    "sim_lsh_topk" -> ((s, dir) =>
      SimilarityOps.lshTopK(emb(s, dir), col("embedding"), col("vec_id"),
        dims = 64, planes = 8, seed = 42L, k = 5)),

    // IVF search end-to-end: each query probes its 2 nearest centroids'
    // cells, exact cosine rank within the probed cells only
    "sim_ivf_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.ivfTopK(e, col("embedding"), col("vec_id"),
        e.where(col("vec_id") < 8), col("embedding"), col("vec_id"),
        e.where(col("vec_id") >= 8 && col("vec_id") < 13),
        col("embedding"), col("vec_id"),
        k = 10, nprobe = 2)
    }),

    // Dedup postprocessing: connected components over MinHash LSH candidate
    // pairs — every doc in a pair labeled with the min reachable doc id
    "dd_clusters" -> ((s, dir) =>
      // candidates from the shared landed layout (Tables.minhashCands):
      // same (doc_a, doc_b) set as the inline kernel at (3, 16, 4)
      DedupOps.dedupClusters(Tables.minhashCands(s, dir))),

    // Streaming: sliding 1-hour windows every 30 minutes
    "stream_sliding" -> ((s, dir) =>
      StreamingOps.slidingCounts(events(s, dir), "1 hour", "30 minutes")),

    // Multimodal: stub decoder full surface (dims + fixed-width features)
    "mm_decode" -> ((s, dir) => {
      MultimodalOps.stubDecode(
          MultimodalOps.withPayload(docs(s, dir), col("text")),
          col("payload"), col("doc_id"), dim = 4)
        .toDF()
        .select(col("doc_id"), col("byte_len"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("byte_len"), col("width"), col("height"),
          col("pos").cast("long").as("j"), col("col").as("feat"))
    }),

    // Multimodal: stub resize — decoded feature grid re-sampled (nearest)
    // to 2 entries with new nominal dims
    "mm_resize" -> ((s, dir) => {
      MultimodalOps.stubResize(
          MultimodalOps.stubDecode(
            MultimodalOps.withPayload(docs(s, dir), col("text")),
            col("payload"), col("doc_id"), dim = 4).toDF(),
          w = 32, h = 32, dim2 = 2)
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), col("col").as("feat"))
    }),

    // Exact-dedup keep-projection: lowest-id row per distinct text survives
    "dd_exact_keep" -> ((s, dir) =>
      DedupOps.exactDedup(docs(s, dir), col("text"), col("doc_id"))
        .select("doc_id", "source", "lang")),

    // SimHash blocking: candidate pairs sharing a signature byte
    "dd_simhash_pairs" -> ((s, dir) =>
      DedupOps.simhashCandidates(docs(s, dir), col("text"), col("doc_id"))),

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

    // U2+U3+U4: the full hook pipeline, end-to-end — fetchTransform derives
    // a column on the planned frame, batchAssemble overrides batch
    // extraction with per-batch aggregates, batchTransform finalizes each
    // batch row.  Streaming order keeps the epoch math SQL-expressible.
    "u2_hooks_pipeline" -> ((s, dir) => {
      val c = ScCollection.fromParquet(s, s"$dir/customer.parquet",
        Seq("c_custkey"))
      val hooks = Hooks(
        fetchTransform = df => df.withColumn("acct_cents",
          (col("c_acctbal") * 100).cast("long")),
        // grouped by (fetch_id, batch_id): the plan's fetch_id range
        // partitioning serves the aggregate and the batch order
        batchAssemble = Some((pf, _) =>
          pf.groupBy(col("fetch_id"), col("batch_id"))
            .agg(count(lit(1)).as("n"), sum("acct_cents").as("cents_sum"))),
        batchTransform = bf => bf.withColumn("cents_mean",
          (col("cents_sum") / col("n")).cast("long")))
      ScDataset(c, Streaming(rng = Rng.Md5), batchSize = 128, seed = 42L,
        hooks = hooks)
        .toBatchFrame(0, Nil)
        .select(col("batch_id"), col("n"), col("cents_sum"), col("cents_mean"))
    }),

    // Skewed aggregation: two-phase salted count/sum — results are exactly
    // the plain GROUP BY (integer aggs are associative), which is what the
    // oracle checks; the salting only changes the physical fan-in.
    "skew_salted_agg" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      SkewOps.saltedCount(li, col("l_returnflag"),
          saltSource = col("l_orderkey"))
        .withColumnRenamed("key", "l_returnflag")
        .join(
          SkewOps.saltedSumLong(li, col("l_returnflag"), col("l_quantity"),
              saltSource = col("l_orderkey"))
            .withColumnRenamed("key", "l_returnflag")
            .withColumnRenamed("sum", "qty_sum"),
          Seq("l_returnflag"))
    }),

    // A6: parameter suggestion over a fixed (cores, sampleBytes, batchSize,
    // ram) grid — the pure arithmetic of AutoConfig.suggestFor, which the
    // oracle reproduces in SQL.  The SizeEstimator-based probe (A4/A5,
    // JVM-build-specific, NOT SQL-reproducible) stays exercised by the
    // estimateSampleBytes spec; this query pins the formula itself.
    "a6_autoconfig" -> ((s, dir) => {
      val grid = for {
        cores <- Seq(8, 32, 1000)
        sampleBytes <- Seq(256L, 4096L, 262144L, 1048576L)
        batchSize <- Seq(32, 256)
        ram <- Seq(8L << 30, 64L << 30)
      } yield {
        val sg = AutoConfig.suggestFor(cores, sampleBytes, batchSize, ram)
        (cores.toLong, sampleBytes, batchSize.toLong, ram,
          sg.workers.toLong, sg.fetchFactor.toLong, sg.blockSizeSmall.toLong,
          sg.blockSize.toLong, sg.blockSizeLarge.toLong,
          sg.prefetchFactor.toLong, sg.shufflePartitions.toLong,
          sg.maxPartitionBytes)
      }
      import s.implicits._
      grid.toDF("cores", "sample_bytes", "batch_size", "ram_bytes",
        "workers", "fetch_factor", "block_size_small", "block_size",
        "block_size_large", "prefetch_factor", "shuffle_partitions",
        "max_partition_bytes")
    })
  )

  def oracles: Map[String, String] = Map(
    // invariant oracle: if any point's assigned centroid were not its
    // argmin (or any id out of range), the boolean flips and the hash fails
    "ml_kmeans_ivf" ->
      """SELECT vec_id, true AS argmin_ok, true AS cluster_in_range
        |FROM embeddings""".stripMargin,

    // the suggestFor formula mirrored in SQL over the same fixed grid:
    // workers = clamp(cores/2, 1..16); budget = trunc(0.2·ram);
    // ff = min(1024, 2^floor(log2(max(1, budget/(2·bs·workers·sample)))))
    // via a power-of-two list (no float log2); block tiers ff/2, ff, 2·ff;
    // prefetch ff+1; shuffle = max(2·cores, 32);
    // maxPartitionBytes = clamp(budget/cores, 16 MiB..512 MiB)
    "a6_autoconfig" ->
      """WITH g AS (
        |  SELECT c.cores, sb.sample_bytes, bs.batch_size, r.ram_bytes
        |  FROM (VALUES (8), (32), (1000)) c(cores)
        |  CROSS JOIN (VALUES (256), (4096), (262144), (1048576)) sb(sample_bytes)
        |  CROSS JOIN (VALUES (32), (256)) bs(batch_size)
        |  CROSS JOIN (VALUES (8589934592), (68719476736)) r(ram_bytes)
        |),
        |f AS (
        |  SELECT *,
        |    greatest(1, least(cores // 2, 16)) AS workers,
        |    CAST(trunc(0.2 * ram_bytes) AS BIGINT) AS budget
        |  FROM g
        |),
        |f2 AS (
        |  SELECT *, list_max(list_filter(
        |      [1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024],
        |      p -> p <= greatest(CAST(1 AS BIGINT),
        |        budget // (2 * batch_size * workers * sample_bytes)))) AS ff
        |  FROM f
        |)
        |SELECT CAST(cores AS BIGINT) AS cores,
        |  CAST(sample_bytes AS BIGINT) AS sample_bytes,
        |  CAST(batch_size AS BIGINT) AS batch_size,
        |  CAST(ram_bytes AS BIGINT) AS ram_bytes,
        |  CAST(workers AS BIGINT) AS workers,
        |  CAST(ff AS BIGINT) AS fetch_factor,
        |  CAST(greatest(1, ff // 2) AS BIGINT) AS block_size_small,
        |  CAST(ff AS BIGINT) AS block_size,
        |  CAST(ff * 2 AS BIGINT) AS block_size_large,
        |  CAST(ff + 1 AS BIGINT) AS prefetch_factor,
        |  CAST(greatest(2 * cores, 32) AS BIGINT) AS shuffle_partitions,
        |  CAST(greatest(16777216, least(536870912, budget // cores)) AS BIGINT)
        |    AS max_partition_bytes
        |FROM f2""".stripMargin,

    "s2_union_files" ->
      """WITH r AS (
        |  SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) - 1 AS row_id
        |  FROM customer
        |)
        |SELECT row_id, 'f0' AS source_file, c_custkey FROM r
        |UNION ALL
        |SELECT row_id + (SELECT count(*) FROM customer) AS row_id,
        |       'f1' AS source_file, c_custkey FROM r""".stripMargin,

    "o5_fetch_order" ->
      s"""${CoreQueries.RankedCte},
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'block', '42', (row_id // 32)::VARCHAR)) AS bkey
         |  FROM ranked
         |),
         |o AS (
         |  SELECT l_orderkey, l_linenumber, row_id,
         |         row_number() OVER (ORDER BY bkey, row_id) - 1 AS ord
         |  FROM k
         |),
         |f AS (SELECT *, ord // 128 AS fetch_id FROM o)
         |SELECT l_orderkey, l_linenumber, fetch_id,
         |       row_number() OVER (PARTITION BY fetch_id ORDER BY row_id) - 1 AS io_pos
         |FROM f""".stripMargin,

    "b6_epoch_divergence" ->
      """WITH r AS (
        |  SELECT p_partkey, row_number() OVER (ORDER BY p_partkey) - 1 AS rid
        |  FROM part
        |),
        |a AS (
        |  SELECT p_partkey, row_number() OVER (
        |    ORDER BY md5(concat_ws(':', 'block', '42', (rid // 8)::VARCHAR)), rid) - 1 AS ord_e0
        |  FROM r
        |),
        |b AS (
        |  SELECT p_partkey, row_number() OVER (
        |    ORDER BY md5(concat_ws(':', 'block', '1042', (rid // 8)::VARCHAR)), rid) - 1 AS ord_e1
        |  FROM r
        |)
        |SELECT p_partkey, ord_e0, ord_e1 FROM a JOIN b USING (p_partkey)""".stripMargin,

    "u5_densify_project" ->
      """WITH pos AS (SELECT unnest(generate_series(0, 6)) AS pos),
        |o AS (SELECT DISTINCT l_orderkey FROM lineitem),
        |lv AS (
        |  SELECT l_orderkey, l_linenumber, max(l_quantity) AS q
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT o.l_orderkey, ord.o_orderpriority, p.pos, coalesce(l.q, 0.0) AS val
        |FROM o CROSS JOIN pos p
        |JOIN orders ord ON ord.o_orderkey = o.l_orderkey
        |LEFT JOIN lv l
        |  ON l.l_orderkey = o.l_orderkey AND l.l_linenumber = p.pos + 1""".stripMargin,

    "sim_ivf_assign" ->
      """WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
        |s AS (
        |  SELECT e.vec_id, c.centroid_id,
        |    round(
        |      list_reduce(list_transform(list_zip(e.embedding, c.cv),
        |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
        |      (sqrt(list_reduce(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
        |       sqrt(list_reduce(list_transform(c.cv, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
        |      6) AS cos
        |  FROM embeddings e CROSS JOIN c
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
        |  FROM s
        |)
        |SELECT vec_id, centroid_id, cos FROM r WHERE rn = 1""".stripMargin,

    "sim_ivf_topk" ->
      """WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
        |asg0 AS (
        |  SELECT e.vec_id AS neighbor_id, c.centroid_id,
        |    round(
        |      list_reduce(list_transform(list_zip(e.embedding, c.cv),
        |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
        |      (sqrt(list_reduce(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
        |       sqrt(list_reduce(list_transform(c.cv, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
        |      6) AS acos
        |  FROM embeddings e CROSS JOIN c
        |),
        |asg AS (
        |  SELECT neighbor_id, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY neighbor_id ORDER BY acos DESC, centroid_id) AS rn
        |    FROM asg0) WHERE rn = 1
        |),
        |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id >= 8 AND vec_id < 13),
        |qp0 AS (
        |  SELECT q.query_id, q.qv, c.centroid_id,
        |    round(
        |      list_reduce(list_transform(list_zip(q.qv, c.cv),
        |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
        |      (sqrt(list_reduce(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
        |       sqrt(list_reduce(list_transform(c.cv, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
        |      6) AS ccos
        |  FROM q CROSS JOIN c
        |),
        |qp AS (
        |  SELECT query_id, qv, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, centroid_id) AS rn
        |    FROM qp0) WHERE rn <= 2
        |),
        |s AS (
        |  SELECT qp.query_id, a.neighbor_id,
        |    round(
        |      list_reduce(list_transform(list_zip(qp.qv, e.embedding),
        |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
        |      (sqrt(list_reduce(list_transform(qp.qv, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
        |       sqrt(list_reduce(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
        |      6) AS cos
        |  FROM asg a
        |  JOIN qp ON a.centroid_id = qp.centroid_id
        |  JOIN embeddings e ON e.vec_id = a.neighbor_id
        |  WHERE a.neighbor_id <> qp.query_id
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) - 1 AS rank
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank < 10""".stripMargin,

    "dd_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
        |  FROM documents
        |),
        |shg AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(t) >= 3
        |              THEN list_transform(generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))
        |              ELSE [array_to_string(t, ' ')] END) AS shs
        |  FROM toks
        |),
        |sig AS (
        |  SELECT doc_id,
        |         list_transform(generate_series(0, 15), j ->
        |           list_min(list_transform(shs, sgl ->
        |             (('0x' || substr(md5(sgl), 1, 15))::BIGINT
        |              + j * ('0x' || substr(md5(sgl), 17, 14))::BIGINT)
        |             % 1152921504606846976))) AS sg
        |  FROM shg
        |),
        |b AS (SELECT doc_id, sg, unnest(generate_series(0, 3)) AS band FROM sig),
        |bk AS (
        |  SELECT doc_id, band,
        |         md5(array_to_string(sg[band * 4 + 1 : band * 4 + 4], ',')) AS band_key
        |  FROM b
        |),
        |mp AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bk x JOIN bk y
        |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
        |),
        |e AS (SELECT doc_a AS a, doc_b AS bb FROM mp UNION ALL SELECT doc_b, doc_a FROM mp),
        |n AS (SELECT DISTINCT a AS node FROM e),
        |reach(node, r) AS (
        |  SELECT node, node FROM n
        |  UNION
        |  SELECT e.a, reach.r FROM e JOIN reach ON reach.node = e.bb
        |)
        |SELECT node AS doc_id, min(r) AS keeper_id FROM reach GROUP BY node""".stripMargin,

    "sim_lsh_topk" ->
      """WITH b AS (
        |  SELECT vec_id, embedding,
        |    list_reduce(list_transform(generate_series(0, 7), j ->
        |      CASE WHEN
        |        list_reduce(list_transform(generate_series(0, 63), i ->
        |          embedding[i + 1]::DOUBLE *
        |          (CASE WHEN (('0x' || substr(md5(concat_ws(':', 'plane', '42', j::VARCHAR, i::VARCHAR)), 1, 8))::BIGINT
        |                      / CAST(4294967296.0 AS DOUBLE)) >= 0.5
        |                THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)),
        |          (a, b) -> a + b) > 0.0
        |      THEN (1 << j) ELSE 0 END), (a, b) -> a + b) AS bucket
        |  FROM embeddings
        |),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(
        |      list_reduce(list_transform(list_zip(q.embedding, c.embedding),
        |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
        |      (sqrt(list_reduce(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
        |       sqrt(list_reduce(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
        |      6) AS cos
        |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) - 1 AS rank
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank < 5""".stripMargin,

    "stream_sliding" ->
      """WITH k AS (SELECT unnest([0, 1]) AS s),
        |e AS (SELECT epoch_ms(ts) AS tm, event_type, value FROM events),
        |w AS (
        |  SELECT (tm // 1800000 - s) * 1800000 AS window_start_ms, event_type, value
        |  FROM e CROSS JOIN k
        |)
        |SELECT window_start_ms, event_type, count(*) AS cnt,
        |       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |         / 1000000.0 AS value_sum
        |FROM w GROUP BY 1, 2""".stripMargin,

    "dd_exact_keep" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE doc_id IN (
        |  SELECT min(doc_id) FROM documents GROUP BY md5(text)
        |)""".stripMargin,

    "dd_simhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
        |  FROM documents
        |),
        |shg AS (
        |  SELECT doc_id,
        |         CASE WHEN len(t) >= 3
        |              THEN list_transform(generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))
        |              ELSE [array_to_string(t, ' ')] END AS shs
        |  FROM toks
        |),
        |h AS (
        |  SELECT doc_id,
        |         list_transform(shs, tk -> ('0x' || substr(md5(tk), 1, 15))::BIGINT) AS hs
        |  FROM shg
        |),
        |sg AS (
        |  SELECT doc_id,
        |       CAST(list_reduce(list_transform(generate_series(0, 59), i ->
        |         CASE WHEN list_reduce(list_transform(hs, hv ->
        |                CASE WHEN ((hv >> i) & 1) = 1 THEN 1 ELSE -1 END), (a, b) -> a + b) > 0
        |              THEN (1::BIGINT << i) ELSE 0::BIGINT END), (a, b) -> a + b) AS BIGINT) AS sh
        |  FROM h
        |),
        |b AS (
        |  SELECT doc_id, band, (sh >> (15 * band)) & 32767 AS key
        |  FROM sg CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band)
        |)
        |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |FROM b x JOIN b y
        |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id""".stripMargin,

    "mm_resize" ->
      """WITH j AS (SELECT unnest(generate_series(0, 1)) AS j),
        |d AS (SELECT doc_id, md5(text) AS h FROM documents)
        |SELECT doc_id, CAST(32 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
        |       j.j AS j,
        |       ('0x' || substr(h, (j.j * 2) * 2 + 1, 2))::INT / 255.0 AS feat
        |FROM d CROSS JOIN j""".stripMargin,

    "skew_salted_agg" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "u2_hooks_pipeline" ->
      """WITH r AS (
        |  SELECT c_acctbal, row_number() OVER (ORDER BY c_custkey) - 1 AS rid
        |  FROM customer
        |),
        |b AS (
        |  SELECT rid // 128 AS batch_id,
        |         CAST(trunc(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM r
        |)
        |SELECT batch_id, count(*) AS n,
        |       CAST(sum(cents) AS BIGINT) AS cents_sum,
        |       CAST(trunc(CAST(sum(cents) AS DOUBLE) / count(*)) AS BIGINT) AS cents_mean
        |FROM b GROUP BY batch_id""".stripMargin,

    "mm_decode" ->
      """WITH j AS (SELECT unnest(generate_series(0, 3)) AS j),
        |d AS (
        |  SELECT doc_id, octet_length(encode(text)) AS byte_len, md5(text) AS h
        |  FROM documents
        |)
        |SELECT doc_id, byte_len,
        |  CAST(64 + (('0x' || substr(h, 1, 2))::INT & 63) AS BIGINT) AS width,
        |  CAST(64 + (('0x' || substr(h, 3, 2))::INT & 63) AS BIGINT) AS height,
        |  j.j AS j,
        |  ('0x' || substr(h, j.j * 2 + 1, 2))::INT / 255.0 AS feat
        |FROM d CROSS JOIN j""".stripMargin
  )
}
