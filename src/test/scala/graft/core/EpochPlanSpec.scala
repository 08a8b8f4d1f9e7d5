package graft.core

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Epoch plans repeated over one collection, the way a trainer runs them:
  * the delivered batch streams are pinned by md5, a warm ClassBalanced
  * epoch's Spark job count is bounded, and the label counts a weighted
  * strategy keeps between epochs never serve another collection. */
class EpochPlanSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  // plate-ordered cells, each plate of 64 one label drawn 70/20/10 — the
  // imbalanced, layout-correlated shape of the loader benchmark's input
  private val N = 6000L
  private def cells = spark.range(N).toDF("k")
    .withColumn("u", pmod(xxhash64(lit(7L), floor(col("k") / 64)), lit(100)))
    .withColumn("label",
      when(col("u") < 70, "A549").when(col("u") < 90, "HepG2").otherwise("K562"))
    .drop("u")

  private lazy val coll = ScCollection.fromDataFrame(cells, col("k"))

  private val cols = Seq(ScCollection.RowId, "k", "label")

  private def strategies: Seq[(String, SamplingStrategy)] = Seq(
    "streaming_shuffle" -> Streaming(shuffle = true),
    "block1024" -> BlockShuffling(blockSize = 1024),
    "class_balanced" ->
      ClassBalancedSampling(col("label"), totalSize = N, blockSize = 1024),
    "class_balanced_noreplace" -> ClassBalancedSampling(col("label"),
      totalSize = N / 2, blockSize = 1024, replace = false),
    "mixture" -> MixtureSampling(col("label"),
      Map("A549" -> 1L, "HepG2" -> 1L, "K562" -> 2L), totalSize = N,
      blockSize = 1024))

  private def dataset(sc: ScCollection, s: SamplingStrategy) =
    ScDataset(sc, s, batchSize = 64, fetchFactor = 16, seed = 7L)

  /** One epoch's delivered batches, drained through the prefetched path. */
  private def drain(ds: ScDataset, epoch: Int, c: Seq[String] = cols): Vector[Row] = {
    val it = ds.toBatchesPrefetched(epoch, c)
    try it.toVector finally it.close()
  }

  private def md5(rows: Seq[Row]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => d.update((r.toString + "\n").getBytes("UTF-8")))
    d.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("delivered batch streams over epochs 0 and 1 are pinned by md5") {
    val got = strategies.map { case (name, s) =>
      val ds = dataset(coll, s)
      val rows = (0 to 1).flatMap(e => drain(ds, e))
      CacheScope.release()
      assert(rows.size == 2 * ds.batchCount, s"$name: ${rows.size} batches")
      name -> md5(rows)
    }.toMap
    val drift = EpochPlanSpec.PinnedStreams.toSeq.sorted.collect {
      case (name, want) if got(name) != want => s"$name: ${got(name)} (pinned $want)"
    }
    assert(drift.isEmpty, drift.mkString("stream drift:\n", "\n", ""))
  }

  test("a warm ClassBalanced epoch (toBatchesPrefetched plus a full drain) " +
      "runs at most 12 Spark jobs") {
    // the loader benchmark's collection: 32768 cells in four parquet files,
    // 32 sorted gene ids and float expressions each, opened once and cached
    val size = 32768L
    val raw = spark.range(0, size, 1, 4).select(col("id").as("cell_id"),
      when(pmod(xxhash64(lit(7L), floor(col("id") / 64)), lit(100)) < 70, "A549")
        .otherwise("K562").as("cell_line"),
      array_sort(transform(sequence(lit(0), lit(31)), j =>
        pmod(xxhash64(lit(7L), col("id"), j), lit(62713L)))).as("genes"),
      transform(sequence(lit(0), lit(31)), j =>
        (pmod(xxhash64(lit(8L), col("id"), j), lit(10000)) / 1000.0)
          .cast("float")).as("expressions"))
    graft.TestFiles.withTempDir("epoch-jobs") { dir =>
      raw.write.parquet(s"$dir/cells")
      val sc = ScCollection.fromParquetCached(spark, s"$dir/cells",
        Seq("cell_id"), Seq("cell_line", "genes", "expressions"))
      try {
        sc.df.foreach((_: Row) => ()) // fills the cache
        val st = ClassBalancedSampling(col("cell_line"), totalSize = size,
          blockSize = 1024)
        val payload = Seq(ScCollection.RowId, "cell_line", "genes", "expressions")
        drain(dataset(sc, st), 0, payload) // warm: counts, length, code paths
        CacheScope.release()
        val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
        val listener = new SparkListener {
          override def onJobStart(j: SparkListenerJobStart): Unit = {
            jobs.incrementAndGet(); ()
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val delivered =
          try {
            val rows = drain(dataset(sc, st), 1, payload)
            Thread.sleep(500) // let the job-start events reach the bus
            rows
          } finally spark.sparkContext.removeSparkListener(listener)
        CacheScope.release()
        assert(delivered.map(_.getLong(1)).sum == size)
        assert(jobs.get() <= 12, s"a warm ClassBalanced epoch ran ${jobs.get()} jobs")
      } finally sc.df.unpersist(blocking = true)
    }
  }

  test("one weighted strategy instance over A, A.where(...) and A again " +
      "streams what a fresh instance streams for each collection") {
    val small = ScCollection.fromDataFrame(cells.where(col("k") < 1500), col("k"))
    val sub = small.where(col("k") % 3 =!= 1 || col("label") === "K562")
    val full = small.df
    val makers: Seq[(String, () => SamplingStrategy)] = Seq(
      "class_balanced" -> (() =>
        ClassBalancedSampling(col("label"), totalSize = 900, blockSize = 16)),
      "class_balanced_noreplace" -> (() => ClassBalancedSampling(col("label"),
        totalSize = 400, blockSize = 16, replace = false)),
      "class_balanced_global" -> (() => ClassBalancedSampling(col("label"),
        totalSize = 900, blockSize = 16, countsFrom = Some(full))),
      "mixture" -> (() => MixtureSampling(col("label"),
        Map("A549" -> 1L, "HepG2" -> 3L, "K562" -> 2L), totalSize = 900,
        blockSize = 16)))
    def stream(sc: ScCollection, s: SamplingStrategy) = {
      val ds = ScDataset(sc, s, batchSize = 32, fetchFactor = 4, seed = 11L)
      val rows = drain(ds, 2)
      CacheScope.release()
      rows
    }
    makers.foreach { case (name, make) =>
      val shared = make()
      Seq("A" -> small, "A.where" -> sub, "A again" -> small).foreach {
        case (which, sc) =>
          val want = stream(sc, make())
          val same = want.nonEmpty && stream(sc, shared) == want
          assert(same, s"$name over $which: the shared instance's stream differs")
      }
    }
  }
}

object EpochPlanSpec {
  /** md5 of the delivered rows (`Row.toString` per batch, newline-ended)
    * of epochs 0 and 1, seed 7, batch 64, fetch factor 16. */
  val PinnedStreams: Map[String, String] = Map(
    "streaming_shuffle" -> "abd109640bbbc22fc2f9944dcfb245dd",
    "block1024" -> "5db136fe924435dbf9e60898e91dabbc",
    "class_balanced" -> "a3f3b600d7be09f6d20f50982421e923",
    "class_balanced_noreplace" -> "05310099b9b66cca154b2934800fdb44",
    "mixture" -> "1c47b1616f54f2c7b0d4e7d873cd3bde")
}
