package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The batch path against the plain plan it replaces.  The reference
  * stream is assembled here, independently of the library's batch code:
  * `planFrame` → `groupBy(batch_id)` with `array_sort(collect_list)` →
  * `orderBy(batch_id)` → collect.  Every delivery route must return the
  * same batches in the same order, for every strategy shape, under 1, 7
  * and 32 shuffle partitions with AQE on and off — and the default batch
  * frame must move the payload through exactly one shuffle exchange. */
class BatchStreamSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private val cols = Seq("k", "label")

  // 1237 rows: not a multiple of the batch, block or fetch size, so short
  // tails appear everywhere
  private lazy val sc = ScCollection.fromDataFrame(
    spark.range(1237L).toDF("k")
      .withColumn("label", pmod(col("k") * 7919L, lit(3)))
      .withColumn("w", pmod(col("k"), lit(5)) + 1),
    col("k"))

  private def datasets: Seq[(String, ScDataset)] = Seq(
    "streaming" -> ScDataset(sc, Streaming(), batchSize = 32, fetchFactor = 4),
    "streaming_shuffle" ->
      ScDataset(sc, Streaming(shuffle = true), batchSize = 32, fetchFactor = 4),
    "block" -> ScDataset(sc, BlockShuffling(blockSize = 50), batchSize = 32,
      fetchFactor = 4),
    "block_droplast" -> ScDataset(sc,
      BlockShuffling(blockSize = 50, dropLast = true), batchSize = 32,
      fetchFactor = 4),
    "class_balanced" -> ScDataset(sc,
      ClassBalancedSampling(col("label"), totalSize = 900, blockSize = 16),
      batchSize = 32, fetchFactor = 4),
    "weighted_noreplace" -> ScDataset(sc,
      BlockWeightedSampling(col("w"), totalSize = 700, blockSize = 16,
        replace = false), batchSize = 32, fetchFactor = 4),
    "dataset_droplast" -> ScDataset(sc, Streaming(shuffle = true),
      batchSize = 32, fetchFactor = 4, dropLast = true),
    "fetch_factor_1" -> ScDataset(sc, BlockShuffling(blockSize = 50),
      batchSize = 32, fetchFactor = 1))

  private def reference(ds: ScDataset, epoch: Int): Vector[Row] = {
    val payload = struct((col("pos_in_batch") +: cols.map(col)): _*)
    ds.planFrame(epoch).groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n"), array_sort(collect_list(payload)).as("rows"))
      .orderBy(col("batch_id")).collect().toVector
  }

  // shuffle exchanges on the payload path; a broadcast side (the class
  // counts of ClassBalancedSampling, say) is a separate, driver-sized plan
  private def shuffles(df: DataFrame): Int = {
    def count(p: SparkPlan): Int = p match {
      case _: BroadcastExchangeLike | _: BroadcastQueryStageExec => 0
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case q: QueryStageExec => count(q.plan)
      case e: ShuffleExchangeExec => 1 + count(e.child)
      case other => other.children.map(count).sum
    }
    count(df.queryExecution.executedPlan)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def sameRows(what: String, got: Seq[Row], want: Vector[Row]): Unit = {
    assert(got.size == want.size, s"$what: ${got.size} batches, want ${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"$what: batch #$i differs:\n got  $g\n want $w")
    }
  }

  test("every delivery route equals the plain plan's batch stream, row for " +
      "row and in order, under 1/7/32 shuffle partitions with AQE on and off") {
    val epoch = 3
    // the stream is a pure function of (seed, epoch): the reference must
    // not move with the physical configuration either
    val baseline = datasets.map { case (name, ds) => name -> reference(ds, epoch) }.toMap
    for (parts <- Seq("1", "7", "32"); aqe <- Seq("true", "false"))
      withConf("spark.sql.shuffle.partitions" -> parts,
          "spark.sql.adaptive.enabled" -> aqe) {
        datasets.foreach { case (name, ds) =>
          val at = s"$name [partitions=$parts aqe=$aqe]"
          val want = reference(ds, epoch)
          sameRows(s"$at reference vs default configuration", want, baseline(name))
          assert(want.size == ds.batchCount, s"$at: batchCount")
          val it = ds.toBatchesPrefetched(epoch, cols)
          try sameRows(s"$at toBatchesPrefetched", it.toVector, want)
          finally it.close()
          sameRows(s"$at toBatches", ds.toBatches(epoch, cols).toVector, want)
          val frame = ds.toBatchFrame(epoch, cols)
          assert(frame.columns.toSeq == Seq("batch_id", "n", "rows"),
            s"$at: toBatchFrame schema ${frame.columns.mkString(",")}")
          sameRows(s"$at toBatchFrame", frame.collect().toSeq, want)
          val from = 5L
          sameRows(s"$at resumeBatchFrame($from)",
            ds.resumeBatchFrame(epoch, from, cols).collect().toSeq,
            want.filter(_.getLong(0) >= from))
        }
        CacheScope.release()
      }
  }

  test("the default ordered batch frame moves the payload through exactly " +
      "one shuffle exchange") {
    for (aqe <- Seq("true", "false"))
      withConf("spark.sql.adaptive.enabled" -> aqe) {
        datasets.foreach { case (name, ds) =>
          val frame = ds.toBatchFrame(0, cols)
          assert(shuffles(frame) == 1,
            s"$name [aqe=$aqe]: ${shuffles(frame)} shuffle exchanges in\n" +
              frame.queryExecution.executedPlan)
          // and still one once AQE has run the stages
          frame.write.format("noop").mode("overwrite").save()
          assert(shuffles(frame) == 1, s"$name [aqe=$aqe] after execution")
        }
        CacheScope.release()
      }
  }

  test("AutoConfig.estimateSampleBytes sizes exactly the delivered row, " +
      "with no fetch_id in it") {
    val df = spark.range(1000).toDF("k").withColumn("x", col("k").cast("double"))
    val bytes = AutoConfig.estimateSampleBytes(df)
    // the delivered rows of the same 16 samples, each a batch of one
    val ds = ScDataset(ScCollection.fromDataFrame(df, col("k")), Streaming(),
      batchSize = 1)
    val delivered = ds.toBatches(0, Seq("k", "x")).take(16).toVector
    assert(delivered.head.schema.fieldNames.toSeq == Seq("batch_id", "n", "rows"))
    val mean = delivered.map(r =>
      org.apache.spark.util.SizeEstimator.estimate(r.asInstanceOf[AnyRef])).sum / 16
    assert(bytes == mean, s"estimate $bytes vs delivered rows $mean")
    assert(bytes == BatchStreamSpec.PinnedSampleBytes,
      s"estimate moved: $bytes, pinned ${BatchStreamSpec.PinnedSampleBytes}")
  }
}

object BatchStreamSpec {
  /** `estimateSampleBytes` of the (k long, x double) fixture above: the
    * deep size of one delivered row (`batch_id`, `n`, one-sample `rows`). */
  val PinnedSampleBytes: Long = 1221L
}
