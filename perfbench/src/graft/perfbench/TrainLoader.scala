package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core._

/** The paper's own use case: a trainer drains shuffled minibatches of a
  * cell × gene collection through `ScDataset.toBatchesPrefetched`.
  *
  * Input: `Cells` cells in contiguous plates of `PlateSize` cells, each
  * plate one `cell_line` drawn 70/20/10 (the reference's imbalanced-label
  * fixture, laid out like plate-ordered single-cell data so that batch
  * label entropy measures how well a strategy mixes plates); every cell
  * carries `Genes` sorted gene ids and float expressions.
  *
  * Loop: epochs cycling Streaming(shuffle), BlockShuffling(1024) and
  * ClassBalancedSampling (with replacement), batch size 64, fetch factor
  * 16. A round is one epoch; the strategies take turns, two warm-up
  * epochs each. */
final class TrainLoader(ctx: Ctx) extends Workload {
  import TrainLoader._

  private val spark = ctx.spark
  private var inputDir: File = _
  private var coll: ScCollection = _
  private var n = 0L

  private val strategies: Seq[(String, SamplingStrategy, Boolean)] = Seq(
    ("streaming", Streaming(shuffle = true), false),
    ("block1024", BlockShuffling(blockSize = 1024), false),
    ("class_balanced",
      ClassBalancedSampling(col("cell_line"), totalSize = Cells, blockSize = 1024), true))

  def prepare(): Unit =
    inputDir = Inputs.cached(ctx.args.cacheDir, s"train_loader-s${ctx.args.seed}-n$Cells") { dir =>
      Inputs.writeParquet(generate(ctx.args.seed), new File(dir, "cells"))
    }

  private def generate(seed: Long): DataFrame = {
    val u = pmod(xxhash64(lit(seed), lit("plate"), floor(col("id") / PlateSize)), lit(100))
    spark.range(0, Cells, 1, Files).select(
      col("id").as("cell_id"),
      when(u < 70, "A549").when(u < 90, "HepG2").otherwise("K562").as("cell_line"),
      array_sort(transform(sequence(lit(0), lit(Genes - 1)), j =>
        pmod(xxhash64(lit(seed), col("id"), j), lit(GeneSpace)))).as("genes"),
      transform(sequence(lit(0), lit(Genes - 1)), j =>
        (pmod(xxhash64(lit(seed + 1), col("id"), j), lit(10000)) / 1000.0)
          .cast("float")).as("expressions"))
  }

  def open(): Unit = {
    if (coll != null) coll.df.unpersist(blocking = true)
    coll = ctx.span("core.ScCollection.open") {
      val c = ScCollection.fromParquetCached(spark, s"$inputDir/cells",
        Seq("cell_id"), Seq("cell_line", "genes", "expressions"))
      c.df.foreach((_: Row) => ()) // fills the cache
      c
    }
    n = coll.length
  }

  private def dataset(s: SamplingStrategy) =
    ScDataset(coll, s, BatchSize, FetchFactor, seed = ctx.args.seed)

  /** One epoch drained by the consumer, with its output checks. */
  private final class Epoch(name: String, s: SamplingStrategy,
      withReplacement: Boolean, epoch: Int) {
    var samples = 0L
    var firstS = 0.0
    var waitsMs = Vector.empty[Double]
    var batches = 0L
    var entropies = Vector.empty[Double]
    var wallS = 0.0

    def run(): Unit = {
      val ds = dataset(s)
      val seen = new java.util.BitSet(n.toInt)
      val t0 = System.nanoTime()
      val it = ctx.span("core.ScDataset.toBatchesPrefetched") {
        ds.toBatchesPrefetched(epoch, PayloadCols)
      }
      try ctx.span("core.ScDataset.drain") {
        var more = true
        while (more) {
          val w0 = System.nanoTime()
          val b = ctx.span("core.PrefetchedBatches.consumer_wait", sparkJobs = false) {
            if (it.hasNext) it.next() else null
          }
          val w = System.nanoTime() - w0
          if (b == null) more = false
          else {
            if (batches == 0) firstS = (System.nanoTime() - t0) / 1e9
            else {
              waitsMs :+= w / 1e6
            }
            batches += 1
            ctx.span("perfbench.consume", sparkJobs = false)(consume(b, seen))
          }
        }
      } finally it.close()
      wallS = (System.nanoTime() - t0) / 1e9
      Check(batches == ds.batchCount, s"$name epoch $epoch: $batches batches, batchCount says ${ds.batchCount}")
      Check(samples == s.outputLen(n), s"$name epoch $epoch: $samples samples, expected ${s.outputLen(n)}")
      if (!withReplacement)
        Check(seen.cardinality() == n, s"$name epoch $epoch: ${seen.cardinality()} of $n rows delivered")
    }

    private def consume(b: Row, seen: java.util.BitSet): Unit = {
      val rows = b.getSeq[Row](b.fieldIndex("rows"))
      val labels = new Array[Long](3)
      var checksum = 0.0
      rows.foreach { r =>
        val id = r.getLong(1)
        if (!withReplacement) {
          Check(!seen.get(id.toInt), s"$name epoch $epoch: row $id delivered twice")
          seen.set(id.toInt)
        }
        labels(r.getString(2) match { case "A549" => 0; case "HepG2" => 1; case _ => 2 }) += 1
        Check(r.getSeq[Long](3).length == Genes, s"row $id: gene count")
        r.getSeq[Float](4).foreach(x => checksum += x)
      }
      Check(checksum >= 0.0, "negative expressions")
      samples += rows.length
      entropies :+= Stats.entropyBits(labels)
    }
  }

  private def runEpoch(i: Int, epoch: Int): Option[Epoch] = {
    val (name, s, repl) = strategies(i)
    ctx.ops.run(s"$name epoch $epoch") {
      val e = new Epoch(name, s, repl, epoch)
      e.run()
      ctx.release()
      e
    }
  }

  def loop(seconds: Double): Measured = {
    val eps = ClosedLoop.warmThenMeasure(seconds, warmup = 2 * strategies.length,
        minMeasured = strategies.length) { i =>
      runEpoch(i % strategies.length, i).map(i % strategies.length -> _)
    }
    require(strategies.indices.forall(i => eps.exists(_._1 == i)),
      "a strategy completed no measured epoch")
    // one median epoch of each strategy, so a window that ends mid-cycle
    // still weighs the strategies equally
    val byStrategy = strategies.indices.map(i => eps.filter(_._1 == i).map(_._2))
    val samplesPerS = byStrategy.map(es => Stats.median(es.map(_.samples.toDouble))).sum /
      byStrategy.map(es => Stats.median(es.map(_.wallS))).sum
    val firstS = byStrategy.map(es => Stats.median(es.map(_.firstS))).sum / strategies.length
    val waits = eps.flatMap(_._2.waitsMs)
    // time per batch after the first: the step time a trainer with no
    // compute of its own would see
    val batchMs = byStrategy.map(es => Stats.median(es.map(e =>
      (e.wallS - e.firstS) * 1e3 / math.max(1L, e.batches - 1)))).sum / strategies.length
    val blockEntropy = {
      val es = byStrategy(1).flatMap(_.entropies)
      es.sum / es.length
    }
    val population = Stats.entropyBits(ctx.check(
      coll.df.groupBy("cell_line").count().collect().map(_.getLong(1)).toSeq))
    Measured(samplesPerS, firstS, batchMs,
      blockEntropy / population,
      Seq("samples_per_s" -> samplesPerS, "first_batch_s" -> firstS,
        "batch_interval_ms" -> batchMs,
        "batch_wait_ms_p50" -> Stats.median(waits),
        "batch_wait_ms_p99" -> Stats.percentile(waits, 99.0),
        "batch_entropy_bits" -> blockEntropy,
        "population_entropy_bits" -> population,
        "epochs" -> eps.length.toDouble, "batch_waits" -> waits.length.toDouble))
  }

  /** The core ladder, once per strategy: the cumulative cost of the plan,
    * the epoch frame and the batch frame, each run to a `noop` sink, then
    * the prefetched drain of the same epoch. Increments between rungs are
    * the layer costs; construction (the call returning a DataFrame) is
    * timed apart from execution. */
  def layerRuns(): Seq[(String, Double)] = {
    val sums = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      .withDefaultValue(0.0)
    strategies.indices.foreach { i =>
      val (name, s, repl) = strategies(i)
      val epoch = 1000 + i
      ctx.ops.run(s"$name ladder") {
        val ds = dataset(s)
        val (plan, planC) = ctx.timed("core.SamplingStrategy.plan")(s.plan(coll, ds.epochSeed(epoch)))
        val r1 = ctx.noopSeconds("core.SamplingStrategy.plan.exec", plan)
        val (frame, frameC) = ctx.timed("core.ScDataset.planFrame")(ds.planFrame(epoch))
        val r2 = ctx.noopSeconds("core.ScDataset.planFrame.exec", frame)
        val (bf, bfC) = ctx.timed("core.ScDataset.toBatchFrame")(ds.toBatchFrame(epoch, PayloadCols))
        val r3 = ctx.noopSeconds("core.ScDataset.toBatchFrame.exec", bf)
        val e = new Epoch(name, s, repl, epoch)
        e.run()
        ctx.release()
        sums("core.SamplingStrategy.plan_construct_ms") += planC * 1e3
        sums("core.SamplingStrategy.plan_s") += r1
        sums("core.ScDataset.plan_frame_construct_ms") += frameC * 1e3
        sums("core.ScDataset.plan_frame_s") += r2 - r1
        sums("core.ScDataset.assemble_construct_ms") += bfC * 1e3
        sums("core.ScDataset.assemble_s") += r3 - r2
        sums("core.ScDataset.drain_s") += e.wallS - r3
        sums("core.PrefetchedBatches.first_batch_s") += e.firstS
        sums("core.PrefetchedBatches.wait_ms_p99") =
          math.max(sums("core.PrefetchedBatches.wait_ms_p99"), Stats.percentile(e.waitsMs, 99.0))
      }
    }
    sums.toSeq
  }
}

object TrainLoader {
  val Cells = 32768L
  val PlateSize = 64
  val Genes = 32
  val GeneSpace = 62713L
  val Files = 4
  val BatchSize = 64
  val FetchFactor = 16
  val PayloadCols = Seq(ScCollection.RowId, "cell_line", "genes", "expressions")
}
