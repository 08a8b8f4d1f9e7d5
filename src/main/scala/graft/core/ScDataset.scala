package graft.core

import org.apache.spark.FutureAction
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success}

/** Hook pipeline, mirroring the reference's four-stage transform surface
  * (reference: src/scdataset/scdataset.py:48-60, executed in order
  * fetch_callback → fetch_transform → batch_callback → batch_transform at
  * scdataset.py:523-558).  On Spark the fetch hooks are row/window-level
  * DataFrame transforms; the batch hook operates on the materialized batch
  * frame (one row per batch).
  */
final case class Hooks(
    /** U2 `fetch_transform`: bulk transform applied to the planned/fetched
      * frame (reference scdataset.py:530-531). */
    fetchTransform: DataFrame => DataFrame = identity,
    /** U3 `batch_callback`: overrides how batches are ASSEMBLED from the
      * planned frame (reference scdataset.py:551-553).  Given the plan
      * frame (with fetch_id/batch_id/pos_in_batch) and the payload
      * columns, must return one row per batch.  None = default
      * collect_list assembly.
      *
      * The input is range-partitioned on `fetch_id`, and a fetch window
      * holds whole batches.  Grouping by `(fetch_id, batch_id)` and
      * keeping `fetch_id` in the output therefore needs no exchange of its
      * own, and neither does the batch-order sort after it: the epoch
      * keeps its single exchange.  A hook that groups by `batch_id` alone
      * is correct too, but pays a hash exchange for its grouping and a
      * range exchange for the batch order. */
    batchAssemble: Option[(DataFrame, Seq[String]) => DataFrame] = None,
    /** U4 `batch_transform`: per-batch finalization on the batch frame
      * (reference scdataset.py:557-558).  It runs before the batch-order
      * sort, so its input still carries `fetch_id` when the assembly kept
      * it; the column is dropped after the sort. */
    batchTransform: DataFrame => DataFrame = identity)

/** The distributed analogue of `scDataset` (reference:
  * src/scdataset/scdataset.py:131-561): an epoch-ordered, windowed, batched
  * view over a collection.
  *
  * Column semantics of [[planFrame]]:
  *  - `__ord`   strategy order (position in the epoch stream)
  *  - `fetch_id` window of `batchSize*fetchFactor` consecutive positions
  *               (reference B1: scdataset.py:223,491-502)
  *  - `__pos`   final yield position after the optional within-fetch
  *               permutation (reference O6: scdataset.py:533-536)
  *  - `batch_id`, `pos_in_batch` batch slicing (reference B2:
  *               scdataset.py:539-561)
  *
  * Spark owns physical distribution: partitioning by `fetch_id` replaces the
  * reference's DDP round-robin + DataLoader-worker sharding
  * (reference B4/B5: scdataset.py:495-515) — `rankStream` exposes the same
  * disjoint+exhaustive split for emitting per-consumer streams.
  *
  * The batch path ([[toBatchFrame]], [[resumeBatchFrame]],
  * [[writeBatches]], [[toBatches]], [[toBatchesPrefetched]]) moves the
  * payload through ONE exchange per epoch: the plan is range-partitioned
  * on `fetch_id` as soon as `fetch_id` exists.  A fetch window holds whole
  * batches, so that one partitioning already satisfies the within-fetch
  * permutation (a window over `fetch_id`), the default assembly (grouped
  * by `(fetch_id, batch_id)`) and the batch order (`(fetch_id,
  * batch_id)`, a sort inside each partition).  `fetch_id` is dropped
  * before a batch reaches the caller.  The driver then fetches the result
  * partitions in parallel, up to `defaultParallelism` at a time, and
  * yields their batches strictly in partition order (the reference
  * overlaps fetches across DataLoader workers the same way,
  * scdataset.py:495-515).  The row-level frames ([[planFrame]],
  * [[rankStream]], [[resumeFrom]]) keep the unpartitioned plan.
  */
final case class ScDataset(
    collection: ScCollection,
    strategy: SamplingStrategy,
    batchSize: Int,
    fetchFactor: Int = 1,
    dropLast: Boolean = false,
    seed: Long = 42L,
    hooks: Hooks = Hooks()) {
  import SamplingStrategy.Ord
  require(batchSize > 0 && fetchFactor > 0)

  val fetchSize: Long = batchSize.toLong * fetchFactor

  /** Epoch seed derivation (reference B6: scdataset.py:472-478). */
  def epochSeed(epoch: Int): Long = seed + 1000L * epoch

  /** The full logical plan for one epoch. */
  def planFrame(epoch: Int): DataFrame = epochFrame(epoch, byFetch = false)

  /** [[planFrame]]; `byFetch` range-partitions the rows on `fetch_id` right
    * after it is derived — the batch path's one exchange (see the class
    * doc).  The window below and the assembly reuse that partitioning. */
  private def epochFrame(epoch: Int, byFetch: Boolean): DataFrame = {
    val s = epochSeed(epoch)
    var df = strategy.plan(collection, s)
    df = df.withColumn("fetch_id", floor(col(Ord) / fetchSize))
    if (byFetch) df = df.repartitionByRange(col("fetch_id"))
    val pos =
      if (strategy.shuffleBeforeYield) {
        // permute within each fetch window; window is partitioned by
        // fetch_id so this is a distributed (not global) sort.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("fetch_id"))
          .orderBy(strategy.rng.sortKey(s, "yield", col(Ord)), col(Ord))
        col("fetch_id") * fetchSize + row_number().over(w) - 1
      } else col(Ord)
    df = df.withColumn("__pos", pos)
    df = df.withColumn("batch_id", floor(col("__pos") / batchSize))
      .withColumn("pos_in_batch", col("__pos") % batchSize)
    if (dropLast) {
      val m = strategy.outputLen(collection.length)
      df = df.where(col("__pos") < (m / batchSize) * batchSize)
    }
    // fetchTransform runs AFTER fetch_id/__pos/batch_id are derived: the
    // reference applies fetch_transform to already-fetched window data
    // (scdataset.py:530-531), so it cannot perturb the ordering math.  A
    // transform that drops/duplicates rows changes batch contents only.
    hooks.fetchTransform(df)
  }

  /** Exact batch count without executing — the reference's heavily-tested
    * `__len__` math (reference B3: scdataset.py:333-413), for a single
    * consumer (worldSize=1). Fetch windows are multiples of batchSize, so
    * only the globally-last batch can be short. */
  def batchCount: Long = {
    val m = strategy.outputLen(collection.length)
    if (dropLast) m / batchSize
    else (m + batchSize - 1) / batchSize
  }

  /** Per-consumer batch count under round-robin fetch distribution
    * (reference: scdataset.py:372-413 — rank r takes fetch windows
    * r, r+W, r+2W, ...). */
  def batchCount(rank: Int, worldSize: Int): Long = {
    require(worldSize > 0 && rank >= 0 && rank < worldSize)
    val m = strategy.outputLen(collection.length)
    val nFetches = (m + fetchSize - 1) / fetchSize
    var batches = 0L
    var f = rank.toLong
    while (f < nFetches) {
      val inFetch = math.min(fetchSize, m - f * fetchSize)
      batches += (if (dropLast) inFetch / batchSize
                  else (inFetch + batchSize - 1) / batchSize)
      f += worldSize
    }
    batches
  }

  /** The fetch windows owned by one consumer (reference B4 round-robin). */
  def rankStream(epoch: Int, rank: Int, worldSize: Int): DataFrame =
    planFrame(epoch).where(pmod(col("fetch_id"), lit(worldSize)) === rank)

  /** Mid-epoch checkpoint resume: the epoch's plan from batch `fromBatch`
    * onward.  The plan is a pure function of (seed, epoch), so the resumed
    * stream is exactly the suffix of the full epoch stream — the
    * reproducibility contract the reference tests for checkpointed DDP runs
    * (reference: tests/test_ddp_real.py:891-957).  The batch_id predicate is
    * an ordinary filter: it prunes before any batch assembly, so a resume
    * late in a long epoch re-plans but never re-materializes the consumed
    * prefix. */
  def resumeFrom(epoch: Int, fromBatch: Long): DataFrame =
    planFrame(epoch).where(col("batch_id") >= fromBatch)

  /** Per-consumer resume: rank r's fetch windows from batch `fromBatch`
    * onward (batch ids are global — a checkpoint records the last GLOBAL
    * batch each rank consumed). */
  def resumeFrom(epoch: Int, fromBatch: Long, rank: Int,
      worldSize: Int): DataFrame =
    rankStream(epoch, rank, worldSize).where(col("batch_id") >= fromBatch)

  /** Batches remaining in an epoch after resuming at `fromBatch`. */
  def remainingBatches(fromBatch: Long): Long =
    math.max(0L, batchCount - fromBatch)

  /** One row per batch, in batch order: `batch_id`, `n`, and `rows` = the
    * ordered array of selected columns (reference's yielded minibatch).
    * Keep selected columns small — each batch array is materialized. */
  def toBatchFrame(epoch: Int, cols: Seq[String]): DataFrame =
    ScDataset.assembleBatches(epochFrame(epoch, byFetch = true), cols, hooks)

  /** The resumed batch stream: batches `fromBatch` onward, assembled
    * through the same hook pipeline as [[toBatchFrame]]. */
  def resumeBatchFrame(epoch: Int, fromBatch: Long,
      cols: Seq[String]): DataFrame =
    ScDataset.assembleBatches(
      epochFrame(epoch, byFetch = true).where(col("batch_id") >= fromBatch),
      cols, hooks)

  /** Batch sink (S6): materialize the epoch's batches as parquet, one row
    * per batch, so downstream trainers (or another Spark job) stream them
    * without replanning the epoch. */
  def writeBatches(dir: String, epoch: Int, cols: Seq[String]): Unit =
    toBatchFrame(epoch, cols).write.mode("overwrite").parquet(dir)

  /** Driver-side iterator over batches in order — the analogue of the
    * reference's `__iter__` yield loop, for feeding a single-process
    * trainer.  Streams the result partitions through
    * [[ScDataset.OrderedFetch]] (no full collect): at most
    * `defaultParallelism` partitions are fetched or held at a time. */
  def toBatches(epoch: Int, cols: Seq[String]): Iterator[Row] =
    new ScDataset.OrderedFetch(toBatchFrame(epoch, cols)).asScala

  /** [[toBatches]] with ASYNC READ-AHEAD: a daemon producer thread drains
    * the ordered partition fetch into a bounded queue of `prefetch`
    * batches while the consumer trains on the current one, so fetch
    * latency overlaps compute instead of serializing with it — the
    * reference's `prefetch_factor` pipelining (reference README.md:156-164,
    * src/scdataset/auto_config.py:470-471: prefetch = fetch_factor + 1,
    * the default here).  Batch order and content are identical to
    * [[toBatches]] (the queue preserves producer order); a producer-side
    * failure re-throws in the consumer at the point it is observed.
    *
    * Driver memory: up to `defaultParallelism` result partitions (fetched
    * or being fetched, one of them being decoded) plus `prefetch` decoded
    * batches in the queue, beyond the one being consumed.  Exhausting the
    * iterator releases the producer automatically; a consumer that stops
    * early (exception, pilot break) should `close()` it, which also
    * cancels the partition jobs still in flight — otherwise the daemon
    * producer stays parked holding its buffered batches until the JVM
    * exits. */
  def toBatchesPrefetched(epoch: Int, cols: Seq[String],
      prefetch: Int = 0): ScDataset.PrefetchedBatches = {
    val depth = if (prefetch > 0) prefetch else fetchFactor + 1
    // LAZY start: the fetch (and its Spark jobs) is created by the
    // producer thread on first consumption, not here — a handle that is
    // close()d before use (epoch skipped, early break in a multi-epoch
    // loop) never launches a job, and nothing is stranded.
    val frame = toBatchFrame(epoch, cols)
    new ScDataset.PrefetchedBatches(() => new ScDataset.OrderedFetch(frame),
      depth)
  }
}

object ScDataset {

  /** The async read-ahead iterator behind
    * [[ScDataset.toBatchesPrefetched]]: a daemon producer drains the
    * source iterator into a bounded queue; the consumer reads batches in
    * order.
    *
    * LAZY start — the source (an [[OrderedFetch]], i.e. Spark jobs) is
    * only created on the first `hasNext`/`next`, so a handle that is
    * `close()`d unused never launches a job (multi-epoch loops can
    * construct per-epoch handles ahead of time and skip some).  A source
    * that is `AutoCloseable` is closed with the handle, so `close()`
    * cancels the partition jobs still in flight.
    *
    * FAIL FAST — a producer failure surfaces on the very next
    * `hasNext`/`next`, BEFORE any still-buffered batches are served: a
    * consumer never keeps training on stale read-ahead after the scan
    * has died.  `close()` rethrows a producer error the consumer never
    * observed (so an early `close()` cannot silently swallow a scan
    * failure); call it from a position that tolerates that, or drain
    * first.  Safe from any thread, idempotent once the error (if any)
    * has been delivered. */
  final class PrefetchedBatches private[core] (
      mkSrc: () => java.util.Iterator[Row],
      depth: Int) extends Iterator[Row] with AutoCloseable {
    require(depth > 0, "prefetch depth must be positive")
    private val queue =
      new java.util.concurrent.ArrayBlockingQueue[AnyRef](depth)
    private val endMark = new Object
    @volatile private var closed = false
    @volatile private var err: Throwable = _
    @volatile private var errDelivered = false
    @volatile private var src: java.util.Iterator[Row] = _
    private var producer: Thread = _

    private def ensureStarted(): Unit = synchronized {
      if (producer == null && !closed) {
        producer = new Thread(() => {
          try {
            src = mkSrc()
            // a close() that ran before `src` was set could not close it
            if (closed) closeSrc()
            while (!closed && src.hasNext) {
              val row = src.next()
              var ok = false
              while (!ok && !closed)
                ok = queue.offer(row, 100,
                  java.util.concurrent.TimeUnit.MILLISECONDS)
            }
          } catch {
            // after close() a failure is the source's own cancellation
            case e: Throwable => if (!closed) err = e
          } finally {
            closeSrc()
            var ok = closed
            while (!ok)
              ok = closed || queue.offer(endMark, 100,
                java.util.concurrent.TimeUnit.MILLISECONDS)
          }
        }, "graft-batch-prefetch")
        producer.setDaemon(true)
        producer.start()
      }
    }

    // Pulls the next element, checking `err` BEFORE serving anything the
    // producer buffered ahead of its failure.
    private def takeNext(): AnyRef = {
      while (true) {
        val e = err
        if (e != null) { doClose(); errDelivered = true; throw e }
        if (closed) return endMark
        val x = queue.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (x != null) {
          if (x eq endMark) {
            doClose()
            val e2 = err
            if (e2 != null) { errDelivered = true; throw e2 }
          }
          return x
        }
      }
      endMark // unreachable
    }

    private var staged: AnyRef = _

    private def stage(): Unit =
      if (staged == null) { ensureStarted(); staged = takeNext() }

    def hasNext: Boolean = { stage(); staged ne endMark }

    def next(): Row = {
      stage()
      if (staged eq endMark) throw new NoSuchElementException("exhausted")
      val r = staged.asInstanceOf[Row]
      staged = null
      r
    }

    private def closeSrc(): Unit = src match {
      case c: AutoCloseable => c.close()
      case _ =>
    }

    private def doClose(): Unit = { closed = true; queue.clear(); closeSrc() }

    /** Stop the producer and drop buffered batches.  If the producer
      * failed and the consumer never saw the error, rethrows it here —
      * errors are never silently discarded.  Idempotent after the error
      * (if any) is delivered. */
    def close(): Unit = {
      doClose()
      val e = err
      if (e != null && !errDelivered) { errDelivered = true; throw e }
    }
  }

  /** Ordered parallel fetch of a frame's result partitions to the driver —
    * the batch path's replacement for `Dataset.toLocalIterator`, which runs
    * one job per partition and starts each only after the previous
    * partition is decoded.  Here one RDD instance (`queryExecution.toRdd`)
    * is built under the frame's SQL execution id (as `toLocalIterator`
    * does), and each result partition is its own `submitJob`, at most
    * `defaultParallelism` of them fetched or held at a time.  Rows come out
    * strictly in partition order, decoded with the frame's
    * `ExpressionEncoder` deserializer; a failed partition throws its job's
    * error when the iteration reaches it, so errors surface in partition
    * order.  Jobs start on the first `hasNext`; `close()` cancels the ones
    * still in flight.  One consumer thread; `close()` is safe from any
    * thread. */
  private[core] final class OrderedFetch(df: DataFrame)
      extends java.util.Iterator[Row] with AutoCloseable {
    private val sc = df.sparkSession.sparkContext
    private val numFields = df.schema.length
    private val fromRow =
      ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
    private val inFlight = math.max(1, sc.defaultParallelism)
    private val jobs = scala.collection.mutable.Queue.empty[FutureAction[Array[Byte]]]
    private var rdd: RDD[InternalRow] = _
    private var nextPart = 0
    private var rows: Iterator[InternalRow] = Iterator.empty
    @volatile private var closed = false

    // keeps `inFlight` partitions submitted or held, in partition order
    private def fill(): Unit = synchronized {
      while (!closed && jobs.size < inFlight && nextPart < rdd.getNumPartitions) {
        var bytes: Array[Byte] = null
        jobs.enqueue(sc.submitJob(rdd, encodeRows _, Seq(nextPart),
          (_: Int, b: Array[Byte]) => bytes = b, bytes))
        nextPart += 1
      }
    }

    def hasNext: Boolean = {
      if (rdd == null && !closed)
        SQLExecution.withNewExecutionId(df.queryExecution, Some("toLocalIterator")) {
          rdd = df.queryExecution.toRdd
          fill()
        }
      while (!rows.hasNext && !closed && synchronized(jobs.nonEmpty)) {
        // the head stays queued while it is awaited, so close() cancels it
        val head = synchronized(jobs.head)
        Await.ready(head, Duration.Inf)
        if (closed) return false
        head.value.get match {
          case Success(bytes) =>
            synchronized(jobs.dequeue())
            fill()
            rows = decodeRows(bytes, numFields)
          case Failure(e) => close(); throw e
        }
      }
      !closed && rows.hasNext
    }

    def next(): Row = {
      if (!hasNext) throw new NoSuchElementException("exhausted")
      fromRow(rows.next())
    }

    def close(): Unit = synchronized {
      closed = true
      jobs.foreach(_.cancel())
      jobs.clear()
    }
  }

  /** Task side of [[OrderedFetch]]: one partition's rows as length-prefixed
    * UnsafeRow bytes (the row framing `SparkPlan.executeCollect` ships).
    * Unlike that path it does not compress: on a single host the bytes
    * never leave memory, and an lz4 variant was slower per batch in the
    * local-mode benchmark. */
  private def encodeRows(it: Iterator[InternalRow]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    val buf = new Array[Byte](4096)
    it.foreach { r =>
      val u = r.asInstanceOf[UnsafeRow]
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, buf)
    }
    out.flush()
    bos.toByteArray
  }

  /** Driver side of [[OrderedFetch]]: UnsafeRows pointing into `bytes`. */
  private def decodeRows(bytes: Array[Byte], numFields: Int): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val in = java.nio.ByteBuffer.wrap(bytes)
      def hasNext: Boolean = in.hasRemaining
      def next(): InternalRow = {
        val size = in.getInt()
        val row = new UnsafeRow(numFields)
        row.pointTo(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + in.position(), size)
        in.position(in.position() + size)
        row
      }
    }

  /** The batch frame from a plan frame: the assembly (hook or default),
    * then `batchTransform`, then the batch order.  When the frame still
    * carries `fetch_id` (the default assembly keeps it), the order is
    * `(fetch_id, batch_id)` — satisfied by the plan's range partitioning
    * on `fetch_id`, so it is a sort inside each partition — and `fetch_id`
    * is dropped after it.  Shared with [[AutoConfig.estimateSampleBytes]]
    * so the A5 size probe measures exactly the delivered row. */
  private[core] def assembleBatches(pf: DataFrame, cols: Seq[String],
      hooks: Hooks): DataFrame = {
    val bf = hooks.batchTransform(hooks.batchAssemble match {
      case Some(assemble) => assemble(pf, cols)
      case None => defaultAssembly(pf, cols)
    })
    if (bf.columns.contains("fetch_id"))
      bf.orderBy(col("fetch_id"), col("batch_id")).drop("fetch_id")
    else bf.orderBy(col("batch_id"))
  }

  /** The default batch assembly: one row per batch (`fetch_id`,
    * `batch_id`, `n`, ordered payload array).  `fetch_id` is a function of
    * `batch_id`, so the extra grouping key changes no group; it lets the
    * plan's `fetch_id` partitioning serve the aggregate. */
  private def defaultAssembly(pf: DataFrame, cols: Seq[String]): DataFrame = {
    val payload = struct((col("pos_in_batch") +: cols.map(col)): _*)
    pf.groupBy(col("fetch_id"), col("batch_id"))
      .agg(count(lit(1)).as("n"),
        array_sort(collect_list(payload)).as("rows"))
  }
}
