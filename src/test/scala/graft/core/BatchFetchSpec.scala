package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Lifecycle of the ordered partition fetch behind
  * [[ScDataset.toBatches]] and [[ScDataset.toBatchesPrefetched]]: `close()`
  * cancels the partition jobs still in flight, and a task failure reaches
  * the consumer as the thrown exception, after the batches of the
  * partitions before it. */
class BatchFetchSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  // 4096 rows, 64 fetch windows of 64 rows, one batch each
  private lazy val sc = ScCollection.fromDataFrame(
    spark.range(4096L).toDF("k"), col("k"))

  private def dataset(hook: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
    ScDataset(sc, Streaming(), batchSize = 64, hooks = Hooks(fetchTransform = hook))

  // several result partitions, none merged away
  private def withPartitions[T](body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def producerAlive() = Thread.getAllStackTraces.keySet.asScala
    .exists(t => t.getName == "graft-batch-prefetch" && t.isAlive)

  private def await(what: String, secs: Int)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + secs * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    assert(cond, what)
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).mkString(" / ")

  test("close() after the first batch cancels the in-flight partition jobs " +
      "and ends the producer thread") {
    withPartitions {
      val group = "graft-batch-fetch-close"
      val running = ConcurrentHashMap.newKeySet[Int]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null &&
              e.properties.getProperty("spark.jobGroup.id") == group)
            running.add(e.jobId)
        override def onJobEnd(e: SparkListenerJobEnd): Unit = running.remove(e.jobId)
      }
      // every result partition but the first parks until its task is
      // killed, or until 30 s after the test starts: without cancellation
      // its job is still running when the test checks
      val until = System.currentTimeMillis() + 30000L
      val park = udf { (k: Long) =>
        val tc = TaskContext.get()
        if (tc.partitionId() > 0)
          while (!tc.isInterrupted() && System.currentTimeMillis() < until) Thread.sleep(20)
        k
      }.asNondeterministic()
      val ds = dataset(_.withColumn("parked", park(col("k"))))
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobGroup(group, "close() cancels in-flight fetches")
      try {
        val it = ds.toBatchesPrefetched(0, Seq("k", "parked"))
        assert(it.hasNext)
        assert(it.next().getLong(0) == 0L)
        await("partition jobs are in flight before close()", 10)(!running.isEmpty)
        it.close()
        await(s"jobs ${running.asScala.mkString(",")} still running after close()", 5)(
          running.isEmpty)
        await("the producer thread ends after close()", 5)(!producerAlive())
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(listener)
      }
    }
  }

  test("a task failure in the last partition reaches the consumer as the " +
      "thrown exception, after the earlier partitions' batches") {
    withPartitions {
      // the last fetch window always lands in the last range partition
      val boom = udf { (f: Long) =>
        if (f == 63L) throw new IllegalStateException("boom in the last fetch window")
        f
      }.asNondeterministic()
      val ds = dataset(_.withColumn("checked", boom(col("fetch_id"))))
      val got = scala.collection.mutable.ArrayBuffer.empty[Row]
      val it = ds.toBatches(0, Seq("k", "checked"))
      val e = intercept[Exception](it.foreach(got += _))
      assert(messages(e).contains("boom in the last fetch window"), messages(e))
      assert(got.nonEmpty && got.size < 64, s"${got.size} batches before the failure")
      assert(got.map(_.getLong(0)) == got.indices.map(_.toLong),
        "batches before the failure arrive in order")
      assert(!it.hasNext, "the failed fetch is closed")

      val pre = ds.toBatchesPrefetched(0, Seq("k", "checked"))
      val e2 = intercept[Exception](pre.foreach(_ => ()))
      assert(messages(e2).contains("boom in the last fetch window"), messages(e2))
      pre.close()
      await("the producer thread ends after the failure", 5)(!producerAlive())
    }
  }
}
