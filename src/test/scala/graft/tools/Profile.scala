package graft.tools

import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import graft.SparkEntry
import graft.core.CacheScope

/** Per-query cost under both terminal actions: `.count()` (what Catalyst
  * may prune down to) and the `noop` sink (every output column computed).
  * For each: wall seconds, executor CPU seconds, stages, tasks; plus the
  * row count.  One `PROFILE` table row per query, slowest noop first. */
object Profile {
  /** Executor CPU, stages and tasks of the stages completed since `reset`. */
  private class Meter extends SparkListener {
    val cpuNs, stages, tasks = new LongAdder
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      cpuNs.add(e.stageInfo.taskMetrics.executorCpuTime)
      stages.increment()
      tasks.add(e.stageInfo.numTasks.toLong)
    }
    def reset(): Unit = Seq(cpuNs, stages, tasks).foreach(_.reset())
  }

  def run(a: Probe.Args): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"${Probe.TestData}/sf0.1")
    val spark = Probe.session()
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    spark.range(1000000L).selectExpr("sum(id)").collect() // warm-up
    /** wall s, cpu s, stages, tasks of one run of `f`, and its result. */
    def measure[T](f: => T): (T, String) = {
      meter.reset()
      val (r, wall) = Probe.timed(f)
      CacheScope.release()
      Thread.sleep(300) // let the listener queue drain onto this run
      (r, f"$wall%.2f | ${meter.cpuNs.sum / 1e9}%.2f | ${meter.stages.sum} | ${meter.tasks.sum}")
    }
    val rows = SparkEntry.pick(a.names.getOrElse(Probe.allNames)).map { case (name, fn) =>
      try {
        val (n, count) = measure(fn(spark, sfDir).count())
        val (_, noop) = measure(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        (noop.takeWhile(_ != ' ').toDouble, s"| $name | $count | $noop | $n |")
      } catch { case e: Throwable => (0.0, s"| $name | ERROR ${e.toString.take(100)} |") }
    }
    println("PROFILE | query | count s | count cpu s | stages | tasks | " +
      "noop s | noop cpu s | stages | tasks | rows |")
    println("PROFILE " + "|---" * 10 + "|")
    rows.sortBy(-_._1).foreach(r => println(s"PROFILE ${r._2}"))
    spark.stop()
  }
}
