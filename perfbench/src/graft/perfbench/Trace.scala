package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work launched under one job group, summed from task-end events. */
final class SparkCounters {
  var jobs, stages, tasks = 0L
  var executorCpuNs, executorRunMs, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var resultBytes, outputBytes = 0L

  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    executorCpuNs += o.executorCpuNs; executorRunMs += o.executorRunMs
    gcMs += o.gcMs; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    resultBytes += o.resultBytes; outputBytes += o.outputBytes
  }

  def metrics: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble,
    "executor_cpu_s" -> executorCpuNs / 1e9,
    "executor_run_s" -> executorRunMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble,
    "result_bytes" -> resultBytes.toDouble,
    "output_bytes" -> outputBytes.toDouble)
}

/** Attributes every job, stage and task to the job group that was set on
  * the thread that launched the job (threads inherit the group of the
  * thread that created them, so a prefetch producer's jobs land in the
  * span that started it). Jobs without a group land under "". */
final class CounterListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, SparkCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def of(group: String): SparkCounters =
    byGroup.getOrElseUpdate(group, new SparkCounters)

  def counters(group: String): SparkCounters = synchronized {
    val c = new SparkCounters
    byGroup.get(group).foreach(c.add)
    c
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup(s) = g)
    of(g).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (e.stageInfo.failureReason.isEmpty)
        of(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.executorCpuNs += m.executorCpuTime
      c.executorRunMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.resultBytes += m.resultSize
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** One recorded call into a layer: `parent` is the id of the enclosing
  * span (-1 at the root); times are `System.nanoTime`. */
final case class SpanRec(id: Int, name: String, parent: Int,
    startNs: Long, endNs: Long, group: String)

/** Per-name aggregate of spans: call count, inclusive time, self time and
  * the Spark work of the jobs the spans launched. */
final case class Layer(name: String, calls: Int, totalS: Double,
    selfS: Double, spark: SparkCounters)

/** Records spans around the benchmark's calls into each layer. Spans stay
  * in memory until [[layers]] / [[spanRows]] read them at the end of the
  * run. Disabled tracers run the body and record nothing. Single client
  * thread: spans are opened and closed on the thread that drives the
  * workload. */
final class Tracer(spark: SparkSession, val runId: String) {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[SpanRec] = Nil
  private val listener = new CounterListener
  spark.sparkContext.addSparkListener(listener)

  /** Runs `body` inside a span called `name`. With `sparkJobs` the span
    * gets its own job group, so jobs launched inside it are counted to it;
    * spans around pure driver-side waits pass false. */
  def span[T](name: String, sparkJobs: Boolean = true)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val group = if (sparkJobs) s"$runId-$id" else null
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      spans += SpanRec(id, name, parent, System.nanoTime(), -1L, group)
      stack = spans(id) :: stack
      val sc = spark.sparkContext
      if (group != null) sc.setJobGroup(group, name)
      try body
      finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        stack = stack.tail
        stack.find(_.group != null) match {
          case Some(p) => sc.setJobGroup(p.group, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  private def closed: Seq[SpanRec] = {
    org.apache.spark.PerfbenchListenerBus.drain(spark.sparkContext)
    require(stack.isEmpty, s"spans still open: ${stack.map(_.name)}")
    spans.toSeq
  }

  def layers: Seq[Layer] = Tracer.layers(closed, g =>
    if (g == null) new SparkCounters else listener.counters(g))

  /** Every span with its self time and Spark counters, for the trace file. */
  def spanRows: Seq[Map[String, Any]] = {
    val all = closed
    val self = Tracer.selfNs(all)
    all.map { s =>
      val c = if (s.group == null) new SparkCounters else listener.counters(s.group)
      scala.collection.immutable.ListMap[String, Any](
        "run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> self(s.id) / 1e9) ++ c.metrics
    }
  }
}

object Tracer {

  /** Self time of each span: its duration minus the part of its interval
    * that its child spans cover (children clipped to the parent, overlaps
    * between children counted once). */
  def selfNs(spans: Seq[SpanRec]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }

  def layers(spans: Seq[SpanRec],
      counters: String => SparkCounters): Seq[Layer] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val c = new SparkCounters
      ss.foreach(s => c.add(counters(s.group)))
      Layer(name, ss.length, ss.map(s => s.endNs - s.startNs).sum / 1e9,
        ss.map(s => self(s.id)).sum / 1e9, c)
    }
  }
}
