package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Run settings handed over by `run.py`. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, cacheDir: File, runDir: File, traceDir: File)

/** Operation counts: every call the closed loop issues (an epoch, a batch
  * pass, a shard ingest, an output check) is one attempt; an exception or
  * a failed output check makes it a failure. */
final class Ops {
  var attempted = 0L
  var failed = 0L

  /** Runs one operation; a failure is logged and counted, not rethrown.
    * Each operation's wall time goes to stderr. */
  def run[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val st0 = HostSteal.ticks()
    try {
      val r = body
      System.err.println(f"[perfbench] $name: ${(System.nanoTime() - t0) / 1e9}%.3f s, " +
        f"host steal ${100 * HostSteal.share(st0, HostSteal.ticks())}%.1f %%")
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] operation $name FAILED: $e")
        e.printStackTrace()
        None
    }
  }
}

/** The closed loop shared by all workloads: one client issues rounds of
  * calls back to back. `warmup` rounds run first, unmeasured (JIT
  * compilation and code generation settle during them); then measured
  * rounds run for `seconds`, a round starting only while time is left,
  * and at least `minMeasured` of them. */
object ClosedLoop {
  def warmThenMeasure[T](seconds: Double, warmup: Int, minMeasured: Int = 1)(
      round: Int => Option[T]): Vector[T] = {
    (0 until warmup).foreach(round)
    val t0 = System.nanoTime()
    val out = Vector.newBuilder[T]
    var i = warmup
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < warmup + minMeasured) {
      round(i).foreach(out += _)
      i += 1
    }
    out.result()
  }
}

object Check {
  /** Output check inside an operation: a violation fails the operation. */
  def apply(cond: Boolean, what: => String): Unit =
    if (!cond) throw new IllegalStateException(s"output check failed: $what")
}

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val args: Args,
    val tracer: Tracer, val ops: Ops) {
  private var nextOut = 0

  /** A fresh output directory inside this run's directory. */
  def outDir(name: String): String = {
    nextOut += 1
    new File(args.runDir, s"out/$name-$nextOut").getPath
  }

  def span[T](name: String, sparkJobs: Boolean = true)(body: => T): T =
    tracer.span(name, sparkJobs)(body)

  /** Runs `body` inside a span; returns its result and wall seconds. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = span(name)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Wall seconds to build `df` and execute it into Spark's `noop` sink:
    * every row is computed, nothing is written. By name, so eager work in
    * the call that returns the frame is timed too. */
  def noopSeconds(name: String, df: => org.apache.spark.sql.DataFrame): Double =
    timed(name)(df.write.format("noop").mode("overwrite").save())._2

  /** The benchmark's own output checks, traced apart from the layers. */
  def check[T](body: => T): T = span("perfbench.check")(body)

  /** Drops the intermediates the library persisted for the last call. */
  def release(): Unit = span("core.CacheScope.release")(graft.core.CacheScope.release())
}

/** What one closed loop measured, in the workload's own terms. */
final case class Measured(
    itemsPerS: Double,     // items delivered ÷ wall time of the measured passes
    firstResultS: Double,  // pass start → first result the client holds (median)
    callMsP50: Double,     // median wait per client call
    quality: Double,       // output-quality ratio in [0, 1]
    native: Seq[(String, Double)]) // the same figures under the workload's own names

/** A benchmark workload: its inputs, its timed set-up and its closed loop
  * with one client thread. */
trait Workload {
  /** Untimed: generates (or reuses) this seed's inputs. */
  def prepare(): Unit
  /** Timed set-up: opens the inputs. Called several times; each call
    * replaces what the previous one opened. */
  def open(): Unit
  /** Closed loop for `seconds` seconds of measured passes. */
  def loop(seconds: Double): Measured
  /** Traced run only, after the traced loop: per-layer ladders and
    * counters that the loop itself does not produce. */
  def layerRuns(): Seq[(String, Double)]
}

object Main {
  val SetupReps = 3
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(args.runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(args.runDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val runId = f"${args.workload}-${args.seed}-${System.currentTimeMillis()}%x"
    val tracer = new Tracer(spark, runId)
    val ops = new Ops
    val ctx = new Ctx(spark, args, tracer, ops)
    val w: Workload = args.workload match {
      case "train_loader" => new TrainLoader(ctx)
      case "curate_text" => new CurateText(ctx)
      case "media_neardup" => new MediaNeardup(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.prepare()
    val opens = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      w.open()
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + Stats.median(opens)
    val m = w.loop(args.seconds)
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", setupS, "s"),
        ("peak_rss_mb", peakRssMb(), "MB"),
        ("items_per_s", m.itemsPerS, "1/s"),
        ("first_result_s", m.firstResultS, "s"),
        ("call_ms_p50", m.callMsP50, "ms"),
        ("output_quality", m.quality, "ratio"))
      else traced(ctx, w, m)
    System.err.println(s"[perfbench] ${args.workload} seed=${args.seed}: " +
      (Seq("session_s" -> sessionS, "open_s_median" -> Stats.median(opens)) ++
        m.native).map { case (k, v) => f"$k=$v%.4f" }.mkString(" "))
    val line = json.writeValueAsString(ListMap(
      "correct" -> (ops.failed == 0),
      "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "metrics" -> ListMap(metrics.map { case (k, v, u) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*)))
    try spark.stop()
    catch { case NonFatal(e) => System.err.println(s"[perfbench] spark.stop failed: $e") }
    println(line)
    System.out.flush()
  }

  /** The traced run: set-up and loop again with spans recorded, then the
    * workload's layer runs, inside one root span whose self time is the
    * time no layer span covers. */
  private def traced(ctx: Ctx, w: Workload,
      untraced: Measured): Seq[(String, Double, String)] = {
    val tracer = ctx.tracer
    tracer.enabled = true
    val (m, extra) = tracer.span("perfbench.run", sparkJobs = false) {
      w.open()
      val m = w.loop(ctx.args.seconds)
      (m, w.layerRuns())
    }
    tracer.enabled = false
    val layers = tracer.layers
    val root = layers.find(_.name == "perfbench.run").get
    writeTrace(ctx, layers)
    val trace = Seq(
      "trace.wall_s" -> root.totalS,
      "trace.unattributed_s" -> root.selfS,
      "trace.overhead.items_per_s" -> (m.itemsPerS - untraced.itemsPerS),
      "trace.overhead.first_result_s" -> (m.firstResultS - untraced.firstResultS),
      "trace.overhead.call_ms_p50" -> (m.callMsP50 - untraced.callMsP50))
    val values = LayerCatalog.values(layers, extra, m.native, trace)
    LayerCatalog.units.map { case (name, unit) => (name, values(name), unit) }
  }

  private def writeTrace(ctx: Ctx, layers: Seq[Layer]): Unit = {
    val dir = ctx.args.traceDir
    dir.mkdirs()
    val base = s"${ctx.tracer.runId}"
    val spans = new File(dir, s"$base.spans.jsonl")
    val w = new java.io.PrintWriter(spans, "UTF-8")
    try ctx.tracer.spanRows.foreach(r => w.println(json.writeValueAsString(r)))
    finally w.close()
    val table = layers.map(l => ListMap[String, Any]("layer" -> l.name,
      "calls" -> l.calls, "total_s" -> l.totalS, "self_s" -> l.selfS) ++
      l.spark.metrics)
    java.nio.file.Files.write(new File(dir, s"$base.layers.json").toPath,
      json.writeValueAsBytes(table))
    System.err.println(s"[perfbench] trace written to $spans")
  }

  /** High-water resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments ${other.mkString(" ")}")
    }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", new File(m("cache-dir")), new File(m("run-dir")),
      new File(m("trace-dir")))
  }
}
