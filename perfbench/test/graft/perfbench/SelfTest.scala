package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The benchmark's own tests. Run with `python3 perfbench/build.py test`;
  * the argument is a scratch directory. Exits non-zero on any failure. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: $e")
    }

  private def near(a: Double, b: Double, tol: Double = 1e-9): Unit =
    assert(math.abs(a - b) <= tol, s"$a != $b")

  def main(argv: Array[String]): Unit = {
    val work = new File(argv(0))

    test("median of odd and even counts") {
      near(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      near(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
      near(Stats.median(Seq(5.0)), 5.0)
    }
    test("percentile interpolates between closest ranks") {
      val xs = (1 to 101).map(_.toDouble)
      near(Stats.percentile(xs, 0), 1.0)
      near(Stats.percentile(xs, 100), 101.0)
      near(Stats.percentile(xs, 99), 100.0)
      near(Stats.percentile(Seq(10.0, 20.0), 25), 12.5)
      assert(scala.util.Try(Stats.percentile(Nil, 50)).isFailure)
    }
    test("entropy in bits") {
      near(Stats.entropyBits(Seq(1L, 1L)), 1.0)
      near(Stats.entropyBits(Seq(5L, 0L)), 0.0)
      near(Stats.entropyBits(Seq(1L, 1L, 1L, 1L)), 2.0)
    }
    test("self time subtracts the union of child intervals") {
      val spans = Seq(
        SpanRec(0, "root", -1, 0, 100, null),
        SpanRec(1, "a", 0, 10, 40, null),
        SpanRec(2, "b", 0, 30, 60, null),  // overlaps a: union 10..60
        SpanRec(3, "c", 0, 90, 120, null), // clipped to the parent: 90..100
        SpanRec(4, "d", 1, 15, 25, null))
      val self = Tracer.selfNs(spans)
      assert(self(0) == 100 - 50 - 10, s"root self ${self(0)}")
      assert(self(1) == 30 - 10, s"a self ${self(1)}")
      assert(self(2) == 30 && self(3) == 30 && self(4) == 10)
    }
    test("self times of properly nested spans sum to the root's wall time") {
      val spans = Seq(
        SpanRec(0, "root", -1, 0, 1000, null),
        SpanRec(1, "x", 0, 100, 400, null),
        SpanRec(2, "y", 1, 150, 300, null),
        SpanRec(3, "x", 0, 500, 900, null))
      assert(Tracer.selfNs(spans).values.sum == 1000)
      val layers = Tracer.layers(spans, _ => new SparkCounters)
      val x = layers.find(_.name == "x").get
      assert(x.calls == 2)
      near(x.totalS, 700e-9)
      near(x.selfS, 550e-9)
    }

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    test("traced self times add up to the root, and jobs land in their span") {
      val t = new Tracer(spark, "selftest")
      t.enabled = true
      t.span("root", sparkJobs = false) {
        t.span("job") { spark.range(1000).selectExpr("sum(id)").collect() }
        t.span("wait", sparkJobs = false) { Thread.sleep(20) }
        Thread.sleep(20)
      }
      t.enabled = false
      val layers = t.layers.map(l => l.name -> l).toMap
      val root = layers("root")
      near(layers.values.map(_.selfS).sum, root.totalS, 1e-6)
      assert(root.selfS >= 0.015, s"unattributed ${root.selfS}")
      assert(layers("job").spark.jobs >= 1 && layers("job").spark.tasks >= 1)
      assert(layers("wait").spark.jobs == 0 && root.spark.jobs == 0)
    }

    def ctx(cache: File, seed: Long) = new Ctx(spark,
      Args("selftest", seed, 1, trace = false, cache, new File(work, "run"),
        new File(work, "traces")), new Tracer(spark, "inputs"), new Ops)
    def inputHash(w: Ctx => Workload, cache: String, seed: Long): String = {
      val c = ctx(new File(work, cache), seed)
      w(c).prepare()
      val entries = c.args.cacheDir.listFiles().filter(_.isDirectory)
      assert(entries.length == 1, s"${entries.length} cache entries")
      Inputs.contentHash(entries.head)
    }
    val workloads: Seq[(String, Ctx => Workload)] = Seq(
      "train_loader" -> (c => new TrainLoader(c)),
      "curate_text" -> (c => new CurateText(c)),
      "media_neardup" -> (c => new MediaNeardup(c)))
    workloads.foreach { case (name, w) =>
      test(s"$name: same seed gives byte-identical inputs, another seed different ones") {
        val a = inputHash(w, s"$name-a", 7)
        val b = inputHash(w, s"$name-b", 7)
        val c = inputHash(w, s"$name-c", 8)
        assert(a == b, s"seed 7 twice: $a vs $b")
        assert(a != c, "seeds 7 and 8 gave identical inputs")
      }
    }
    test("a cache entry that fails its hash check is regenerated") {
      val root = new File(work, "corrupt")
      var generated = 0
      def gen(d: File): Unit = {
        generated += 1
        d.mkdirs()
        Files.write(new File(d, "data").toPath, Array[Byte](1, 2, 3))
      }
      val dir = Inputs.cached(root, "entry")(gen)
      Inputs.cached(root, "entry")(gen)
      assert(generated == 1, "an intact entry was regenerated")
      Files.write(new File(dir, "data").toPath, Array[Byte](9))
      Inputs.cached(root, "entry")(gen)
      assert(generated == 2, "a corrupt entry was reused")
      assert(Files.readAllBytes(new File(dir, "data").toPath).toSeq == Seq[Byte](1, 2, 3))
    }

    spark.stop()
    println(if (failures == 0) "all tests passed" else s"$failures test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
