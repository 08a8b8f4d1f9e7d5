package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.{LocalSession, SparkEntry}

/** The one probe tool (test scope — not shipped in the library jar).
  * Evidence goes to stdout as tagged lines (markdown table rows where the
  * result is a table); Spark logs go to stderr.
  *
  * {{{
  * sbt 'Test/runMain graft.tools.Probe plans [--sf DIR] [--bank FILE] [--dump SUFFIX [--out DIR]] [q1,q2,...]'
  * sbt 'Test/runMain graft.tools.Probe profile [q1,q2,...]'
  * sbt 'Test/runMain graft.tools.Probe scale [gateRows] [factor] [q1,q2,...]'
  * sbt 'Test/runMain graft.tools.Probe scale <probe> [n]'
  * sbt 'Test/runMain graft.tools.Probe kernels [codec,minhash]'
  * }}}
  *
  * `plans` and `profile` cover every registered query unless names are
  * given; `plans` reads sf0.01 unless `--sf` says otherwise, `profile`
  * reads `SPARK_GRAFT_SF_DIR` (default sf0.1); `scale` probes are listed
  * in [[Scale.probes]]; `kernels` runs both of its rungs unless names
  * are given.  The session is
  * [[graft.LocalSession]] at `SPARK_GRAFT_CPUS` cores (default: all, at
  * most 32); re-timing queries in a fresh JVM is `graft.Bench --only`, and
  * checking a subset against DuckDB is `graft.Verify <sf> <out> q1,q2`
  * plus `tools/oracle_check.py`. */
object Probe {
  def main(argv: Array[String]): Unit = {
    val a = Args(argv.toSeq.drop(1))
    argv.headOption match {
      case Some("plans") => Plans.run(a)
      case Some("profile") => Profile.run(a)
      case Some("scale") => Scale.run(a)
      case Some("kernels") =>
        val rungs = a.names.getOrElse(Seq("codec", "minhash"))
        if (rungs.contains("codec")) codecKernels()
        if (rungs.contains("minhash")) minhashKernels()
      case _ => System.err.println(
        "usage: Probe plans|profile|scale|kernels [options] [args]"); sys.exit(2)
    }
  }

  /** A command line: `--key value` options and positional arguments. */
  final case class Args(opts: Map[String, String], pos: Seq[String]) {
    def opt(key: String, default: => String): String = opts.getOrElse(key, default)
    /** Query names from the positional arguments (comma or space separated). */
    def names: Option[Seq[String]] =
      Some(pos.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)).filter(_.nonEmpty)
  }
  object Args {
    def apply(argv: Seq[String]): Args = argv match {
      case k +: v +: rest if k.startsWith("--") =>
        val a = Args(rest); a.copy(opts = a.opts + (k.drop(2) -> v))
      case p +: rest => val a = Args(rest); a.copy(pos = p +: a.pos)
      case _ => Args(Map.empty[String, String], Seq.empty)
    }
  }

  /** Where the scale-factor directories of TESTDATA.md live. */
  val TestData = "/root/testdata"

  def session(conf: (String, String)*): SparkSession =
    LocalSession(LocalSession.cpus(
      math.min(32, Runtime.getRuntime.availableProcessors())), conf: _*)

  /** `f`'s result and the seconds it took. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Every registered query, name-sorted. */
  def allNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Single-thread decode cost per image format over a seeded corpus of
    * [[CodecImages]] 96×96 [[graft.JpegCorpus.textured]] images (the
    * `media_neardup` shape at quality 85): baseline 4:2:0, progressive
    * 4:2:0, PNG, and the 4:2:0 frames without their Huffman tables decoded
    * as MJPEG.  Per format, two warm-up passes and seven timed passes on
    * this thread; decodes/s as median, min and max over the timed passes,
    * compressed MB/s at the median pass, and heap bytes allocated per
    * decode over all timed passes. */
  private def codecKernels(): Unit = {
    import graft.ops.{ImageCodec, JpegCodec}
    val rgbs = (0 until CodecImages).map(i => graft.JpegCorpus.textured(1000L + i))
    val j420 = rgbs.map(JpegCodec.encodeColor420(96, 96, _, 85))
    val corpus: Seq[(String, Seq[Array[Byte]], Array[Byte] => ImageCodec.Raster)] = Seq(
      ("jpeg420", j420, ImageCodec.decode),
      ("jpeg_progressive", rgbs.map(JpegCodec.encodeProgressiveColor420(96, 96, _, 85)),
        ImageCodec.decode),
      ("png", rgbs.map(ImageCodec.encodePng(96, 96, _)), ImageCodec.decode),
      ("mjpeg_notables", j420.map(JpegCodec.stripDht),
        JpegCodec.decode(_, mjpegDefaultTables = true)))
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    println(s"KERNELS codec images=$CodecImages side=96 passes=2+7 (single thread)")
    println("| format | decodes/s median | min | max | MB/s | alloc B/decode |")
    println("|---|---|---|---|---|---|")
    for ((name, frames, decode) <- corpus) {
      var sink = 0L
      def pass(): Unit = frames.foreach(b => sink += decode(b).lumaSum3(0))
      pass(); pass()
      val a0 = mx.getThreadAllocatedBytes(tid)
      val rates = Seq.fill(7)(timed(pass())._2).map(frames.length / _).sorted
      val alloc = (mx.getThreadAllocatedBytes(tid) - a0).toDouble / (7 * frames.length)
      val mb = frames.map(_.length.toLong).sum / 1e6 / frames.length * rates(3)
      println(f"| $name | ${rates(3)}%.0f | ${rates.head}%.0f | ${rates.last}%.0f | $mb%.2f | $alloc%.0f |")
      if (sink == Long.MinValue) println(sink) // keeps the decodes observable
    }
  }

  /** Images per format in the [[codecKernels]] corpus. */
  private val CodecImages = 150

  /** Single-thread kernel cost: the MinHash band kernel over every sf0.1
    * document in one partition on `local[1]`, three passes, free of task
    * overhead. */
  private def minhashKernels(): Unit = {
    val spark = LocalSession("1")
    val texts = spark.read.parquet(s"$TestData/sf0.1/documents.parquet")
      .select("text").collect().map(_.getString(0))
    println(s"KERNELS docs=${texts.length}")
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq, 1)).toDF("doc_id", "text")
    for (r <- 1 to 3) {
      val (n, s) = timed(graft.ops.DedupOps.minhashBands(df, col("text"), col("doc_id")).count())
      println(f"KERNELS minhash bands pass $r: $s%.2f s rows=$n (single thread)")
    }
    spark.stop()
  }
}
