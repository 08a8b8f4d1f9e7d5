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
  * sbt 'Test/runMain graft.tools.Probe kernels'
  * }}}
  *
  * `plans` and `profile` cover every registered query unless names are
  * given; `plans` reads sf0.01 unless `--sf` says otherwise, `profile`
  * reads `SPARK_GRAFT_SF_DIR` (default sf0.1); `scale` probes are listed
  * in [[Scale.probes]].  The session is
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
      case Some("kernels") => kernels()
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

  /** Single-thread kernel cost: the MinHash band kernel over every sf0.1
    * document in one partition on `local[1]`, three passes, free of task
    * overhead. */
  private def kernels(): Unit = {
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
