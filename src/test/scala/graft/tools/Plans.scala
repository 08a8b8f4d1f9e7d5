package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import graft.SparkEntry
import graft.core.CacheScope

/** Physical-plan census of registered queries: exchanges by kind,
  * broadcasts, sorts, windows, the single-partition-window gate, file scans
  * and what they read, pushed/partition filters, bucketed scans and
  * codegen stages.  `Probe plans` prints one `PLANS` table row per query
  * and a summary; `--bank FILE` also writes the banked PLANS markdown and
  * `--dump SUFFIX` writes each query's `explain("formatted")` to
  * `<out>/<query>_<suffix>.txt` (default out: `plans`) and its [[masked]]
  * copy to `<out>/<query>_<suffix>.masked.txt`, so the dumps of two
  * checkouts diff directly.  The session runs
  * with AQE off, so plans show their full static shape (codegen stages
  * included) rather than an unexecuted adaptive stub. */
object Plans {
  final case class Census(hashEx: Int, rangeEx: Int, singleEx: Int,
      broadcasts: Int, sorts: Int, windows: Int, singlePartitionWindow: Boolean,
      scans: Int, sources: String, pushed: Int, partitionFilters: Int,
      bucketed: Boolean, codegen: Int)

  private val TableScan = "FileScan \\w+ (?:spark_catalog\\.default\\.)?([\\w.]+)\\[".r
  private val PathScan = "\\[file:[^\\],]*/([^/\\],]+)[\\],]".r

  def census(plan: String): Census = {
    def c(p: String) = p.r.findAllIn(plan).length
    val lines = plan.split("\n")
    val sources = lines.filter(_.contains("FileScan ")).map(l =>
        TableScan.findFirstMatchIn(l).orElse(PathScan.findFirstMatchIn(l))
          .fold("?")(_.group(1)))
      .groupBy(identity).toSeq.sortBy(_._1)
      .map { case (s, n) => if (n.length > 1) s"$s*${n.length}" else s }
    Census(c("Exchange hashpartitioning"), c("Exchange rangepartitioning"),
      c("Exchange SinglePartition"), c("BroadcastExchange"), c("\\bSort\\b"),
      c("\\bWindow\\b"), singlePartitionWindow(lines), c("FileScan "),
      sources.mkString(" "),
      // a pushed/partition filter column counts only when non-empty
      c("PushedFilters: \\[[^\\]]") + c("PushedAggregation: \\[[^\\]]"),
      c("PartitionFilters: \\[[^\\]]"), plan.contains("Bucketed: true"),
      // codegen stages print as the star notation `*(n)`: count stage ids
      "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size)
  }

  /** A Window over a SinglePartition exchange sends all rows through one
    * task — the one plan shape that cannot scale out (one-row global
    * aggregates legitimately use SinglePartition; a window must not).  The
    * plan string lists the window above its exchange, so the pair is found
    * by proximity: the exchange within 3 lines below the window line. */
  def singlePartitionWindow(lines: Array[String]): Boolean =
    lines.zipWithIndex.exists { case (l, i) =>
      l.contains("Window") &&
        lines.slice(i + 1, i + 4).exists(_.contains("Exchange SinglePartition"))
    }

  /** `plan` with what differs between two runs of the same code replaced
    * by a fixed token: expression ids (`#12`), plan ids, object hashes,
    * lambda class names, the `roots` (working directory, warehouse) and
    * the per-run scratch root, lake data-file version nonces and part-file
    * UUIDs. */
  def masked(plan: String, roots: Seq[String]): String = {
    val rooted = roots.filter(_.nonEmpty).sortBy(-_.length)
      .foldLeft(plan)((p, r) => p.replace(r, "<root>"))
    Seq(
      "#\\d+" -> "#_",
      "plan_id=\\d+" -> "plan_id=_",
      "\\$+Lambda[$/\\w]*" -> "\\$Lambda",
      "@[0-9a-f]+\\b" -> "@_",
      "[\\w/.-]*/graft_run_\\d+" -> "<scratch>",
      "/v(\\d+[a-z]?)-[0-9a-f]+" -> "/v$1-_",
      "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}" -> "<uuid>"
    ).foldLeft(rooted) { case (p, (re, to)) => p.replaceAll(re, to) }
  }

  /** The census of each named query's executed plan, or the error that
    * building it raised; `each` sees every built frame first. */
  def audit(spark: SparkSession, sfDir: String, names: Seq[String],
      each: (String, DataFrame) => Unit = (_, _) => ()): Seq[(String, Either[String, Census])] =
    SparkEntry.pick(names).map { case (name, fn) =>
      name -> (try {
        val df = fn(spark, sfDir)
        each(name, df)
        Right(census(df.queryExecution.executedPlan.toString))
      } catch { case e: Throwable => Left(e.toString.take(100).replace("\n", " ")) }
      finally CacheScope.release())
    }

  private val Header = "| query | hash ex | range ex | single ex | broadcasts | " +
    "sorts | windows | scans | sources | pushed filters | partition filters | " +
    "bucketed | codegen stages |\n" + "|---" * 13 + "|"

  private def row(name: String, r: Either[String, Census]): String = r match {
    case Left(e) => s"| $name | ERROR $e |"
    case Right(c) => Seq(name, c.hashEx, c.rangeEx, c.singleEx, c.broadcasts,
      c.sorts, c.windows, c.scans, c.sources, c.pushed, c.partitionFilters,
      c.bucketed, c.codegen).mkString("| ", " | ", " |")
  }

  def run(a: Probe.Args): Unit = {
    val sfDir = a.opt("sf", s"${Probe.TestData}/sf0.01")
    val spark = Probe.session("spark.sql.adaptive.enabled" -> "false")
    val out = a.opt("out", "plans")
    val dump = a.opts.get("dump").fold((_: String, _: DataFrame) => ()) { suffix =>
      new java.io.File(out).mkdirs()
      val roots = Seq(System.getProperty("user.dir"), spark.conf.get("spark.sql.warehouse.dir"))
      (name: String, df: DataFrame) => {
        val plan = df.queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$out/${name}_$suffix.txt"), plan)
        Files.writeString(Paths.get(s"$out/${name}_$suffix.masked.txt"), masked(plan, roots))
      }
    }
    val rows = audit(spark, sfDir, a.names.getOrElse(Probe.allNames), dump)
    val flagged = rows.collect { case (n, Right(c)) if c.singlePartitionWindow => n }
    val errors = rows.collect { case (n, Left(e)) => s"$n: $e" }
    Header.linesIterator.foreach(l => println(s"PLANS $l"))
    rows.foreach { case (n, r) => println(s"PLANS ${row(n, r)}") }
    val summary = s"${rows.size} audited, ${flagged.size} single-partition-window" +
      (if (flagged.isEmpty) "" else s" (${flagged.mkString(", ")})") +
      s", ${errors.size} errors"
    println(s"PLANS summary: $summary")
    a.opts.get("bank").foreach { file =>
      Files.writeString(Paths.get(file),
        s"# PLANS — banked physical-plan audit\n\nScale: `$sfDir`, AQE off.  " +
          "Regenerate: `sbt 'Test/runMain graft.tools.Probe plans --sf " +
          s"$sfDir --bank $file'`.\n\n## 1. Global gate: Window over SinglePartition\n\n$summary" +
          (if (flagged.isEmpty) " — every window runs on a partitioned key." else "") +
          "\n\n" + errors.map(e => s"- ERROR $e\n").mkString +
          s"\n## 2. Physical census\n\n$Header\n" +
          rows.map { case (n, r) => row(n, r) + "\n" }.mkString)
      println(s"PLANS wrote $file")
    }
    spark.stop()
  }
}
