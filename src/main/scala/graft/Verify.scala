package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (`tools/oracle_check.py`).
  *
  * `graft.Verify <sfDir> <outDir> [q1,q2,...]`: with the third argument
  * only the named queries run and only their oracles are written, so
  * `tools/oracle_check.py` checks exactly that subset; an unknown name
  * fails the run. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // 2 args → full run
    val only = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct)
    val entries = only.fold(SparkEntry.queries.toSeq)(SparkEntry.pick)
    val oracles = only.fold(SparkEntry.oracleSql)(ns => SparkEntry.oracleSql.filter(o => ns.contains(o._1)))
    val spark = LocalSession(LocalSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    // A throwing query must leave a visible artifact — otherwise the
    // driver's correctness JSON silently shrinks and a regression reads as
    // "less surface" (this nearly hid the r11 events-reader break).
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    entries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      finally graft.core.CacheScope.release()
    }
    // Keys must equal the output dir basenames ("<name>.parquet") — the
    // driver's correctness gate looks oracles up by dir basename; a bare
    // "<name>" key matches nothing and the whole round goes unverified.
    val json = Json.obj(oracles.toSeq.map { case (k, v) => s"$k.parquet" -> Json.str(v) }: _*)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = Json.obj(failed.toSeq.map { case (k, v) => k -> Json.str(v.take(500)) }: _*)
    Files.writeString(Paths.get(s"$outDir/verify_failed.json"), failJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
