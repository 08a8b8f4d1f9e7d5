package graft

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps
import TestFiles.withTempDir

/** The local filesystem under the `swapfail` scheme, except that renaming
  * a `…__swap` directory reports failure the way Hadoop's contract allows:
  * it returns false and moves nothing. */
class SwapRenameFailsFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("swapfail:///")
  override def getScheme: String = "swapfail"
  override def rename(src: Path, dst: Path): Boolean =
    if (src.getName.endsWith("__swap")) false else super.rename(src, dst)
}

/** `StreamingOps.swapTable`, the table swap of the plain-parquet
  * streaming sinks, checks every FileSystem boolean: a rename that
  * returns false after the old table was deleted throws and keeps the
  * `__swap` copy, and the next swap restores that copy before merging. */
class TableSwapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a failed swap rename throws and keeps __swap; the next swap " +
      "restores it and merges into it") {
    spark.sparkContext.hadoopConfiguration.set("fs.swapfail.impl",
      classOf[SwapRenameFailsFileSystem].getName)
    withTempDir("tableswap") { dir =>
      val table = s"${dir.getAbsolutePath}/t"
      def append(ids: Long*)(cur: Option[DataFrame]): DataFrame = {
        val d = ids.toDF("id")
        cur.fold(d)(_.unionByName(d))
      }
      def ids(p: String) = spark.read.parquet(p).as[Long].collect().sorted.toSeq
      StreamingOps.swapTable(spark, table)(append(1L, 2L))
      assert(ids(table) == Seq(1L, 2L))
      val e = intercept[IllegalArgumentException](
        StreamingOps.swapTable(spark, s"swapfail://$table")(append(3L)))
      assert(e.getMessage.contains("kept at"), e.getMessage)
      assert(!new java.io.File(table).exists, "the old table was deleted")
      assert(ids(table + "__swap") == Seq(1L, 2L, 3L),
        "the swap copy holds the new table")
      StreamingOps.swapTable(spark, table)(append(4L))
      assert(ids(table) == Seq(1L, 2L, 3L, 4L))
      assert(!new java.io.File(table + "__swap").exists)
    }
  }
}
