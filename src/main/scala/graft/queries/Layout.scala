package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way a derived layout lands: a shared derivation computed ONCE
  * per (JVM, data dir), written as a bucketed parquet table
  * ([[graft.ops.LayoutOps.writeBucketed]]) and scanned by every consumer.
  * The build runs under [[IndexBuilds.once]] — per-key lock, build seconds
  * booked, so Bench reports them as `index_build_s`, not query time.
  *
  * Contract (the [[IndexBuilds]] one): one dir = one immutable dataset
  * within a JVM; rewriting a dir's data mid-JVM needs a fresh process or
  * dir. */
private[graft] object Layout {

  /** Per thread, the tables [[land]] has returned since the last
    * [[drainReads]]: the layouts the query under construction reads,
    * including those its builder reads only in an eager job. */
  private val reads = ThreadLocal.withInitial[scala.collection.mutable.Set[String]](
    () => scala.collection.mutable.Set.empty[String])

  /** Land `build` as layout `name` of `dir`, bucketed (8 buckets) and
    * sorted on `bucketCol`, and return the committed table.  Table name =
    * `graft_<name>_` + a sanitized dir suffix for readability + an md5
    * suffix for injectivity: catalog identifiers are case-INSENSITIVE, so
    * the sanitized dir alone could still collide (".../RunA" vs
    * ".../runa"), and very long dirs would exceed metastore name limits. */
  def land(s: SparkSession, dir: String, name: String, bucketCol: String)(
      build: => DataFrame): DataFrame = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6)
      .map(b => f"$b%02x").mkString
    val tbl = s"graft_${name}_" +
      Tables.dirTag(dir).takeRight(40).toLowerCase +
      "_" + digest
    IndexBuilds.once(s"layout_$name@$dir") {
      // under the warehouse dir, NOT java.io.tmpdir: the warehouse is
      // shared storage on a real cluster (executors must all reach the
      // bucketed files), local ./spark-warehouse in local mode.  The conf
      // value is a URI — pass it through untouched (Spark's path option
      // accepts URIs; string-stripping the scheme would break URI-encoded
      // characters)
      val wh = s.conf.get("spark.sql.warehouse.dir")
      graft.ops.LayoutOps.writeBucketed(build, bucketCol, 8, tbl,
        s"$wh/graft_layout/$tbl")
    }
    reads.get += tbl
    s.table(tbl)
  }

  /** The tables [[land]] returned on this thread since the last call. */
  def drainReads(): Set[String] = {
    val r = reads.get
    try r.toSet finally r.clear()
  }
}
