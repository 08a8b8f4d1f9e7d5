package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Expression, GreaterThanOrEqual, IsNotNull, LessThanOrEqual, Literal}
import org.apache.spark.sql.types.StructType

/** Physical-layout operators: bucketed tables and the exchange-free
  * co-located join they buy.
  *
  * At 100 TB the dominant cost of a fact-fact join is the shuffle of both
  * sides.  Writing each side ONCE as a bucketed+sorted table on the join
  * key amortizes that shuffle across every subsequent join/aggregation on
  * the same key: Spark's scan reports the bucket spec, Catalyst sees both
  * sides hash-distributed identically, and the join plans with NO Exchange
  * (and with `sortBy`, no Sort) under it — the 100 TB analogue of the
  * reference keeping its collection pre-sorted by index
  * (scdataset/scdataset.py:103's sorted-fetch rationale, re-expressed as a
  * storage layout instead of a runtime sort).
  */
object LayoutOps {

  /** Write `df` as a bucketed, in-bucket-sorted EXTERNAL parquet table
    * (data at `path`, name in the session catalog).  `buckets` should be
    * sized so one bucket of the LARGER table fits an executor's scan
    * partition at the target scale; both sides of a co-located join must
    * use the same count. */
  def writeBucketed(df: DataFrame, key: String, buckets: Int, name: String,
      path: String): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    df.write.format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", path)
      .mode("overwrite")
      .saveAsTable(name)
  }

  /** Inner equi-join of two same-bucket-spec tables on `key` — plans
    * exchange-free (bucketed SortMergeJoin).  Callers aggregate on top;
    * the only shuffle in the whole query is then the (tiny) final
    * aggregation exchange. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** Write `df` hive-partitioned on `partitionCol` — the directory-level
    * counterpart of [[writeBucketed]]: bucketing co-locates JOIN keys,
    * partitioning makes FILTER keys prunable.  A later read with a
    * predicate on `partitionCol` lists only the matching directories
    * (`PartitionFilters` in the scan — zero bytes of the other partitions
    * are opened), which at 100 TB is the difference between scanning one
    * language/day/source and scanning the corpus.  Keep the column's
    * cardinality directory-sized (languages, dates, sources — not ids). */
  def writePartitioned(df: DataFrame, partitionCol: String,
      path: String): Unit =
    df.write.partitionBy(partitionCol).mode("overwrite").parquet(path)

  /** Read a [[writePartitioned]] layout with an equality predicate on the
    * partition column — plans with `PartitionFilters`, no data read from
    * non-matching partitions.  (A helper, not magic: any read of that
    * path with a `partitionCol` predicate prunes the same way.) */
  def readPartition(spark: SparkSession, path: String, partitionCol: String,
      value: String): DataFrame =
    spark.read.parquet(path)
      .where(org.apache.spark.sql.functions.col(partitionCol) === value)

  /** Write `df` range-partitioned and sorted on `sortCol` — the
    * zone-map layout: each parquet file covers a disjoint value range and
    * its row groups carry tight min/max statistics, so a later range
    * predicate on `sortCol` prunes at BOTH levels (file skip via
    * `PushedFilters` row-group stats, range skip via the layout).  The
    * clustering counterpart of [[writePartitioned]] for HIGH-cardinality
    * numeric columns where directory partitioning would explode. */
  def writeSorted(df: DataFrame, sortCol: String, nParts: Int,
      path: String): Unit = {
    require(nParts > 0, "nParts must be positive")
    df.repartitionByRange(nParts,
        org.apache.spark.sql.functions.col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)
  }

  /** SCD1 upsert without a table format: `updates ∪ (base ANTI updates)`
    * on `key` — updated keys take the new row, unmatched base rows
    * survive, new keys insert.  The MERGE-INTO shape for plain parquet
    * lakes: both legs are one key-hash join (the anti side broadcasts
    * when the update batch is small — the usual case); rewrite the
    * result with [[writePartitioned]]/[[writeSorted]] to finish the
    * swap.  Schemas must match by name. */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame =
    updates.unionByName(
      base.join(updates.select(key), Seq(key), "left_anti"))

  /** Compact `df` into exactly `nFiles` output files — the small-files
    * remedy: a table written by a 1000-task job as 1000 shards re-lands as
    * `nFiles` scan-sized parquet files (metadata pressure, open() counts,
    * and footer reads all drop by the same factor).  One round-robin
    * repartition exchange; size `nFiles` to rows × row-width /
    * `maxPartitionBytes` so a later scan gets one task per file. */
  def compactWrite(df: DataFrame, nFiles: Int, path: String): Unit = {
    require(nFiles > 0, "nFiles must be positive")
    df.repartition(nFiles).write.mode("overwrite").parquet(path)
  }

  /** Morton (Z-order) interleave of two non-negative integer columns, each
    * truncated to `bits` low bits: bit i of `a` lands at position 2i, bit i
    * of `b` at 2i+1.  Backed by the native codegen expression
    * [[graft.functions.ZOrder64]] — one tight generated loop per row
    * instead of a 3·bits-term composed column. */
  def zOrderValue(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column = {
    require(bits > 0 && bits <= 31, "bits must be in 1..31")
    graft.functions.ZOrder64.zorder64(a, b, bits)
  }

  /** Z-order clustered write: range-partition + in-partition sort on the
    * Morton interleave of TWO filter dimensions, so each output file covers
    * a small rectangle of the (a, b) plane and a scan filtered on EITHER
    * dimension (or a box on both) prunes most files from their min/max
    * footer stats — the multi-dimensional generalization of [[writeSorted]]
    * (which buys skipping on one column by sacrificing all others).  One
    * range exchange; sampling for the range bounds is Spark's own.
    *
    * The interleave needs both dimensions pre-mapped to bounded
    * non-negative ints (bucket ids, epoch hours, modular ids): Z-order
    * locality is in BIT space, so callers map values to compact ranges,
    * not raw 64-bit ids. */
  def writeZOrdered(df: DataFrame, a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, bits: Int, nParts: Int,
      path: String): Unit = {
    require(nParts > 0, "nParts must be positive")
    val z = zOrderValue(a, b, bits)
    df.repartitionByRange(nParts, z).sortWithinPartitions(z)
      .write.mode("overwrite").parquet(path)
  }

  /** Incremental rollup maintenance: merge a materialized additive rollup
    * with a delta rollup over the same keys — `unionByName` + one re-sum.
    * Because counts and sums are associative partial aggregates, the merge
    * of per-period partials is EXACTLY the rollup of the union of the
    * inputs; the nightly 100 TB re-aggregation becomes a merge whose cost
    * is the ROLLUP's cardinality (keys × periods), not the event log's.
    * Non-additive measures must be carried in mergeable form (sum+count
    * for mean, HLL sketches for distinct — see `hllMerge`); a raw avg or
    * distinct-count column silently breaks the invariant, so this API
    * takes only the additive sum columns. */
  def mergeRollups(base: DataFrame, delta: DataFrame, keys: Seq[String],
      sumCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty && sumCols.nonEmpty, "keys and sumCols required")
    base.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum(sumCols.head).as(sumCols.head),
        sumCols.tail.map(c => sum(c).as(c)): _*)
  }

  /** 60-bit row digest from md5 over the `|`-joined columns — the
    * engine-portable per-row fingerprint (md5 is specified byte-exact
    * everywhere, unlike xxhash/murmur whose seeds differ across engines). */
  def rowDigest(cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    conv(substring(md5(concat_ws("|", cols: _*)), 1, 15), 16, 10).cast("long")
  }

  /** Content-addressed audit manifest: per group, the row count and the
    * XOR of all row digests.  XOR is commutative/associative, so the
    * digest is independent of row order, partitioning, and merge order —
    * two replicas of a 100 TB table compare by exchanging one manifest row
    * per partition group instead of re-reading each other; any dropped,
    * duplicated, or bit-flipped row flips the group digest.  One
    * map-side-combinable aggregate; nothing but (group, count, digest)
    * ever shuffles. */
  def auditManifest(df: DataFrame, group: org.apache.spark.sql.Column,
      digest: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions._
    df.select(group.as("grp"), digest.as("h"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("xor_digest"))
  }

  // ---- Versioned lake (manifest-based time travel) -------------------
  //
  // The transaction-log pattern without a table format: each commit
  // writes ONLY its new files (under files/v<n>/) and a version manifest
  // listing every directory composing that snapshot — an append commit
  // carries the previous manifest's entries forward, an overwrite starts
  // fresh.  Old versions stay readable forever (no file is ever
  // rewritten), and a 100 TB append commits in O(new data), not O(table).
  //
  // Each lake decision has one owner here: the manifest codec
  // (`manifestLines`/`publishManifest`/`carried`), the pruning rule
  // (`LakeFileIndex.prune`, which `rangeDirs` feeds), the structural
  // delta (`appendedDirs`), the rewrite publish (`publishRewrite`), the
  // data-file filter (`dataFiles`) and the footer rule (`newestFooter`,
  // `unionFooter`).

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(path: String, v: Int) =
    new Path(s"$path/_v$v.manifest")

  /** Largest committed version, or -1 if the table does not exist. */
  def latestVersion(spark: SparkSession, path: String): Int = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) -1
    else f.listStatus(p).map(_.getPath.getName)
      .collect { case n if n.startsWith("_v") && n.endsWith(".manifest") =>
        n.stripPrefix("_v").stripSuffix(".manifest").toInt }
      .foldLeft(-1)(math.max)
  }

  private def alreadyExists(e: Throwable): Boolean = e match {
    case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
    case _: java.nio.file.FileAlreadyExistsException => true
    case _ => e.getMessage != null &&
      e.getMessage.toLowerCase(java.util.Locale.ROOT)
        .contains("already exists")
  }

  /** Create-exclusive manifest publish — the CAS every commit point goes
    * through.  On HDFS and conditional-create object stores,
    * `create(overwrite = false)` is atomic and this delegates to it.  On
    * the LOCAL filesystem that call is check-then-create (a genuine race
    * window two concurrent committers can hit), so the bytes are staged
    * to a writer-unique temp file and PUBLISHED with `Files.createLink` —
    * POSIX link(2) is atomic and fails with EEXIST if the destination
    * appeared in between, which surfaces as the same "already exists"
    * conflict the retry loop expects. */
  private def createExclusive(f: org.apache.hadoop.fs.FileSystem,
      target: Path, bytes: Array[Byte]): Unit = {
    val local = f.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      f.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    if (!local) {
      val out = f.create(target, false)
      out.write(bytes)
      out.close()
    } else {
      val dst = java.nio.file.Paths.get(
        target.toUri.getPath)
      val tmp = dst.resolveSibling(
        s".${dst.getFileName}.${java.util.UUID.randomUUID()}.tmp")
      java.nio.file.Files.write(tmp, bytes)
      try java.nio.file.Files.createLink(dst, tmp)
      finally java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  // ---- manifest codec ---------------------------------------------------
  //
  // A manifest is UTF-8 text, one entry per line, lines joined by "\n":
  //   <data dir>                              a directory of the snapshot
  //   #stats:<dir>:<col>:<kind>:<min>:<max>   see writeWithStats
  //   #size:<dir>:<bytes>                     see sizeLine
  //   #txn:<id>                               see commitAppend
  // where <dir> is a data directory's name and the #stats fields are
  // URL-encoded.  Every manifest is read by `manifestLines`, written by
  // `publishManifest`, and carried into a later one by `carried`.

  private def manifestLines(f: org.apache.hadoop.fs.FileSystem, path: String,
      v: Int): Seq[String] = {
    val in = f.open(manifestPath(path, v))
    try new String(in.readAllBytes(), UTF_8).split("\n")
      .filter(_.nonEmpty).toSeq
    finally in.close()
  }

  private def publishManifest(f: org.apache.hadoop.fs.FileSystem,
      path: String, v: Int, lines: Seq[String]): Unit =
    createExclusive(f, manifestPath(path, v), lines.mkString("\n")
      .getBytes(UTF_8))

  /** The carry rule of every commit: the lines of the data directories
    * whose name `keep` accepts, with their `#stats:`/`#size:` lines — an
    * append carries every directory, a rewrite the untouched ones.  `#txn`
    * markers stay in the version that wrote them ([[txnMarkers]] scans
    * every manifest; [[vacuum]] folds the dropped ones forward). */
  private def carried(lines: Seq[String],
      keep: String => Boolean): Seq[String] =
    lines.filter { l =>
      if (!l.startsWith("#")) keep(new Path(l).getName)
      else (l.startsWith("#stats:") || l.startsWith("#size:")) &&
        keep(dec(l.split(":", -1)(1)))
    }

  /** Full manifest decode of snapshot `v`: (data dirs, per-(dir, column)
    * stats, per-dir data bytes).  One tiny manifest read — no file
    * listing, no footer. */
  private[graft] def manifestEntries(spark: SparkSession, path: String,
      v: Int): (Seq[String], Map[(String, String), (String, String, String)],
        Map[String, Long]) = {
    val lines = manifestLines(fs(spark, path), path, v)
    val dirs = lines.filterNot(_.startsWith("#"))
    val stats = lines.filter(_.startsWith("#stats:")).flatMap { l =>
      l.stripPrefix("#stats:").split(":", -1) match {
        case Array(d, c, kind, mn, mx) =>
          Some((dec(d), dec(c)) -> (kind, dec(mn), dec(mx)))
        case _ => None
      }
    }.toMap
    val sizes = lines.filter(_.startsWith("#size:")).flatMap { l =>
      l.stripPrefix("#size:").split(":", -1) match {
        case Array(d, b) => scala.util.Try(dec(d) -> b.toLong).toOption
        case _ => None
      }
    }.toMap
    (dirs, stats, sizes)
  }

  /** The `#txn:` ids of every manifest still present, oldest first;
    * lazy, so a lookup stops reading at its first hit. */
  private def txnMarkers(spark: SparkSession, path: String): Iterator[String] = {
    val f = fs(spark, path)
    (0 to latestVersion(spark, path)).iterator
      .filter(v => f.exists(manifestPath(path, v)))
      .flatMap(v => manifestLines(f, path, v))
      .collect { case l if l.startsWith("#txn:") => l.stripPrefix("#txn:") }
  }

  // ---- data directories and footers -------------------------------------

  /** A writer-unique data directory for version `v`; `suffix` tags a
    * rewrite (c compaction, z Z-order, d delete, m merge).  See
    * [[commit]] for why names are never reused. */
  private def newDataDir(path: String, v: Int, suffix: String = ""): String = {
    val nonce = java.lang.Long.toHexString(
      System.nanoTime() ^ (Thread.currentThread().getId << 40))
    s"$path/files/v$v$suffix-$nonce"
  }

  /** The data files of one lake directory: plain files, without the
    * `_`/`.`-prefixed job and checksum files. */
  private[graft] def dataFiles(conf: org.apache.hadoop.conf.Configuration,
      dir: String): Array[FileStatus] = {
    val p = new Path(dir)
    p.getFileSystem(conf).listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** The schema every snapshot read resolves to: the newest commit's
    * footer (`dirs.last`), read from one directory.  `spark.read.parquet`
    * over several directories does not merge footers and does not take
    * the newest one either, so every reader passes this schema
    * explicitly. */
  private[graft] def newestFooter(spark: SparkSession,
      dirs: Seq[String]): StructType =
    spark.read.parquet(dirs.last).schema

  /** The union of every directory's footer — one footer read per
    * directory, for the schema-evolution read and for rewrites, which
    * must not drop a column some directory still carries. */
  private def unionFooter(spark: SparkSession, dirs: Seq[String]): StructType =
    dirs.map(d => spark.read.parquet(d).schema)
      .reduce(org.apache.spark.sql.GraftBridge.mergeSchemas)

  /** Snapshot `v` (or the `only` subset of its directories) through a
    * [[graft.sources.LakeFileIndex]] carrying the manifest's stats and
    * sizes, under the schema `footer` resolves from the snapshot's
    * directories — the one indexed reader behind every lake read but
    * [[readVersion]]. */
  private def lakeTable(spark: SparkSession, path: String, v: Int,
      only: Option[Seq[String]] = None)(
      footer: Seq[String] => StructType = newestFooter(spark, _))
      : (DataFrame, graft.sources.LakeFileIndex) = {
    val (dirs, stats, sizes) = manifestEntries(spark, path, v)
    require(dirs.nonEmpty, s"snapshot v$v of $path has no data directories")
    val sch = footer(dirs)
    val index = new graft.sources.LakeFileIndex(spark,
      only.getOrElse(dirs), stats, sizes)
    (org.apache.spark.sql.GraftBridge.parquetTable(spark, index, sch), index)
  }

  // ---- commits ------------------------------------------------------------

  /** One commit = one data write + one manifest CAS, concurrency-safe by
    * RETRY-ON-CONFLICT rather than a lock.
    *
    * The data lands ONCE, in a WRITER-UNIQUE directory
    * (`files/v<intended>-<nonce>`): two committers writing the same
    * target path would interleave their job-committer `_temporary` state
    * and corrupt each other, and a crashed writer's leftover directory
    * could block a version number forever — under unique names neither
    * can happen, because snapshots are defined ONLY by manifest contents
    * (readers never parse data-directory names; [[vacuum]] sweeps
    * unreferenced leftovers).
    *
    * The commit point is an EXCLUSIVE create of `_v<n>.manifest`
    * ([[createExclusive]]) — `create(overwrite = false)` where that is
    * atomic (HDFS, conditional-create object stores), an atomic
    * link(2) publish on the local filesystem.  A loser
    * re-reads `latestVersion` AND the new predecessor's manifest (so
    * carried entries are the winner's snapshot) and re-CASes the SAME
    * data directory under the next version — data is never rewritten.
    * `maxRetries` exhaustion rethrows the conflict: no corruption either
    * way, the caller simply did not land. */
  private def commit(df: DataFrame, path: String,
      carryPrevious: Boolean, txn: Option[String] = None,
      maxRetries: Int = 8, statsCols: Seq[String] = Nil): Int = {
    val spark = df.sparkSession
    val f = fs(spark, path)
    val dataDir = newDataDir(path, latestVersion(spark, path) + 1)
    val entries = dataDir +: writeWithStats(df, dataDir, statsCols)
    var attempt = 0
    var committed = -1
    while (committed < 0) {
      val v = latestVersion(spark, path) + 1
      val prev =
        if (carryPrevious && v > 0) carried(manifestLines(f, path, v - 1),
          _ => true)
        else Nil
      try {
        publishManifest(f, path, v,
          txn.map(t => s"#txn:$t").toSeq ++ prev ++ entries)
        committed = v
      } catch {
        case e: Throwable if alreadyExists(e) && attempt < maxRetries =>
          attempt += 1
          Thread.sleep(20L * attempt)
        case e: Throwable => throw e
      }
    }
    committed
  }

  /** The publish step of every REWRITE commit (compaction, DELETE,
    * MERGE): write `rewritten` to one new `dirSuffix`-tagged directory,
    * carry every `kept` directory's manifest lines by name, and CAS the
    * manifest once at `base+1`.  A rewrite is only correct if nothing
    * committed after `base`, so a concurrent winner means it is stale:
    * None, no retry (the orphaned directory is writer-unique and
    * vacuum-swept, like any crashed commit); callers re-run at the new
    * tip. */
  private def publishRewrite(spark: SparkSession, path: String, base: Int,
      kept: Seq[String], rewritten: DataFrame, sCols: Seq[String],
      dirSuffix: String): Option[Int] = {
    val f = fs(spark, path)
    val dataDir = newDataDir(path, base + 1, dirSuffix)
    val entries = dataDir +: writeWithStats(rewritten, dataDir, sCols)
    val keptNames = kept.map(d => new Path(d).getName).toSet
    try {
      publishManifest(f, path, base + 1,
        carried(manifestLines(f, path, base), keptNames) ++ entries)
      Some(base + 1)
    } catch {
      case e: Throwable if alreadyExists(e) => None
    }
  }

  // ---- manifest column statistics (listing-level data skipping) ------
  //
  // One `#stats:<dir>:<col>:<kind>:<min>:<max>` manifest line per
  // (data directory, tracked column), recording the DELTA's min/max at
  // commit time.  At 100 TB a time-ranged read of an append-mostly lake
  // should not even LIST the files of out-of-range commits, let alone
  // open their footers: the manifest — already in hand — answers the
  // range question per directory.  Stats are computed DURING the
  // commit's own write pass (Observation API), so they cost zero extra
  // scans; they are strictly optional and strictly conservative — a
  // directory without a stats line for the queried column is always
  // read, unparseable or foreign-typed stats are ignored, and the
  // range filter is re-applied to the surviving rows, so pruning can
  // never change a result, only skip work.

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  /** Conservative manifest encoding of one observed min/max value:
    * (kind, literal).  Numerics compare as decimals; date/time values
    * are recorded in the internal form a Catalyst literal of them
    * carries (epoch days, epoch microseconds), so stats and filter
    * literals agree for every date, before 1582 too; strings compare
    * lexicographically (Spark's own string ordering) — anything else is
    * unsupported and yields no stats line (the directory is then never
    * skipped). */
  private def statLit(v: Any): Option[(String, String)] = v match {
    case null => None
    case n: java.lang.Number => Some(("num", n.toString)) // incl. BigDecimal
    case s: String => Some(("str", s))
    case t @ (_: java.sql.Timestamp | _: java.time.Instant |
        _: java.sql.Date | _: java.time.LocalDate) => Some(("num",
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToCatalyst(t).toString))
    case _ => None
  }

  /** `#size:<dir>:<bytes>` for a just-written data directory — one
    * listing at COMMIT time (the writer already holds the directory) so
    * that no READER ever has to list the lake's directories just to
    * answer the planner's size question ([[readVersionIndexed]]'s
    * `sizeInBytes`); absent lines degrade to list-on-demand. */
  private def sizeLine(spark: SparkSession, dataDir: String): String = {
    val bytes = dataFiles(spark.sparkContext.hadoopConfiguration, dataDir)
      .map(_.getLen).sum
    s"#size:${enc(new Path(dataDir).getName)}:$bytes"
  }

  /** Write `df` to `dataDir` and return its `#stats:` manifest lines for
    * `statsCols` (computed in the SAME pass via `observe` — no re-scan)
    * plus the directory's `#size:` line.  An all-null (or empty) delta
    * records kind `none`: a range query can skip the directory outright,
    * because a range predicate never matches null. */
  private def writeWithStats(df: DataFrame, dataDir: String,
      statsCols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions.{col, max, min}
    if (statsCols.isEmpty) {
      df.write.mode("errorifexists").parquet(dataDir)
      return Seq(sizeLine(df.sparkSession, dataDir))
    }
    val obs = new org.apache.spark.sql.Observation(
      "lake_stats_" + java.util.UUID.randomUUID().toString)
    val aggs = statsCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).as(s"mn$i"), max(col(c)).as(s"mx$i")) }
    df.observe(obs, aggs.head, aggs.tail: _*)
      .write.mode("errorifexists").parquet(dataDir)
    val m = obs.get
    val dirName = new Path(dataDir).getName
    statsCols.zipWithIndex.flatMap { case (c, i) =>
      (m(s"mn$i"), m(s"mx$i")) match {
        // kind `none` means the delta had NO NON-NULL VALUES — it must
        // only be claimed when the observed min/max are literally null
        // (an UNSUPPORTED type also fails statLit, but its values are
        // real: that case gets no line, so the directory is always read)
        case (null, null) =>
          Some(s"#stats:${enc(dirName)}:${enc(c)}:none::")
        case (mnV, mxV) => (statLit(mnV), statLit(mxV)) match {
          case (Some((k1, lo)), Some((k2, hi))) if k1 == k2 =>
            Some(s"#stats:${enc(dirName)}:${enc(c)}:$k1:${enc(lo)}:${enc(hi)}")
          case _ => None // mixed/unsupported: no claim, always read
        }
      }
    } :+ sizeLine(df.sparkSession, dataDir)
  }

  /** Stat columns of a rewrite: `statsCols`, or else every column the
    * base manifest already tracks. */
  private def statColumns(statsCols: Seq[String],
      stats: Map[(String, String), (String, String, String)]): Seq[String] =
    if (statsCols.nonEmpty) statsCols
    else stats.keys.map(_._2).toSeq.distinct.sorted

  /** `lo <= column <= hi` in the Catalyst form
    * [[graft.sources.LakeFileIndex.mayMatch]] reads, built from the
    * bounds directly: the analyzer would wrap a column narrower than the
    * bounds in a Cast that mayMatch cannot prune on.  None — keep every
    * directory — when the bounds share no stats kind ([[statLit]]); a
    * NaN or infinite bound orders nothing, so such a range can only rule
    * out all-null directories. */
  private def rangeCondition(column: String, lo: Any,
      hi: Any): Option[Expression] =
    (statLit(lo), statLit(hi)) match {
      case (Some((k1, _)), Some((k2, _))) if k1 == k2 =>
        scala.util.Try((Literal.create(lo), Literal.create(hi))).toOption
          .map { case (l, h) =>
            val a = AttributeReference(column, l.dataType)()
            val ordered = Seq(l, h).forall(b =>
              graft.sources.LakeFileIndex.litKind(b.value, b.dataType)
                .isDefined)
            if (ordered) And(GreaterThanOrEqual(a, l), LessThanOrEqual(a, h))
            else IsNotNull(a)
          }
      case _ => None
    }

  /** Split snapshot `v`'s data directories into (kept, skipped) for the
    * closed range `lo..hi` on `column`, using only manifest stats — no
    * file listing, no footer reads — by the lake's one pruning rule,
    * [[graft.sources.LakeFileIndex.prune]].  Conservative in every
    * direction: directories without a stats line for `column` are kept,
    * stats of a different kind than the bounds are kept, unsupported
    * bound types keep everything; only a directory whose recorded delta
    * range lies wholly outside `lo..hi` (or whose delta had no non-null
    * values — kind `none`) is skipped, which a range predicate cannot
    * observe. */
  def rangeDirs(spark: SparkSession, path: String, v: Int, column: String,
      lo: Any, hi: Any): (Seq[String], Seq[String]) = {
    val (dirs, stats, _) = manifestEntries(spark, path, v)
    rangeCondition(column, lo, hi).fold((dirs, Seq.empty[String]))(c =>
      graft.sources.LakeFileIndex.prune(dirs, stats, Seq(c)))
  }

  /** Time-travel read of snapshot `v` restricted to `column` in
    * `lo..hi` (closed range), with manifest-stats directory pruning: the
    * indexed reader over [[rangeDirs]]' kept directories.  The predicate
    * is re-applied to the surviving rows, so the result equals
    * `readVersion(...).where(column between lo and hi)` — same columns
    * too, at any bounds — whether or not any commit recorded stats. */
  def readVersionRange(spark: SparkSession, path: String, v: Int,
      column: String, lo: Any, hi: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (kept, _) = rangeDirs(spark, path, v, column, lo, hi)
    lakeTable(spark, path, v, Some(kept))()._1
      .where(col(column).between(lit(lo), lit(hi)))
  }

  // ---- compaction ---------------------------------------------------------

  /** Rewrite snapshot `base` into `targetFiles` files and publish the
    * result as version `base + 1` — the OPTIMIZE step that undoes the
    * one-directory-per-micro-batch fragmentation of a streaming
    * [[graft.streaming.StreamingOps.lakeSink]] (ten thousand tiny
    * commits of a 100 TB day re-read as ten thousand directory listings
    * is a driver-side outage; after compaction the snapshot is
    * `targetFiles` parquet files in ONE directory).  Rows are identical
    * to `readVersion(base)`; older versions stay readable; the replaced
    * small directories are reclaimed by [[vacuum]] once `keepFrom`
    * passes them.
    *
    * Concurrency: the [[publishRewrite]] discipline — one CAS at
    * `base + 1`, None if a concurrent commit won it (callers re-run
    * compaction at the new tip).  `coalesce` keeps the rewrite
    * shuffle-free; pass `statsCols` to re-establish manifest stats over
    * the merged directory. */
  def compactFrom(spark: SparkSession, path: String, base: Int,
      targetFiles: Int = 1, statsCols: Seq[String] = Nil,
      sortCol: Option[String] = None): Option[Int] = {
    require(targetFiles > 0, "targetFiles must be positive")
    if (base < 0) return None // not-yet-written table: nothing to compact
    val snap = readVersion(spark, path, base)
    // plain compaction is shuffle-free (coalesce); re-CLUSTERING
    // compaction pays one range exchange to sort the snapshot on
    // `sortCol`, so each rewritten file covers a narrow value range and
    // parquet footer stats prune within the directory — the in-dir
    // complement of the manifest-level rangeDirs skip (micro-batch
    // appends interleave arrival order with event time; compaction is
    // exactly when that clustering is worth re-establishing)
    val arranged = sortCol.fold(snap.coalesce(targetFiles)) { c =>
      import org.apache.spark.sql.functions.col
      snap.repartitionByRange(targetFiles, col(c))
        .sortWithinPartitions(col(c))
    }
    publishRewrite(spark, path, base, Nil, arranged, statsCols, "c")
  }

  /** Z-ORDER compaction: rewrite the latest snapshot clustered on the
    * Morton interleave of TWO filter dimensions ([[zOrderValue]] — both
    * pre-mapped to bounded non-negative ints, the [[writeZOrdered]]
    * contract), published as a new version.  Each rewritten file covers
    * a small rectangle of the (a, b) plane, so scans filtered on EITHER
    * dimension prune most files from parquet footer stats — the
    * multi-dimensional complement of `compactFrom(sortCol)`, which buys
    * one column's skipping by sacrificing all others.  Same
    * single-CAS/stale-base discipline as [[compactFrom]]; a concurrent
    * commit wins → None, orphan vacuum-swept. */
  def compactZOrdered(spark: SparkSession, path: String,
      a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int, targetFiles: Int = 1,
      statsCols: Seq[String] = Nil): Option[Int] = {
    require(targetFiles > 0, "targetFiles must be positive")
    val base = latestVersion(spark, path)
    if (base < 0) return None
    val z = zOrderValue(a, b, bits)
    val arranged = readVersion(spark, path, base)
      .repartitionByRange(targetFiles, z)
      .sortWithinPartitions(z)
    publishRewrite(spark, path, base, Nil, arranged, statsCols, "z")
  }

  /** [[compactFrom]] at the current latest version. */
  def compactSnapshot(spark: SparkSession, path: String,
      targetFiles: Int = 1, statsCols: Seq[String] = Nil,
      sortCol: Option[String] = None): Option[Int] =
    compactFrom(spark, path, latestVersion(spark, path), targetFiles,
      statsCols, sortCol)

  /** Compact only when the snapshot has fragmented past `maxDirs`
    * directories — the auto-OPTIMIZE policy a continuously-appending
    * writer calls after each commit.  Amortized cost: with batches of
    * roughly equal size the snapshot is rewritten every `maxDirs`
    * commits, i.e. each row is rewritten O(total/maxDirs-ish) times —
    * size `maxDirs` so that rewrite cost stays a small multiple of
    * ingest cost (64 is a sane default for minute-scale micro-batches).
    * Returns the new version if a compaction was published, None if the
    * snapshot was still healthy or a concurrent commit won the race. */
  def maybeCompact(spark: SparkSession, path: String, maxDirs: Int = 64,
      targetFiles: Int = 1, statsCols: Seq[String] = Nil,
      sortCol: Option[String] = None): Option[Int] = {
    val base = latestVersion(spark, path)
    if (base < 0 || manifestEntries(spark, path, base)._1.size <= maxDirs)
      None
    else compactFrom(spark, path, base, targetFiles, statsCols, sortCol)
  }

  /** Append commit: the new snapshot = previous snapshot + `df`.  An
    * optional `txn` id is recorded INSIDE the manifest (the atomic commit
    * point), Delta-`txn`-style, so a writer can ask "did this logical
    * write already land?" with no separate marker file and therefore no
    * committed-but-unmarked crash window. */
  def commitAppend(df: DataFrame, path: String,
      txn: Option[String] = None, statsCols: Seq[String] = Nil,
      maxRetries: Int = 8): Int =
    commit(df, path, carryPrevious = true, txn, maxRetries = maxRetries,
      statsCols = statsCols)

  /** True iff some committed manifest carries `#txn:<txn>` — i.e. the
    * logical write with this id is already part of the table.  O(number
    * of versions) tiny manifest reads; no data files are touched. */
  def txnCommitted(spark: SparkSession, path: String, txn: String): Boolean =
    txnMarkers(spark, path).contains(txn)

  /** Overwrite commit: the new snapshot = `df` alone (old versions stay
    * readable — nothing is deleted). */
  def commitOverwrite(df: DataFrame, path: String,
      statsCols: Seq[String] = Nil): Int =
    commit(df, path, carryPrevious = false, statsCols = statsCols)

  // ---- snapshot reads -----------------------------------------------------

  /** Time-travel read of snapshot `v` (any committed version): a plain
    * parquet read of its directories under the newest commit's footer. */
  def readVersion(spark: SparkSession, path: String, v: Int): DataFrame = {
    val (dirs, _, _) = manifestEntries(spark, path, v)
    spark.read.schema(newestFooter(spark, dirs)).parquet(dirs: _*)
  }

  /** [[readVersionIndexed]] plus the live [[graft.sources.LakeFileIndex]]
    * for pruning-census assertions. */
  private[graft] def indexedRead(spark: SparkSession, path: String, v: Int,
      schema: Option[StructType] = None)
      : (DataFrame, graft.sources.LakeFileIndex) =
    lakeTable(spark, path, v)(dirs =>
      schema.getOrElse(newestFooter(spark, dirs)))

  /** Time-travel read of snapshot `v` through a manifest-backed
    * [[graft.sources.LakeFileIndex]]: any pushed-down filter on a
    * stats-tracked column prunes whole commit directories at PLANNING
    * time — `readVersionIndexed(...).where($"day" > x)` skips
    * out-of-range commits with no user hint, where [[readVersionRange]]
    * needs the column and bounds spelled out.  Pruned directories are
    * never listed, and the planner's size estimate comes from the
    * manifest's `#size:` lines, so planning cost is O(manifest), not
    * O(files) — the property that keeps a 10 000-commit streaming lake
    * usable.  Results are identical to [[readVersion]] under any
    * predicate (pruning is conservative; Spark re-applies the full
    * filter to surviving rows). */
  def readVersionIndexed(spark: SparkSession, path: String, v: Int,
      schema: Option[StructType] = None): DataFrame =
    indexedRead(spark, path, v, schema)._1

  /** [[readVersionIndexed]] under the UNION of every commit's schema —
    * the schema-evolution read.  Append commits may add columns over a
    * table's lifetime; the default read resolves to the NEWEST commit's
    * footer (cheap, right for stable schemas), while this variant reads
    * one footer per commit directory (O(dirs), only when asked) and
    * merges them, so rows from pre-evolution commits surface the added
    * columns as nulls instead of the columns silently vanishing when an
    * old directory happens to be last.  Same planner-integrated pruning:
    * the merged schema rides the same LakeFileIndex. */
  def readVersionEvolved(spark: SparkSession, path: String,
      v: Int): DataFrame =
    lakeTable(spark, path, v)(unionFooter(spark, _))._1

  /** The data directories snapshot `toV` adds to snapshot `fromV`
    * (exclusive; -1 = from the beginning) — the structural append-delta
    * behind [[readVersionDelta]], [[lakeTail]], [[lakeMirror]] and the
    * lake stream source.  Two manifest reads, no listing.  Throws when a
    * directory of `fromV` is gone from `toV`: a compaction, overwrite,
    * DELETE or MERGE in between rewrote history, and replaying the
    * snapshot as "new" would be wrong. */
  private[graft] def appendedDirs(spark: SparkSession, path: String,
      fromV: Int, toV: Int): Seq[String] = {
    require(fromV <= toV, s"fromV $fromV must be <= toV $toV")
    val fromDirs: Set[String] =
      if (fromV < 0) Set.empty
      else manifestEntries(spark, path, fromV)._1.toSet
    val toDirs = manifestEntries(spark, path, toV)._1
    val rewritten = fromDirs -- toDirs
    require(rewritten.isEmpty,
      s"versions $fromV..$toV of $path contain a compaction/overwrite " +
        s"(${rewritten.size} directories rewritten) — the structural " +
        "append-delta is undefined; re-seed the consumer from a full " +
        "snapshot read instead")
    toDirs.filterNot(fromDirs)
  }

  /** Incremental (CDC-style) read: the rows APPENDED between snapshot
    * `fromV` (exclusive; -1 = from the beginning) and snapshot `toV`
    * (inclusive), computed structurally from the two manifests
    * ([[appendedDirs]]), so the cost is O(delta), never a re-read or
    * anti-join of the full table.  This is how an incremental consumer
    * (a downstream index append, a DSIR update, a micro-batch tail)
    * catches up with an append-only lake: checkpoint the last version
    * processed, read the delta, advance.  Only sound while every commit
    * in `(fromV, toV]` was an APPEND; otherwise this throws.  The result
    * is served through [[graft.sources.LakeFileIndex]], so pushed
    * filters prune the delta's directories like any other read. */
  def readVersionDelta(spark: SparkSession, path: String, fromV: Int,
      toV: Int): DataFrame =
    lakeTable(spark, path, toV,
      Some(appendedDirs(spark, path, fromV, toV)))()._1

  // ---- row-level rewrites -------------------------------------------------

  /** `predicate` analyzed against `schema` — resolved attributes and
    * Catalyst comparison nodes, the form the pruning rule reads. */
  private def analyzed(spark: SparkSession, schema: StructType,
      predicate: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.GraftBridge.analyzedCondition(
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema),
      predicate)

  /** Read `dirs` under the UNION of their footer schemas — a rewrite
    * that resolved the schema from one arbitrary footer would silently
    * DROP evolved columns from the rewritten directory (heterogeneous
    * commit schemas are a supported lake state; see
    * [[readVersionEvolved]]). */
  private def readMerged(spark: SparkSession,
      dirs: Seq[String]): DataFrame =
    spark.read.schema(unionFooter(spark, dirs)).parquet(dirs: _*)

  /** Row-level DELETE with directory-granular rewrites: publish (as
    * version `base+1`) a snapshot equal to the current one minus every
    * row where `predicate` is TRUE (false/null rows are kept — SQL
    * DELETE semantics).  Cost is ∝ the AFFECTED directories, not the
    * table: the manifest stats decide, by the same pruning rule the
    * planner-integrated read uses (`LakeFileIndex.prune`), which
    * directories the predicate could possibly touch; only those are
    * read, filtered and rewritten into one new directory — every other
    * directory (and its stats/size lines) is carried by NAME, its files
    * untouched.  At 100 TB a day-ranged retention delete on a
    * day-stats'd lake rewrites one day's commits, not the lake.
    *
    * Returns Some(newVersion) when a new version was published; None
    * when nothing could match (the delete is trivially complete) or a
    * concurrent commit won the single CAS ([[publishRewrite]] — re-run
    * at the new tip; the orphaned rewrite is vacuum-swept).
    * `statsCols = Nil` inherits the stat columns the base manifest
    * already tracks.  NOTE: a delete REWRITES history, so
    * structural-delta consumers ([[readVersionDelta]], [[lakeTail]],
    * the lake stream) refuse intervals spanning it — by design. */
  def deleteWhere(spark: SparkSession,
      path: String, predicate: org.apache.spark.sql.Column,
      statsCols: Seq[String] = Nil): Option[Int] = {
    val base = latestVersion(spark, path)
    if (base < 0) return None
    val (dirs, stats, _) = manifestEntries(spark, path, base)
    val (affected, kept) = graft.sources.LakeFileIndex.prune(dirs, stats,
      Seq(analyzed(spark, newestFooter(spark, dirs), predicate)))
    if (affected.isEmpty) return None
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val survivors = readMerged(spark, affected)
      .where(not(coalesce(predicate, lit(false))))
    publishRewrite(spark, path, base, kept, survivors,
      statColumns(statsCols, stats), "d")
  }

  /** MERGE (upsert) into the lake with directory-granular rewrites:
    * publish (as `base+1`) a snapshot where every row whose `key`
    * matches an update row is REPLACED by it and unmatched update rows
    * are inserted.  The manifest's `key` stats bound the rewrite: every
    * update key lies in the updates' own [min, max], so a directory
    * whose recorded key range provably misses that interval cannot hold
    * a matching row and is carried BY NAME, files untouched; only the
    * possibly-overlapping directories are anti-joined against the
    * update keys and rewritten (Delta's MERGE shape — the key interval
    * check is conservative, the anti-join is exact).  At 100 TB a
    * key-clustered lake rewrites the few directories an update batch
    * touches, not the table.
    *
    * `updates` must be key-unique (enforced — on the first commit too:
    * duplicate update keys would make the merge order-dependent).
    * Returns Some(newVersion); None when the update batch is empty
    * (steady-state scheduled upserts must not churn a version per empty
    * batch) or a concurrent commit won the single CAS (re-run at the
    * new tip).  A merge REWRITES history wherever it deletes, so
    * structural-delta consumers refuse intervals spanning it unless the
    * merge touched nothing (pure insert of disjoint keys still rewrites
    * nothing but publishes a new directory — that one stays
    * tail-consumable).  `statsCols = Nil` inherits the base manifest's
    * stat columns. */
  def mergeInto(spark: SparkSession, path: String,
      updates: DataFrame, key: String,
      statsCols: Seq[String] = Nil): Option[Int] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    // uniqueness is the invariant EVERY later merge assumes — enforce it
    // on the first commit too, not just the rewrite path
    val dup = updates.groupBy(col(key)).agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1).limit(1).count()
    require(dup == 0, s"mergeInto updates must be unique on '$key'")
    val base = latestVersion(spark, path)
    if (base < 0) return Some(commitAppend(updates, path,
      statsCols = statsCols))
    val (dirs, stats, _) = manifestEntries(spark, path, base)
    val kr = updates.agg(min(col(key)), max(col(key))).head()
    // an empty update batch is the steady state of a scheduled upsert:
    // publishing a version per empty batch would churn history for
    // nothing — no-op instead
    if (kr.isNullAt(0) && updates.limit(1).count() == 0) return None
    val (affected, kept) =
      if (kr.isNullAt(0)) (Seq.empty[String], dirs) // all-null keys
      else graft.sources.LakeFileIndex.prune(dirs, stats,
        Seq(analyzed(spark, newestFooter(spark, dirs),
          col(key).between(lit(kr.get(0)), lit(kr.get(1))))))
    val survivors =
      if (affected.isEmpty) updates
      else readMerged(spark, affected)
        .join(updates.select(col(key)).distinct(), Seq(key), "left_anti")
        .unionByName(updates, allowMissingColumns = true)
    publishRewrite(spark, path, base, kept, survivors,
      statColumns(statsCols, stats), "m")
  }

  // ---- incremental consumption (the dual of StreamingOps.lakeSink) --

  /** Catch-up consumption of an append-only lake, AvailableNow-style:
    * one call processes everything committed since the last call — it
    * hands `f` the structural delta `(cursor, latest]` as ONE DataFrame
    * (O(delta) via [[readVersionDelta]], never a table re-read) plus the
    * new high version, then durably advances the cursor under
    * `checkpoint`.  Returns the number of versions consumed (0 = already
    * caught up).  Drive it from any scheduler for a polling tail.
    *
    * Delivery is AT-LEAST-ONCE: the cursor advances only after `f`
    * returns, so a crash between the two replays the same delta — pair
    * it with an idempotent `f` (e.g. [[lakeMirror]]'s manifest-txn
    * dedup) for exactly-once effect.  Single-consumer per checkpoint. */
  def lakeTail(spark: SparkSession, path: String, checkpoint: String)
      (f: (DataFrame, Int) => Unit): Int = {
    val fsys = fs(spark, checkpoint)
    val curPath = new Path(s"$checkpoint/cursor")
    val cursor: Int =
      if (!fsys.exists(curPath)) -1
      else {
        val in = fsys.open(curPath)
        val s = new String(in.readAllBytes(), UTF_8).trim
        in.close()
        s.toInt
      }
    val latest = latestVersion(spark, path)
    if (latest <= cursor) 0
    else {
      f(readVersionDelta(spark, path, cursor, latest), latest)
      // durable cursor advance: stage + rename (atomic replace on posix
      // and HDFS; a torn cursor is impossible, a stale one only replays)
      val tmp = new Path(
        s"$checkpoint/.cursor.${java.util.UUID.randomUUID()}.tmp")
      val out = fsys.create(tmp, true)
      out.write(latest.toString.getBytes(UTF_8))
      out.close()
      if (!fsys.rename(tmp, curPath)) {
        fsys.delete(curPath, false)
        if (!fsys.rename(tmp, curPath))
          throw new java.io.IOException(
            s"could not advance tail cursor at $curPath")
      }
      latest - cursor
    }
  }

  /** Exactly-once lake→lake replication: appends `src`'s structural
    * delta to `dst`, one commit per catch-up, with the processed high
    * version recorded as a `#txn:mirror<v>` marker INSIDE `dst`'s
    * manifest — the destination's own transaction history is the cursor,
    * so there is no separate checkpoint to desynchronize and a replay
    * after any crash point is a no-op.  Returns the new high version
    * mirrored, or None when already caught up.  Single mirror writer per
    * destination (concurrent mirrors of the same source could double-
    * apply between the check and the commit).  A compaction/overwrite in
    * `src` makes the delta undefined and throws ([[readVersionDelta]]);
    * re-seed the mirror from a snapshot read. */
  def lakeMirror(spark: SparkSession, src: String, dst: String,
      statsCols: Seq[String] = Nil): Option[Int] = {
    val latest = latestVersion(spark, src)
    if (latest < 0) return None
    val mirrored = txnMarkers(spark, dst)
      .filter(_.startsWith("mirror"))
      .flatMap(_.stripPrefix("mirror").toIntOption)
      .foldLeft(-1)(math.max)
    if (mirrored >= latest) None
    else {
      commitAppend(readVersionDelta(spark, src, mirrored, latest), dst,
        txn = Some(s"mirror$latest"), statsCols = statsCols)
      Some(latest)
    }
  }

  /** VACUUM: drop every version below `keepFrom` and delete every data
    * directory under `files/` that no surviving manifest references —
    * the storage-reclaim step that completes the commit/read/time-travel
    * lifecycle.  Because append commits share files across versions, a
    * directory is removed ONLY when no kept version lists it; kept
    * snapshots read identically after the vacuum.  The disk-based sweep
    * also collects directories no manifest EVER referenced — the
    * leftovers of a writer that crashed between its data write and its
    * manifest CAS ([[commit]]'s writer-unique directories make such
    * leftovers harmless until vacuumed).  Returns the number of data
    * directories deleted.  (Run it when no reader holds a dropped
    * version open AND no writer is in flight — an in-flight commit's
    * not-yet-manifested directory looks exactly like a crash leftover.)
    * When dropped manifests carried `#txn` markers, a new fold version
    * (latest+1, same snapshot) is committed first so the idempotency
    * history survives the manifest deletions. */
  def vacuum(spark: SparkSession, path: String, keepFrom: Int): Int = {
    val latest = latestVersion(spark, path)
    require(keepFrom >= 0 && keepFrom <= latest,
      s"keepFrom must be in 0..$latest")
    val f = fs(spark, path)
    val keep = (keepFrom to latest)
      .flatMap(v => manifestEntries(spark, path, v)._1).toSet
    // versions below an earlier vacuum's cut are already gone — skip them
    val present = (0 until keepFrom)
      .filter(v => f.exists(manifestPath(path, v)))
    // sweep by directory NAME under files/ (manifest strings and FS
    // listings may differ in scheme qualification, names cannot)
    val keepNames = keep.map(d => new Path(d).getName)
    val filesRoot = new Path(s"$path/files")
    val dropped: Set[Path] =
      if (!f.exists(filesRoot)) Set.empty
      else f.listStatus(filesRoot).map(_.getPath)
        .filterNot(p => keepNames.contains(p.getName)).toSet
    // the dropped manifests may carry #txn idempotency markers
    // (commitBatchIdempotent); deleting them would re-open the
    // duplicate-commit window for a replay from an old checkpoint.
    // Fold every dropped txn line into a NEW manifest version carrying
    // the latest snapshot forward — a pure append (one atomic manifest
    // create, the same commit point every write uses; no file is ever
    // rewritten), written BEFORE anything is deleted so a crash at any
    // point loses nothing.
    val droppedTxns = present.flatMap(v => manifestLines(f, path, v))
      .filter(_.startsWith("#txn:")).distinct
    if (droppedTxns.nonEmpty)
      publishManifest(f, path, latest + 1,
        (droppedTxns ++ manifestLines(f, path, latest)).distinct)
    dropped.foreach(d => f.delete(d, true))
    present.foreach(v => f.delete(manifestPath(path, v), false))
    dropped.size
  }
}
