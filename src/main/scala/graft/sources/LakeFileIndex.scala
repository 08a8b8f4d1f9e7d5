package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst-integrated listing index over one versioned-lake snapshot:
  * the planner's own `dataFilters` drive manifest-stats directory
  * pruning, Delta-style, so `readVersionIndexed(...).where(col > x)`
  * skips out-of-range commits with NO user hint.
  * (`FileSourceScanExec.selectedPartitions` hands every pushed data
  * filter to `FileIndex.listFiles`; this index is the receiving end.)
  *
  * Scale contract (the reason this exists at 100 TB): a pruned
  * directory is never even LISTED — `listFiles` touches the filesystem
  * only for surviving directories, and `sizeInBytes` is answered from
  * the manifest's `#size:` lines when present (a 10 000-commit
  * streaming lake would otherwise cost 10 000 driver-side
  * `listStatus` calls per query just to plan).
  *
  * Correctness contract ([[LakeFileIndex.prune]], the lake's one
  * pruning rule: `LayoutOps.rangeDirs`, `deleteWhere` and `mergeInto`
  * split directories by it too): pruning is CONSERVATIVE — a
  * directory is skipped only when its recorded
  * min/max proves no row can satisfy the filters; missing stats,
  * foreign-typed stats, unparseable literals, and unsupported
  * expression shapes all keep the directory, and Spark re-applies the
  * full predicate to every surviving row, so pruning can never change
  * a result, only skip work.
  *
  * @param stats (dirName, column) -> (kind, min, max) from `#stats:`
  *              manifest lines; kind `none` records an all-null delta.
  * @param knownSizes dirName -> total data bytes from `#size:` lines.
  */
class LakeFileIndex(
    @transient private val spark: SparkSession,
    dirs: Seq[String],
    stats: Map[(String, String), (String, String, String)],
    knownSizes: Map[String, Long]) extends FileIndex {

  import LakeFileIndex._

  @transient private lazy val hadoopConf =
    spark.sparkContext.hadoopConfiguration

  /** Memoized per-directory listing — a directory is listed at most
    * once per index instance, and only when it survives pruning (or
    * when `inputFiles`/un-sized `sizeInBytes` genuinely needs it). */
  @transient private val listed =
    new java.util.concurrent.ConcurrentHashMap[String, Array[FileStatus]]()

  private def filesOf(dir: String): Array[FileStatus] =
    listed.computeIfAbsent(dir, graft.ops.LayoutOps.dataFiles(hadoopConf, _))

  /** Pruning census of the most recent `listFiles` call — (kept dirs,
    * skipped dirs); observable by specs and by `require`-gated queries
    * that make the SKIP itself part of the contract. */
  @volatile var lastPruning: (Int, Int) = (0, 0)
  /** Directories actually `listStatus`-ed so far (proves skipped dirs
    * are never touched). */
  def listedDirCount: Int = listed.size()

  override def rootPaths: Seq[Path] = dirs.map(new Path(_))

  override def partitionSchema: StructType = new StructType()

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val (kept, skipped) = prune(dirs, stats, dataFilters)
    lastPruning = (kept.size, skipped.size)
    kept.map(d => PartitionDirectory(InternalRow.empty, filesOf(d)))
  }

  override def inputFiles: Array[String] =
    dirs.toArray.flatMap(d => filesOf(d).map(_.getPath.toString))

  override def refresh(): Unit = listed.clear()

  override def sizeInBytes: Long =
    dirs.map(d => knownSizes.getOrElse(new Path(d).getName,
      filesOf(d).map(_.getLen).sum)).sum
}

object LakeFileIndex {

  /** Manifest-kind encoding of one catalyst literal, mirroring
    * `LayoutOps.statLit`'s write-side encoding: numerics/date/time as
    * decimals ("num"), strings as-is ("str"); None = no sound claim
    * (NaN, infinities, intervals, binary, …) so the caller keeps the
    * directory. */
  private[graft] def litKind(v: Any, dt: DataType): Option[(String, String)] =
    (v, dt) match {
      case (null, _) => None
      case (n: Byte, _) => Some(("num", n.toString))
      case (n: Short, _) => Some(("num", n.toString))
      case (n: Int, DateType) => Some(("num", n.toString)) // epoch days
      case (n: Int, _) => Some(("num", n.toString))
      case (n: Long, TimestampType) => Some(("num", n.toString)) // micros
      case (n: Long, _) => Some(("num", n.toString))
      case (n: Float, _) if !n.isNaN && !n.isInfinite =>
        Some(("num", new java.math.BigDecimal(n.toString).toPlainString))
      case (n: Double, _) if !n.isNaN && !n.isInfinite =>
        Some(("num", new java.math.BigDecimal(n.toString).toPlainString))
      case (d: org.apache.spark.sql.types.Decimal, _) =>
        Some(("num", d.toJavaBigDecimal.toPlainString))
      case (s: UTF8String, _) => Some(("str", s.toString))
      case _ => None
    }

  /** kind-aware comparison; throws on unparseable num (caller treats a
    * throw as "no claim").  Strings compare in UTF8String binary order —
    * the ordering Spark's own min/max used when the stats were
    * observed. */
  private def cmp(kind: String, a: String, b: String): Int = kind match {
    case "num" => new java.math.BigDecimal(a).compareTo(
      new java.math.BigDecimal(b))
    case _ => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
  }

  private[graft] type Stat = String => Option[(String, String, String)]

  /** Split `dirs` into (kept, skipped) under `filters`: a directory is
    * skipped only when its manifest stats prove some filter matches none
    * of its rows ([[mayMatch]]).  The lake's one pruning rule — planner
    * scans, `LayoutOps.rangeDirs`, `deleteWhere` and `mergeInto` all
    * split by it. */
  private[graft] def prune(dirs: Seq[String],
      stats: Map[(String, String), (String, String, String)],
      filters: Seq[Expression]): (Seq[String], Seq[String]) =
    dirs.partition { d =>
      val name = new Path(d).getName
      filters.forall(f => mayMatch(f, c => stats.get((name, c))))
    }

  /** Can some row of a directory with stats `stat` satisfy `e`?
    * False ONLY when provably not. */
  private[graft] def mayMatch(e: Expression, stat: Stat): Boolean = e match {
    case And(l, r) => mayMatch(l, stat) && mayMatch(r, stat)
    case Or(l, r) => mayMatch(l, stat) || mayMatch(r, stat)

    case EqualTo(a: Attribute, Literal(v, dt)) => mayEq(stat(a.name), v, dt)
    case EqualTo(Literal(v, dt), a: Attribute) => mayEq(stat(a.name), v, dt)
    case EqualNullSafe(a: Attribute, Literal(v, dt)) if v != null =>
      mayEq(stat(a.name), v, dt)
    case EqualNullSafe(Literal(v, dt), a: Attribute) if v != null =>
      mayEq(stat(a.name), v, dt)

    case GreaterThan(a: Attribute, Literal(v, dt)) =>
      mayCmp(stat(a.name), v, dt, lower = true, strict = true)
    case GreaterThanOrEqual(a: Attribute, Literal(v, dt)) =>
      mayCmp(stat(a.name), v, dt, lower = true, strict = false)
    case LessThan(a: Attribute, Literal(v, dt)) =>
      mayCmp(stat(a.name), v, dt, lower = false, strict = true)
    case LessThanOrEqual(a: Attribute, Literal(v, dt)) =>
      mayCmp(stat(a.name), v, dt, lower = false, strict = false)
    // literal-first forms: flip the direction
    case GreaterThan(Literal(v, dt), a: Attribute) =>
      mayCmp(stat(a.name), v, dt, lower = false, strict = true)
    case GreaterThanOrEqual(Literal(v, dt), a: Attribute) =>
      mayCmp(stat(a.name), v, dt, lower = false, strict = false)
    case LessThan(Literal(v, dt), a: Attribute) =>
      mayCmp(stat(a.name), v, dt, lower = true, strict = true)
    case LessThanOrEqual(Literal(v, dt), a: Attribute) =>
      mayCmp(stat(a.name), v, dt, lower = true, strict = false)

    case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
      list.exists { case Literal(v, dt) => mayEq(stat(a.name), v, dt) }
    case InSet(a: Attribute, hset) =>
      hset.exists(v => mayEq(stat(a.name), v, a.dataType))

    case IsNotNull(a: Attribute) => stat(a.name) match {
      case Some(("none", _, _)) => false // all-null delta: no non-null row
      case _ => true
    }

    case StartsWith(a: Attribute, Literal(p: UTF8String, StringType)) =>
      stat(a.name) match {
        case Some(("str", mn, mx)) =>
          val pre = p
          val mxU = UTF8String.fromString(mx)
          // any match v has v >= pre (byte order) and v's first
          // |pre| bytes equal pre, hence prefix(mn) <= pre <= mx
          val mnPre = UTF8String.fromString(mn)
            .substring(0, pre.numChars())
          mxU.compareTo(pre) >= 0 && mnPre.compareTo(pre) <= 0
        case Some(("none", _, _)) => false
        case _ => true
      }

    case Not(EqualTo(a: Attribute, Literal(v, dt))) =>
      stat(a.name) match {
        case Some(("none", _, _)) => false // null != lit is null, filtered
        case Some((k, mn, mx)) =>
          litKind(v, dt) match {
            // every non-null value equals the literal -> no row passes
            case Some((lk, lit)) if lk == k =>
              !(noThrow(cmp(k, mn, lit) == 0) && noThrow(cmp(k, mx, lit) == 0))
            case _ => true
          }
        case None => true
      }

    case _ => true // unsupported shape: no claim
  }

  private def noThrow(b: => Boolean): Boolean =
    try b catch { case _: NumberFormatException => false }

  private def mayEq(st: Option[(String, String, String)], v: Any,
      dt: DataType): Boolean = st match {
    case Some(("none", _, _)) => false
    case Some((k, mn, mx)) => litKind(v, dt) match {
      case Some((lk, lit)) if lk == k =>
        try cmp(k, mn, lit) <= 0 && cmp(k, mx, lit) >= 0
        catch { case _: NumberFormatException => true }
      case _ => true
    }
    case None => true
  }

  /** lower=true: predicate needs some value > / >= lit (check max);
    * lower=false: needs some value < / <= lit (check min). */
  private def mayCmp(st: Option[(String, String, String)], v: Any,
      dt: DataType, lower: Boolean, strict: Boolean): Boolean = st match {
    case Some(("none", _, _)) => false
    case Some((k, mn, mx)) => litKind(v, dt) match {
      case Some((lk, lit)) if lk == k =>
        try {
          val c = if (lower) cmp(k, mx, lit) else cmp(k, mn, lit)
          if (strict) (if (lower) c > 0 else c < 0)
          else (if (lower) c >= 0 else c <= 0)
        } catch { case _: NumberFormatException => true }
      case _ => true
    }
    case None => true
  }
}
