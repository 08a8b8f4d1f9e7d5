package graft.sources

import java.util

import graft.ops.LayoutOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `readStream` FROM the versioned lake — the streaming dual of
  * `StreamingOps.lakeSink`, completing the loop (stream → lake →
  * stream).  Offsets ARE lake versions: each micro-batch is the
  * structural append-delta `(startVersion, endVersion]`, planned
  * straight from the manifests (O(delta) driver work, one input
  * partition per commit file), so the source replays exactly the rows
  * each version committed — Delta-style streaming-table semantics on
  * the engine's own transaction log.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.sources.LakeStreamSource")
  *     .option("path", lakePath)
  *     .option("maxVersionsPerMicroBatch", "1")   // optional pacing
  *     .load()
  * }}}
  *
  * Contracts:
  *  - APPEND-ONLY tailing: a compaction/overwrite inside a planned
  *    interval rewrites history, so planning THROWS (the same refusal
  *    as `LayoutOps.readVersionDelta`, both `LayoutOps.appendedDirs`)
  *    instead of re-delivering old rows as new.  Tail from the
  *    un-compacted ingest lake, or re-seed the consumer after an
  *    OPTIMIZE.
  *  - Only COMMITTED versions are visible (manifests are the name
  *    authority), so a crashed writer's orphan directory can never
  *    leak into the stream.
  *  - Exactly-once end-to-end with any idempotent/transactional sink:
  *    offsets are deterministic version numbers checkpointed by the
  *    engine.
  */
class LakeStreamSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeStreamSource.schemaOf(SparkSession.active,
      LakeStreamSource.pathOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val maxV = Option(opts.get("maxVersionsPerMicroBatch")).map { v =>
      val n = try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"maxVersionsPerMicroBatch must be a positive integer, got '$v'")
      }
      // 0 or negative would pin the offset in place: the stream would
      // silently deliver nothing forever — refuse loudly instead
      require(n >= 1,
        s"maxVersionsPerMicroBatch must be >= 1, got $n (omit the " +
          "option for unlimited)")
      n
    }.getOrElse(Int.MaxValue)
    new LakeStreamTable(schema, LakeStreamSource.pathOf(opts), maxV)
  }
}

object LakeStreamSource {
  private[sources] def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "LakeStreamSource requires .option(\"path\", <lake dir>)")
    p
  }

  private[sources] def schemaOf(spark: SparkSession,
      path: String): StructType = {
    val latest = LayoutOps.latestVersion(spark, path)
    require(latest >= 0, s"lake at $path has no committed versions yet")
    LayoutOps.newestFooter(spark,
      LayoutOps.manifestEntries(spark, path, latest)._1)
  }

  /** Commit files of the interval `(fromV, toV]`, append-only checked
    * ([[LayoutOps.appendedDirs]]) — shared by planInputPartitions.
    * Returns (filePath, length). */
  private[sources] def deltaFiles(spark: SparkSession, path: String,
      fromV: Int, toV: Int): Seq[(String, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    LayoutOps.appendedDirs(spark, path, fromV, toV).flatMap(d =>
      LayoutOps.dataFiles(conf, d).map(s => (s.getPath.toString, s.getLen)))
  }
}

private[sources] case class LakeVersionOffset(version: Int) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

private[sources] class LakeStreamTable(tableSchema: StructType,
    path: String, maxVersionsPerMicroBatch: Int)
    extends Table with SupportsRead {
  override def name(): String = s"graft-lake-stream($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(
            checkpointLocation: String): MicroBatchStream =
          new LakeMicroBatchStream(path, tableSchema,
            maxVersionsPerMicroBatch)
      }
    }
}

private[sources] class LakeMicroBatchStream(path: String,
    schema: StructType, maxVersionsPerMicroBatch: Int)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active
  /** AvailableNow cap: everything committed when the trigger started. */
  @volatile private var availableNowTarget: Option[Int] = None

  override def initialOffset(): Offset = LakeVersionOffset(-1)

  override def deserializeOffset(json: String): Offset = {
    val m = "\"version\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(json)
    LakeVersionOffset(m.map(_.group(1).toInt).getOrElse(
      throw new IllegalArgumentException(s"bad lake offset: $json")))
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget =
      Some(LayoutOps.latestVersion(spark, path))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = LayoutOps.latestVersion(spark, path)
    val capped = availableNowTarget.fold(cur)(math.min(cur, _))
    val from = start.asInstanceOf[LakeVersionOffset].version
    // pacing: at most maxVersionsPerMicroBatch lake versions per batch
    val end = math.min(capped.toLong,
      from.toLong + maxVersionsPerMicroBatch).toInt
    LakeVersionOffset(math.max(from, end))
  }

  override def reportLatestOffset(): Offset =
    LakeVersionOffset(LayoutOps.latestVersion(spark, path))

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[LakeVersionOffset].version
    val to = end.asInstanceOf[LakeVersionOffset].version
    if (to <= from) Array.empty
    else LakeStreamSource.deltaFiles(spark, path, from, to)
      .map { case (f, len) => LakeFilePartition(f, len): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeReaderFactory(
      org.apache.spark.sql.GraftBridge.parquetReadFunc(spark, schema))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class LakeFilePartition(filePath: String,
    length: Long) extends InputPartition

private[sources] class LakeReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow])
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LakeFilePartition]
    val pf = PartitionedFile(InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(p.filePath),
      0L, p.length, Array.empty[String], 0L, p.length,
      Map.empty[String, Any])
    new PartitionReader[InternalRow] {
      private val it = readFunc(pf)
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
