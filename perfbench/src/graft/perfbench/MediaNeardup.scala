package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{ImageCodec, JpegCodec, MultimodalOps}

/** Media near-duplicate detection: CPU-bound per-row codec kernels with
  * little shuffle. One pass is `MultimodalOps.decodeWith(ImageCodec.kernel)`
  * → `aHashBandedPairs` → parquet write of the pairs. Its traced run also
  * profiles the text tier of curation ([[CurateText.profile]]).
  *
  * Input: `Images` seeded `Side`×`Side` RGB images cycling baseline JPEG
  * 4:2:0, progressive JPEG 4:2:0 and PNG, encoded with the library's own
  * encoders. Each image is a grid of 8×8 cells whose brightness sits well
  * above or below the image mean (a random 64-bit average hash with a
  * margin) plus per-pixel texture; a tenth of the images are planted near
  * duplicates of another image — the same picture brightened by a few
  * levels and stored in a different format — so every planted pair keeps
  * its average hash and must be found.
  *
  * Loop: a round is one pass; the first also checks decoded dimensions. */
final class MediaNeardup(ctx: Ctx) extends Workload {
  import MediaNeardup._

  private val spark = ctx.spark
  private val plan = Plan(ctx.args.seed)
  private var inputDir: File = _
  private var payloads: DataFrame = _

  def prepare(): Unit =
    inputDir = Inputs.cached(ctx.args.cacheDir, s"media_neardup-s${ctx.args.seed}-n$Images") { dir =>
      import spark.implicits._
      val p = plan
      val rows = spark.range(0, Images, 1, Files).as[Long]
        .map(i => (i, Formats(p.format(i.toInt)), encode(p, i.toInt)))
        .toDF("img_id", "format", "payload")
      Inputs.writeParquet(rows, new File(dir, "images"))
    }

  def open(): Unit =
    payloads = ctx.span("ops.MultimodalOps.open") {
      val df = spark.read.parquet(s"$inputDir/images")
      df.schema // resolves the file listing and footers
      df
    }

  private def decoded = MultimodalOps.decodeWith(payloads, col("payload"), col("img_id"),
    ImageCodec.kernel(Grid, Grid)).toDF()

  /** One pass; returns its wall time and the share of planted pairs
    * found. Every planted pair must be reported within the Hamming bound. */
  private def pass(): (Double, Double) = {
    val out = ctx.outDir("pairs")
    val t0 = System.nanoTime()
    val pairs = ctx.span("ops.MultimodalOps.aHashBandedPairs") {
      MultimodalOps.aHashBandedPairs(decoded, col("doc_id"), maxHamming = MaxHamming)
    }
    ctx.span("perfbench.write_pairs")(pairs.write.parquet(out))
    val wall = (System.nanoTime() - t0) / 1e9
    ctx.release()
    (wall, ctx.check(recallOf(out)))
  }

  /** Share of planted pairs in the pass output `out`; all must be there. */
  private def recallOf(out: String): Double = {
    val found = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val missed = plan.pairs.filterNot { case (a, b) =>
      found.get((a.toLong, b.toLong)).exists(_ <= MaxHamming)
    }
    Check(missed.isEmpty, s"${missed.length} planted pairs not found, e.g. ${missed.take(3)}")
    1.0 - missed.length.toDouble / plan.pairs.length
  }

  /** Decoded dimensions must equal the generated ones. */
  private def checkDims(): Unit = ctx.check {
    val dims = decoded.select("doc_id", "width", "height").collect()
    Check(dims.length == Images, s"${dims.length} of $Images images decoded")
    dims.foreach { r =>
      Check(r.getInt(1) == Side && r.getInt(2) == Side,
        s"image ${r.getLong(0)} decoded as ${r.getInt(1)}x${r.getInt(2)}")
    }
  }

  def loop(seconds: Double): Measured = {
    val ps = ClosedLoop.warmThenMeasure(seconds, warmup = 4) { i =>
      if (i == 0) ctx.ops.run("decoded dimensions")(checkDims())
      ctx.ops.run("pass")(pass())
    }
    require(ps.nonEmpty, "no measured pass completed")
    val passS = Stats.median(ps.map(_._1))
    val recall = Stats.median(ps.map(_._2))
    Measured(Images / passS, passS, passS * 1e3, recall,
      Seq("images_per_s" -> Images / passS, "pass_s" -> passS,
        "neardup_recall" -> recall, "passes" -> ps.length.toDouble))
  }

  /** Decode alone and decode + pairs, each to a `noop` sink; every
    * format's decoder single-threaded on the driver; and the text tier of
    * curation, whose own workload `BENCHMARK.json` leaves out. */
  def layerRuns(): Seq[(String, Double)] = {
    val out = Seq.newBuilder[(String, Double)]
    ctx.ops.run("media ladder") {
      val d = ctx.noopSeconds("ops.MultimodalOps.decodeWith.exec", decoded)
      val p = ctx.noopSeconds("ops.MultimodalOps.aHashBandedPairs.exec",
        MultimodalOps.aHashBandedPairs(decoded, col("doc_id"), maxHamming = MaxHamming))
      ctx.release()
      out += "ops.MultimodalOps.decode_s" -> d
      out += "ops.MultimodalOps.ahash_pairs_s" -> (p - d)
    }
    ctx.ops.run("codec kernels") {
      val bytes = ctx.span("perfbench.collect_payloads")(payloads.select("format", "payload").collect())
        .groupBy(_.getString(0)).map { case (f, rs) => f -> rs.map(_.getAs[Array[Byte]](1)) }
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
        .asInstanceOf[com.sun.management.ThreadMXBean]
      val tid = Thread.currentThread().getId
      Formats.foreach { f =>
        val bs = bytes(f)
        ctx.span(s"ops.ImageCodec.decode.$f.warmup", sparkJobs = false)(bs.foreach(ImageCodec.decode))
        val a0 = mx.getThreadAllocatedBytes(tid)
        val t0 = System.nanoTime()
        ctx.span(s"ops.ImageCodec.decode.$f", sparkJobs = false) {
          bs.foreach { b =>
            val r = ImageCodec.decode(b)
            Check(r.width == Side && r.height == Side, s"$f decoded as ${r.width}x${r.height}")
          }
        }
        val s = (System.nanoTime() - t0) / 1e9
        val alloc = mx.getThreadAllocatedBytes(tid) - a0
        out += s"ops.ImageCodec.$f.decode_mb_per_s" -> bs.map(_.length.toLong).sum / 1e6 / s
        out += s"ops.ImageCodec.$f.alloc_bytes_per_decode" -> alloc.toDouble / bs.length
      }
    }
    out ++= new CurateText(ctx).profile()
    out.result()
  }
}

object MediaNeardup {
  val Images = 880
  val Side = 96
  val Grid = 8
  val MaxHamming = 3
  val Files = 4
  val Formats = Seq("jpeg420", "jpeg_progressive", "png")
  /** Minimum distance of every cell's mean brightness from the image's. */
  val Margin = 12.0

  /** Which image is a near duplicate of which, and each image's format,
    * brightness shift and cell pattern seed. Pure function of the seed. */
  final case class Plan(seed: Long) {
    @transient private val rng = new SplittableRandom(seed)
    val bases: Int = Images * 10 / 11
    /** near-duplicate image id → its source image id */
    val sourceOf: Map[Int, Int] = {
      val srcs = (0 until bases).map(i => (rng.nextLong(), i)).sorted.map(_._2).take(Images - bases)
      srcs.zipWithIndex.map { case (src, k) => (bases + k) -> src }.toMap
    }
    val pairs: Seq[(Int, Int)] = sourceOf.toSeq.map { case (d, s) => (s, d) }.sorted
    private val patternSeed = Array.fill(bases)(rng.nextLong())
    private val fmt = Array.fill(bases)(rng.nextInt(Formats.length))
    private val shift = Array.fill(Images - bases)(3 + rng.nextInt(4))

    def format(i: Int): Int =
      if (i < bases) fmt(i) else (fmt(sourceOf(i)) + 1) % Formats.length
    def pattern(i: Int): Long = patternSeed(if (i < bases) i else sourceOf(i))
    def brightness(i: Int): Int = if (i < bases) 0 else shift(i - bases)
  }

  /** Cell brightness levels of one pattern: each cell at least `Margin`
    * above or below the mean of all cells, drawn until that holds. */
  def cellLevels(patternSeed: Long): Array[Double] = {
    val rng = new SplittableRandom(patternSeed)
    var levels: Array[Double] = null
    while (levels == null) {
      val l = Array.fill(Grid * Grid)(
        if (rng.nextBoolean()) 140.0 + rng.nextDouble() * 60.0 else 60.0 + rng.nextDouble() * 60.0)
      val mean = l.sum / l.length
      if (l.forall(x => math.abs(x - mean) >= Margin)) levels = l
    }
    levels
  }

  def encode(p: Plan, i: Int): Array[Byte] = {
    val levels = cellLevels(p.pattern(i))
    val tint = new SplittableRandom(p.pattern(i) ^ 0x5DEECE66DL)
    val chroma = Array.fill(Grid * Grid)(tint.nextInt(41) - 20)
    val cell = Side / Grid
    val bright = p.brightness(i)
    val rgb = (x: Int, y: Int) => {
      val c = (y / cell) * Grid + x / cell
      // texture: a fixed per-pixel hash in [-12, 12], identical in copies
      val h = ((x * 73856093) ^ (y * 19349663) ^ (c * 83492791)) & 0x7fffffff
      val base = levels(c).toInt + bright + h % 25 - 12
      (base + chroma(c), base - chroma(c), base)
    }
    Formats(p.format(i)) match {
      case "jpeg420" => JpegCodec.encodeColor420(Side, Side, rgb, quality = 85)
      case "jpeg_progressive" => JpegCodec.encodeProgressiveColor420(Side, Side, rgb, quality = 85)
      case "png" => ImageCodec.encodePng(Side, Side, rgb)
    }
  }
}
