package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, PersistedIndex, TextOps}

/** LLM-data curation: a shuffle-heavy batch pass (quality gate → exact
  * dedup → `fuzzyDedup` → parquet write of the kept docs) plus incremental
  * shard ingest against a persisted MinHash index
  * (`minhashCandidatesAgainst` → `confirmJaccard` → `minhashIndexAppend`).
  * No `ScDataset` or codec code runs.
  *
  * Input: `Docs` documents of `Words` Zipf-distributed words — base
  * documents, planted exact and near duplicates of them (one word
  * replaced) and short junk documents the quality gate must drop. Ids rise
  * from base documents to copies, so the lowest-id keeper of every
  * duplicate cluster is its base document and the copies are exactly the
  * documents dedup must remove. A fortieth of the corpus forms each of
  * `Shards` ingest shards; the rest is indexed at set-up.
  *
  * Loop: rounds of one batch pass and one shard ingest. Runnable on its
  * own; `BENCHMARK.json` leaves it out for the time budget (a round takes
  * about eight seconds, the first two twenty-five), and `MediaNeardup`'s
  * traced run measures its layers. */
final class CurateText(ctx: Ctx) extends Workload {
  import CurateText._

  private val spark = ctx.spark
  private val corpus = Corpus(ctx.args.seed)
  private var inputDir: File = _
  private var indexDir: String = _
  private var nextShard = 0

  private def docs: DataFrame = spark.read.parquet(s"$inputDir/docs")
  private def part(name: String): DataFrame = spark.read.parquet(s"$inputDir/$name")

  def prepare(): Unit =
    inputDir = Inputs.cached(ctx.args.cacheDir, s"curate_text-s${ctx.args.seed}-n$Docs") { dir =>
      import spark.implicits._
      val rows = corpus.texts.indices.map(i => (i.toLong, corpus.texts(i), corpus.shard(i)))
      val all = spark.createDataset(rows).toDF("doc_id", "text", "shard").repartition(Files, col("doc_id"))
        .sortWithinPartitions("doc_id")
      Inputs.writeParquet(all.drop("shard"), new File(dir, "docs"))
      Inputs.writeParquet(all.where(col("shard") < 0).drop("shard"), new File(dir, "indexed"))
      (0 until Shards).foreach(s => Inputs.writeParquet(
        all.where(col("shard") === s).drop("shard").coalesce(1), new File(dir, f"shard-$s%02d")))
    }

  def open(): Unit = {
    indexDir = ctx.outDir("minhash-index")
    ctx.span("ops.DedupOps.minhashIndexWrite") {
      DedupOps.minhashIndexWrite(part("indexed"), col("text"), col("doc_id"), indexDir)
    }
    nextShard = 0
  }

  private final class Pass {
    var wallS = 0.0
    var recall = 0.0
    var precision = 0.0
  }

  /** The batch pass: returns its wall time and dedup quality; checks the
    * recall and precision floors. `checkStages` additionally checks the
    * gate and exact-dedup outputs against the generator's ground truth. */
  private def batchPass(checkStages: Boolean): Pass = {
    val p = new Pass
    val out = ctx.outDir("kept")
    val t0 = System.nanoTime()
    val d = docs
    val gate = ctx.span("ops.TextOps.filterPipeline") {
      TextOps.filterPipeline(d, col("text"), col("doc_id"), MinTokens, MaxTokens,
        MinQuality, Langs)
    }
    val gated = d.join(gate.select("doc_id"), Seq("doc_id"), "left_semi")
    val exact = ctx.span("ops.DedupOps.exactDedup") {
      DedupOps.exactDedup(gated, col("text"), col("doc_id"))
    }
    val kept = ctx.span("ops.DedupOps.fuzzyDedup") {
      DedupOps.fuzzyDedup(exact, col("text"), col("doc_id"), minJaccard = MinJaccard)
    }
    ctx.span("perfbench.write_kept")(kept.write.parquet(out))
    p.wallS = (System.nanoTime() - t0) / 1e9
    ctx.release()
    ctx.check(checkPass(p, out, gate, exact, checkStages))
    p
  }

  private def checkPass(p: Pass, out: String, gate: DataFrame, exact: DataFrame,
      checkStages: Boolean): Unit = {
    val keptIds = ids(spark.read.parquet(out))
    val removed = corpus.gated.filterNot(keptIds.contains)
    val hit = removed.count(corpus.planted.contains)
    p.recall = hit.toDouble / corpus.planted.size
    p.precision = if (removed.isEmpty) 0.0 else hit.toDouble / removed.size
    Check(keptIds.subsetOf(corpus.gated), "kept a document the quality gate drops")
    Check(p.recall >= RecallFloor, f"dedup recall ${p.recall}%.4f below $RecallFloor")
    Check(p.precision >= PrecisionFloor, f"dedup precision ${p.precision}%.4f below $PrecisionFloor")
    if (checkStages) {
      Check(ids(gate) == corpus.gated, "quality gate kept a different document set")
      val exactKept = ids(exact).size
      Check(exactKept == corpus.distinctGatedTexts,
        s"exact dedup kept $exactKept docs; ${corpus.distinctGatedTexts} distinct texts")
    }
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet

  /** One shard ingest; returns its wall time. Every planted exact
    * duplicate in the shard whose source is already indexed or in the
    * shard must come back as a confirmed pair. */
  private def ingest(s: Int): Double = {
    val shard = part(f"shard-$s%02d")
    val t0 = System.nanoTime()
    val cands = ctx.span("ops.DedupOps.minhashCandidatesAgainst") {
      val c = DedupOps.minhashCandidatesAgainst(indexDir, shard, col("text"), col("doc_id")).persist()
      c.foreach((_: Row) => ())
      c
    }
    val involved = docs.join(
      cands.select(col("doc_a").as("doc_id")).union(cands.select(col("doc_b").as("doc_id"))),
      Seq("doc_id"), "left_semi")
    val confirmed = ctx.span("ops.DedupOps.confirmJaccard") {
      DedupOps.confirmJaccard(involved, col("text"), col("doc_id"), cands,
        minJaccard = MinJaccard).collect()
    }
    ctx.span("ops.DedupOps.minhashIndexAppend") {
      DedupOps.minhashIndexAppend(shard, col("text"), col("doc_id"), indexDir)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    cands.unpersist()
    ctx.release()
    ctx.check(checkIngest(s, confirmed))
    wall
  }

  private def checkIngest(s: Int, confirmed: Array[Row]): Unit = {
    val pairs = confirmed.map(r => (r.getLong(0), r.getLong(1))).toSet
    val seen = (i: Int) => corpus.shard(i) < 0 || corpus.shard(i) <= s
    val expected = corpus.texts.indices.filter(i =>
      corpus.shard(i) == s && corpus.exactOf(i) >= 0 && seen(corpus.exactOf(i)))
    expected.foreach { i =>
      val src = corpus.exactOf(i).toLong
      Check(pairs.contains((src, i.toLong)), s"shard $s: exact duplicate pair ($src, $i) not confirmed")
    }
  }

  /** One round: a batch pass and the next shard's ingest. When the shards
    * run out the index is rebuilt and ingest starts over. */
  private def round(i: Int): Option[(Pass, Double)] = {
    if (nextShard == Shards) open()
    val p = ctx.ops.run("batch pass")(batchPass(checkStages = i == 0))
    val s = nextShard
    nextShard += 1
    val in = ctx.ops.run(s"ingest shard $s")(ingest(s))
    for (pass <- p; wall <- in) yield (pass, wall)
  }

  def loop(seconds: Double): Measured = {
    val rounds = ClosedLoop.warmThenMeasure(seconds, warmup = 2)(round)
    val ps = rounds.map(_._1)
    val is = rounds.map(_._2)
    require(ps.nonEmpty, "no measured round completed")
    val passS = Stats.median(ps.map(_.wallS))
    val recall = Stats.median(ps.map(_.recall))
    val precision = Stats.median(ps.map(_.precision))
    Measured(Docs / passS, passS, Stats.median(is) * 1e3,
      2 * recall * precision / (recall + precision),
      Seq("docs_per_s" -> Docs / passS, "batch_pass_s" -> passS,
        "shard_ingest_s" -> Stats.median(is), "dedup_recall" -> recall,
        "dedup_precision" -> precision, "rounds" -> ps.length.toDouble))
  }

  /** For another workload's traced run: set-up, one checked round and the
    * layer runs. */
  def profile(): Seq[(String, Double)] = {
    ctx.span("perfbench.prepare_inputs")(prepare())
    open()
    val checked = round(0).toSeq.flatMap { case (p, _) =>
      Seq("e2e.dedup_recall" -> p.recall, "e2e.dedup_precision" -> p.precision)
    }
    checked ++ layerRuns()
  }

  /** The persisted index's shape after the loop's ingests, and the batch
    * pass stage by stage, each stage's output materialized, to compare
    * with the one-call `fuzzyDedup`. */
  def layerRuns(): Seq[(String, Double)] = {
    val out = Seq.newBuilder[(String, Double)]
    out ++= ctx.check(indexShape())
    ctx.ops.run("curate stage ladder") {
      val d = docs
      val gate = TextOps.filterPipeline(d, col("text"), col("doc_id"), MinTokens, MaxTokens,
        MinQuality, Langs)
      val gated = d.join(gate.select("doc_id"), Seq("doc_id"), "left_semi")
      val exact = DedupOps.exactDedup(gated, col("text"), col("doc_id"))
      val gateS = ctx.noopSeconds("ops.TextOps.filterPipeline.exec", gate)
      val exactS = ctx.noopSeconds("ops.DedupOps.exactDedup.exec", exact)
      val exactDir = ctx.outDir("exact")
      ctx.span("perfbench.materialize")(exact.write.parquet(exactDir))
      val e = spark.read.parquet(exactDir)
      val candDir = ctx.outDir("cands")
      val candS = ctx.timed("ops.DedupOps.minhashCandidates.stage")(
        DedupOps.minhashCandidates(e, col("text"), col("doc_id")).write.parquet(candDir))._2
      ctx.release()
      val confDir = ctx.outDir("confirmed")
      val confS = ctx.timed("ops.DedupOps.confirmJaccard.stage")(
        DedupOps.confirmJaccard(e, col("text"), col("doc_id"), spark.read.parquet(candDir),
          minJaccard = MinJaccard).write.parquet(confDir))._2
      ctx.release()
      val clusterS = ctx.noopSeconds("ops.DedupOps.dedupClusters.stage",
        DedupOps.dedupClusters(spark.read.parquet(confDir)))
      ctx.release()
      val fuzzyS = ctx.noopSeconds("ops.DedupOps.fuzzyDedup.stage",
        DedupOps.fuzzyDedup(e, col("text"), col("doc_id"), minJaccard = MinJaccard))
      ctx.release()
      val (candN, confN) = ctx.check((spark.read.parquet(candDir).count().toDouble,
        spark.read.parquet(confDir).count().toDouble))
      out ++= Seq(
        "ops.TextOps.filter_pipeline_s" -> gateS,
        "ops.DedupOps.exact_dedup_s" -> (exactS - gateS),
        "ops.DedupOps.minhash_candidates_s" -> candS,
        "ops.DedupOps.confirm_jaccard_s" -> confS,
        "ops.DedupOps.dedup_clusters_s" -> clusterS,
        "ops.DedupOps.fuzzy_dedup_s" -> fuzzyS,
        "ops.DedupOps.stages_over_one_call" -> (candS + confS + clusterS) / fuzzyS,
        "ops.DedupOps.candidate_pairs" -> candN,
        "ops.DedupOps.confirmed_pairs" -> confN,
        "ops.DedupOps.confirm_ratio" -> (if (candN > 0) confN / candN else 0.0))
    }
    out.result()
  }

  /** The persisted index after the loop's appends: its data files, and
    * its bytes on disk per byte of the document text it indexes. */
  private def indexShape(): Seq[(String, Double)] = {
    val indexedTextBytes = corpus.texts.indices
      .filter(i => corpus.shard(i) < nextShard)
      .map(i => corpus.texts(i).getBytes("UTF-8").length.toLong).sum
    val indexBytes = new File(indexDir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    Seq("ops.PersistedIndex.data_files" -> PersistedIndex.dataFileCount(spark, indexDir).toDouble,
      "ops.PersistedIndex.bytes_written_per_input_byte" -> indexBytes.toDouble / indexedTextBytes)
  }
}

object CurateText {
  val Docs = 3000
  val Words = 120
  val Vocab = 20000
  val Shards = 20
  val Files = 4
  val MinTokens = 20L
  val MaxTokens = 1000L
  val MinQuality = 0.5
  val Langs = Seq("en", "de", "es", "fr")
  val MinJaccard = 0.5
  val RecallFloor = 0.95
  val PrecisionFloor = 0.99

  private val Common = Seq("the", "of", "and", "to", "in", "a", "is", "that", "for", "it",
    "as", "was", "with", "be", "by", "on", "not", "he", "this", "are")
  private val Syllables = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
    "do", "fe", "gu", "hi", "jo", "be", "ce", "ly", "wo", "xi")

  private def word(rank: Int): String =
    if (rank < Common.length) Common(rank)
    else {
      val sb = new StringBuilder
      var r = rank
      while (r > 0) { sb ++= Syllables(r % Syllables.length); r /= Syllables.length }
      sb.toString
    }

  /** The generated corpus and its ground truth. Pure function of the seed. */
  final case class Corpus(texts: Array[String], exactOf: Array[Int], nearOf: Array[Int],
      junk: Array[Boolean], shard: Array[Int]) {
    val planted: Set[Long] = texts.indices.filter(i => exactOf(i) >= 0 || nearOf(i) >= 0)
      .map(_.toLong).toSet
    val gated: Set[Long] = texts.indices.filterNot(junk).map(_.toLong).toSet
    val distinctGatedTexts: Int = texts.indices.filterNot(junk).map(texts(_)).distinct.length
  }

  object Corpus {
    def apply(seed: Long): Corpus = {
      val rng = new SplittableRandom(seed)
      val cdf = {
        val w = (1 to Vocab).map(r => 1.0 / r).scanLeft(0.0)(_ + _).tail
        w.map(_ / w.last).toArray
      }
      def draw(): String = {
        val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
        word(if (i >= 0) i else -i - 1)
      }
      val nExact = Docs / 10
      val nNear = Docs / 10
      val nJunk = Docs / 40
      val nBase = Docs - nExact - nNear - nJunk
      val words = Array.fill(nBase)(Array.fill(Words)(draw()))
      val texts = new Array[String](Docs)
      val exactOf = Array.fill(Docs)(-1)
      val nearOf = Array.fill(Docs)(-1)
      val junk = Array.fill(Docs)(false)
      (0 until nBase).foreach(i => texts(i) = words(i).mkString(" ") + ".")
      (nBase until nBase + nExact).foreach { i =>
        exactOf(i) = rng.nextInt(nBase)
        texts(i) = texts(exactOf(i))
      }
      (nBase + nExact until nBase + nExact + nNear).foreach { i =>
        val src = rng.nextInt(nBase)
        val w = words(src).clone()
        val pos = rng.nextInt(Words)
        var repl = draw()
        while (repl == w(pos)) repl = draw()
        w(pos) = repl
        nearOf(i) = src
        texts(i) = w.mkString(" ") + "."
      }
      (nBase + nExact + nNear until Docs).foreach { i =>
        junk(i) = true
        texts(i) = Array.fill(MinTokens.toInt / 2)(draw()).mkString(" ") + "."
      }
      val shard = Array.tabulate(Docs) { _ =>
        val k = rng.nextInt(40)
        if (k < Shards) k else -1
      }
      Corpus(texts, exactOf, nearOf, junk, shard)
    }
  }
}
