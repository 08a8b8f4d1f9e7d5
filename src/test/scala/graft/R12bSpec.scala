package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import graft.streaming.StreamingOps
import TestFiles.{ts, withTempDir}

/** Invariants for the round-12b surface: the event-relational tier
  * (as-of join, funnel, bounded range join), CCNet normalization, the
  * lexical-diversity fold, the Zipf fit, semantic decontamination, and
  * stateless/stream centroid routing. */
class R12bSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("asofJoin: latest at-or-before match, ties to greatest id, null when none") {
    // user 1: left at :10 sees right at :05; left at :04 sees nothing.
    // user 2: two rights AT the left's exact ts -> eligible (>=), greatest
    // right id (21) wins the tie.
    val left = Seq(
      (100L, 1L, ts("2024-01-01 00:00:10")),
      (101L, 1L, ts("2024-01-01 00:00:04")),
      (102L, 2L, ts("2024-01-01 00:00:07"))
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, 1L, ts("2024-01-01 00:00:05"), 5.0),
      (11L, 1L, ts("2024-01-01 00:00:09"), 9.0),
      (20L, 2L, ts("2024-01-01 00:00:07"), 7.0),
      (21L, 2L, ts("2024-01-01 00:00:07"), 8.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val out = EventOps.asofJoin(left, col("event_id"), col("user_id"),
      col("ts"), right, col("event_id"), col("user_id"), col("ts"),
      col("value"))
      .select("left_id", "matched_id", "matched_value")
      .as[(Long, Option[Long], Option[Double])].collect()
        .map { case (k, v, w) => k -> ((v, w)) }.toMap
    assert(out(100L) == (Some(11L), Some(9.0))) // latest of the two priors
    assert(out(101L) == (None, None))           // nothing at-or-before
    assert(out(102L) == (Some(21L), Some(8.0))) // equal-ts tie: max id
  }

  test("funnelStages: strict order advances, out-of-order does not") {
    val ev = Seq(
      // user 1 completes signup -> view -> purchase in order
      (1L, ts("2024-01-01 00:00:01"), 1L, "signup"),
      (1L, ts("2024-01-01 00:00:02"), 2L, "view"),
      (1L, ts("2024-01-01 00:00:03"), 3L, "purchase"),
      // user 2: purchase BEFORE signup never counts; stage stops at 2
      (2L, ts("2024-01-01 00:00:01"), 4L, "purchase"),
      (2L, ts("2024-01-01 00:00:02"), 5L, "signup"),
      (2L, ts("2024-01-01 00:00:03"), 6L, "view"),
      // user 3: never signs up
      (3L, ts("2024-01-01 00:00:01"), 7L, "view"),
      (3L, ts("2024-01-01 00:00:02"), 8L, "purchase")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val st = EventOps.funnelStages(ev, col("user_id"), col("ts"),
      col("event_id"), col("event_type"), Seq("signup", "view", "purchase"))
      .as[(Long, Int)].collect().toMap
    assert(st == Map(1L -> 3, 2L -> 2, 3L -> 0))
  }

  test("rangeJoinPairs equals brute force, including cross-bucket pairs") {
    // window 10 s; pairs straddling a bucket boundary must still be found
    val base = ts("2024-01-01 00:00:00").getTime
    val ev = Seq(
      (1L, 1L, "a", 1000L), (2L, 1L, "b", 9500L),   // in-window, same bucket
      (3L, 1L, "a", 19000L), (4L, 1L, "b", 21000L), // in-window, NEXT bucket
      (5L, 1L, "a", 30000L), (6L, 1L, "b", 45000L), // out of window
      (7L, 2L, "b", 1500L)                          // wrong user for id 1
    ).map { case (id, u, t, off) =>
      (id, u, t, new java.sql.Timestamp(base + off))
    }.toDF("event_id", "user_id", "event_type", "ts")
    val a = ev.where(col("event_type") === "a")
    val b = ev.where(col("event_type") === "b")
    val got = EventOps.rangeJoinPairs(a, col("event_id"), col("user_id"),
      col("ts"), b, col("event_id"), col("user_id"), col("ts"),
      windowMs = 10000L)
      .select("a_id", "b_id", "gap_ms").as[(Long, Long, Long)]
      .collect().toSet
    assert(got == Set((1L, 2L, 8500L), (3L, 4L, 2000L)))
  }

  test("normalizeText: accents fold, digits to 0, punct/scripts to space") {
    val out = Seq(
      (0L, "Héllo, Wörld! 42 times—über élève"),
      (1L, "  a   b  "),
      (2L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.normalizeText(col("text")).as("n"))
      .as[(Long, String)].collect().toMap
    // ö/é/è fold; ü folds; comma/dash/bang are spaces; 42 -> 00
    assert(out(0L) == "hello world 00 times uber eleve")
    assert(out(1L) == "a b")
    assert(out(2L) == "")
  }

  test("lexicalDiversity: exact type/hapax counts, null-safe") {
    val out = TextOps.lexicalDiversity(Seq(
      (0L, "a b a c b a"),   // 6 tokens, 3 types, hapax {c}
      (1L, "x"),             // 1 token, 1 type, 1 hapax
      (2L, ""),              // empty
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text"), col("text"), col("doc_id"))
      .select("doc_id", "n_tokens", "n_types", "n_hapax", "ttr")
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(0L) == ((6L, 3L, 1L, Some(0.5))))
    assert(out(1L) == ((1L, 1L, 1L, Some(1.0))))
    assert(out(2L) == ((0L, 0L, 0L, None)))
    assert(out(3L) == ((0L, 0L, 0L, None)))
  }

  test("zipfFit matches the closed form computed by hand") {
    val docs = Seq((0L, "a a a a b b c"), (1L, "a b c d")).toDF("doc_id", "text")
    // counts: a=5 b=3 c=2 d=1 -> ranks 0..3
    val pts = Seq((0L, 5L), (1L, 3L), (2L, 2L), (3L, 1L)).map { case (r, c) =>
      (math.floor(math.log(r + 1.0) * 1e3).toLong,
        math.floor(math.log(c.toDouble) * 1e3).toLong)
    }
    val n = pts.size.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slopeRaw = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    val expSlope = math.rint(slopeRaw * 1e6) / 1e6
    val expInter = math.rint((sy.toDouble / 1e3 -
      slopeRaw * sx.toDouble / 1e3) / n * 1e6) / 1e6
    val got = TextOps.zipfFit(docs, col("text"), k = 10)
      .as[(Long, Double, Double)].collect().head
    assert(got._1 == 4L)
    assert(math.abs(got._2 - expSlope) < 1e-9)
    assert(math.abs(got._3 - expInter) < 1e-9)
  }

  test("semanticContam flags the planted near-copy, not the orthogonal rest") {
    val probe = Seq((0L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(0.99f, 0.01f, 0f, 0f)), // near-copy of the probe
      (11L, Array(0f, 1f, 0f, 0f)),       // orthogonal
      (12L, Array(-1f, 0f, 0f, 0f))       // opposite
    ).toDF("vec_id", "embedding")
    val out = EmbedOps.semanticContam(corpus, col("embedding"),
      col("vec_id"), probe, col("embedding"), col("vec_id"),
      minCosine = 0.9)
      .select("vec_id", "n_hits", "is_contaminated")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(10L) == ((1L, true)))
    assert(out(11L) == ((0L, false)))
    assert(out(12L) == ((0L, false)))
  }

  test("ngramRepetition: hand-computed masses, degenerate and null docs") {
    val out = TextOps.ngramRepetition(Seq(
      (0L, "a b a b c"), // top2 "a b"×2 mass 4/5; top3 tie -> "a b a" 3/5
      (1L, "z"),         // shorter than every n: 0.0 fractions
      (2L, null.asInstanceOf[String])
    ).toDF("doc_id", "text"), col("text"), col("doc_id"))
      .select("doc_id", "n_token_chars", "top2_frac", "top3_frac",
        "dup5_frac")
      .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(0L) == ((5L, Some(0.8), Some(0.6), Some(0.0))))
    assert(out(1L) == ((1L, Some(0.0), Some(0.0), Some(0.0))))
    assert(out(2L) == ((0L, None, None, None)))
  }

  test("lengthQuantiles: exact ranks by hand; sketch lands in bound") {
    // class a: values 1..10 -> p50 = rank ceil(5.0) = 5, p90 = rank 9
    // class b: constant 7s -> both quantiles 7
    val df = ((1 to 10).map(v => ("a", v.toLong)) ++
      (1 to 4).map(_ => ("b", 7L))).toDF("cls", "v")
    val out = TextOps.lengthQuantiles(df, col("cls"), col("v"))
      .select("cls", "n", "p50_exact", "p90_exact", "within_bound")
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out("a") == ((10L, 5L, 9L, true)))
    assert(out("b") == ((4L, 7L, 7L, true)))
  }

  test("containmentPairs: short-inside-long scores 1.0 where Jaccard fails") {
    val short = "p q r s t u"
    val filler = (0 until 30).map(i => s"f$i").mkString(" ")
    val docs = Seq((0L, short), (1L, s"$short $filler"),
      (2L, "unrelated words only here")).toDF("doc_id", "text")
    val cp = DedupOps.containmentPairs(docs, col("text"), col("doc_id"),
        minContainment = 0.9)
      .select("doc_a", "doc_b", "containment")
      .as[(Long, Long, Double)].collect().toSeq
    assert(cp == Seq((0L, 1L, 1.0)))
    // the symmetric coefficient misses the same embedding: union is
    // dominated by the long side
    val jp = DedupOps.ngramJaccardPairs(docs, col("text"), col("doc_id"),
      minJaccard = 0.5).collect()
    assert(jp.isEmpty)
  }

  test("streaming batch queries run against the REAL events parquet") {
    // r11 regression guard: the loader must branch on the parquet's actual
    // ts physical type (timestamp[us] vs nanos-as-long) — in-memory spec
    // frames bypassed the reader and masked the break
    Seq("stream_tumbling", "stream_sessions", "stream_first_events",
      "ev_asof_join", "ev_range_join").foreach { q =>
      val n = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count()
      assert(n > 0, s"$q returned no rows from the parquet events table")
    }
  }

  test("enrichStream: stream-static left join equals the batch join") {
    val ev = Seq((1L, 10L, "click"), (2L, 20L, "view"), (3L, 99L, "view"))
      .toDF("event_id", "user_id", "event_type")
    val dim = Seq((10L, "gold"), (20L, "silver")).toDF("user_id", "tier")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("event_id", "tier").as[(Long, Option[String])].collect().toSet
    val batch = rows(ev.join(dim, Seq("user_id"), "left"))
    withTempDir("graft-enrich") { dir =>
      ev.coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val q = StreamingOps.enrichStream(spark, dir.getAbsolutePath,
          ev.schema, dim, "user_id")
        .writeStream.format("memory").queryName("graft_enrich_test")
        .outputMode("append").start()
      q.processAllAvailable()
      val streamed = rows(spark.table("graft_enrich_test"))
      q.stop()
      assert(streamed == batch && streamed.size == 3)
      assert(streamed.exists(_._2.isEmpty)) // unmatched key stays, null dim
    }
  }

  test("cdcChunks partitions the token stream; dup docs fully duplicated") {
    val words = (0 until 60).map(i => s"w${i * 7 % 53}x$i").mkString(" ")
    val other = (0 until 45).map(i => s"q${i * 11 % 41}y$i").mkString(" ")
    val docs = Seq((0L, words), (1L, words), (2L, other), (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val ch = DedupOps.cdcChunks(docs, col("text"), col("doc_id"))
      .as[(Long, Long, Long, Long)].collect()
    // chunks partition each doc's tokens exactly
    val massByDoc = ch.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    assert(massByDoc == Map(0L -> 60L, 1L -> 60L, 2L -> 45L))
    // identical docs -> identical ordered chunk-key sequences
    def keys(d: Long) = ch.filter(_._1 == d).sortBy(_._2).map(_._3).toSeq
    assert(keys(0L) == keys(1L) && keys(0L).nonEmpty)
    // a 60-token doc at m=8, k=3 should split into several chunks
    assert(keys(0L).size > 1)
    val rep = DedupOps.cdcDedupReport(docs, col("text"), col("doc_id"))
      .select("doc_id", "dup_frac").as[(Long, Double)].collect().toMap
    assert(rep(0L) == 1.0 && rep(1L) == 1.0 && rep(2L) == 0.0)
    assert(!rep.contains(3L) && !rep.contains(4L)) // tokenless: no rows
  }

  test("bucketed join: same result as plain join, NO exchange in the join") {
    val a = (0L until 100L).map(i => (i % 20, i)).toDF("k", "va")
    val b = (0L until 40L).map(i => (i % 20, i * 10)).toDF("k", "vb")
    val tmp = java.nio.file.Files.createTempDirectory("graft-bkt").toString
    LayoutOps.writeBucketed(a, "k", 4, "graft_bkt_a", s"$tmp/a")
    LayoutOps.writeBucketed(b, "k", 4, "graft_bkt_b", s"$tmp/b")
    // tables this small would (rightly) broadcast, which also avoids a
    // shuffle — disable it to exercise the large×large SMJ path the
    // bucketing exists for, and assert THAT plans exchange-free
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = LayoutOps.bucketedJoin(spark, "graft_bkt_a",
        "graft_bkt_b", "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join shuffled:\n$plan")
      assert(plan.contains("SortMergeJoin"))
      val got = joined.select("k", "va", "vb")
        .as[(Long, Long, Long)].collect().toSet
      val plain = a.join(b, "k").select("k", "va", "vb")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == plain && got.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE graft_bkt_a"); spark.sql("DROP TABLE graft_bkt_b")
    }
  }

  test("centroidAssignStateless == ivfAssign; stream == batch") {
    val r = new scala.util.Random(23)
    val df = (0L until 40L).map(i =>
      (i, Array.fill(8)(r.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    val centRows = df.where(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("vec_id", "centroid_id", "cos")
        .as[(Long, Long, Double)].collect().toSet
    val stateless = rows(SimilarityOps.centroidAssignStateless(df,
      col("embedding"), col("vec_id"), centRows))
    val joined = rows(SimilarityOps.ivfAssign(df, col("embedding"),
      col("vec_id"), df.where(col("vec_id") < 4), col("embedding"),
      col("vec_id")))
    assert(stateless == joined && stateless.size == 40)
    withTempDir("graft-cass") { dir =>
      df.coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val q = StreamingOps.centroidAssignStream(spark, dir.getAbsolutePath,
          df.schema, centRows)
        .writeStream.format("memory").queryName("graft_cass_test")
        .outputMode("append").start()
      q.processAllAvailable()
      val streamed = rows(spark.table("graft_cass_test"))
      q.stop()
      assert(streamed == stateless)
    }
  }
}
