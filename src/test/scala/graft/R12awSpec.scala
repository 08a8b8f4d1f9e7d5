package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import TestFiles.ts

/** Planted-fixture specs for session-2 composition cards that were
  * previously oracle-only: Benford, audience overlap, expectations
  * semantics, entropy rate, and the Markov backtest.  Each re-derives
  * the query's core logic on a hand-computable input. */
class R12awSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("Benford digit extraction: integer cents, first digit, chi2 terms") {
    // values 1.00..9.00 once each → uniform digits, n=9, p(1)=log10(2)
    val e = (1 to 9).map(_.toDouble).toDF("value")
      .select(round(col("value") * 100).cast("long").as("vm"))
      .where(col("vm") > 0)
      .select(substring(col("vm").cast("string"), 1, 1).cast("int").as("d"))
      .groupBy("d").count().as[(Int, Long)].collect().toMap
    assert(e == (1 to 9).map(_ -> 1L).toMap)
    // 0.55 → 55 cents → digit 5; 1050.10 → 105010 → digit 1
    val f = Seq(0.55, 1050.10).toDF("value")
      .select(substring(round(col("value") * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("d"))
      .as[Int].collect().toSeq
    assert(f == Seq(5, 1))
  }

  test("audience overlap: hand-computed Jaccard on a planted incidence") {
    // users: 1→{a,b}, 2→{a}, 3→{b}, 4→{a,b}  (repeat events dedup)
    val ev = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "a"), (3L, "b"),
      (4L, "a"), (4L, "b")).toDF("u", "t")
    val ut = ev.distinct()
    val sizes = ut.groupBy("t").agg(count(lit(1)).as("n"))
    val b = ut.select(col("u"), col("t").as("t_b"))
    val out = ut.join(b, ut("u") === b("u") && col("t") < col("t_b"))
      .groupBy(col("t").as("ta"), col("t_b").as("tb"))
      .agg(count(lit(1)).as("n_both"))
      .join(sizes.select(col("t").as("ta"), col("n").as("na")), "ta")
      .join(sizes.select(col("t").as("tb"), col("n").as("nb")), "tb")
      .select(col("n_both"),
        col("n_both").cast("double") /
          (col("na") + col("nb") - col("n_both")).cast("double"))
      .as[(Long, Double)].head()
    // |a∩b| = {1,4} = 2; |a∪b| = 4 → jaccard 0.5
    assert(out == ((2L, 0.5)))
  }

  test("expectation checks: planted FK violation and range breach found") {
    val pk = Seq(1L, 2L).toDF("k")
    val fk = Seq(1L, 2L, 3L, 3L).toDF("fk")      // two orphan rows
    val orphans = fk.join(pk, fk("fk") === pk("k"), "left_anti").count()
    assert(orphans == 2L)
    val vals = Seq(0.1, -0.2, 1.5).toDF("v")
    assert(vals.where(col("v") < 0 || col("v") > 1).count() == 2L)
  }

  test("entropy rate: deterministic chain → 0; uniform branch → ln 2 share") {
    // deterministic a→b→a→b…: H(next|cur) = 0
    def rate(seqTypes: Seq[String]): Double = {
      val ev = seqTypes.zipWithIndex.map { case (t, i) =>
        (1L, new java.sql.Timestamp(1700000000000L + i * 1000L),
          i.toLong, t, 0.0)
      }.toDF("user_id", "ts", "event_id", "event_type", "value")
      val m = EventOps.transitionMatrix(ev, col("user_id"), col("ts"),
        col("event_id"), col("event_type"))
      val perFrom = m.groupBy("from_type").agg(sum("n").as("ns"))
      val tot = perFrom.agg(sum("ns").as("total"))
      m.select(col("from_type"), col("n"))
        .join(perFrom, "from_type").crossJoin(tot)
        .select(floor((col("n").cast("double") / col("ns").cast("double")) *
          log(col("ns").cast("double") / col("n").cast("double")) *
          (col("ns").cast("double") / col("total").cast("double")) *
          lit(1e9)).cast("long").as("term"))
        .agg(sum("term")).head().getLong(0) / 1e9
    }
    assert(rate(Seq("a", "b", "a", "b", "a", "b")) == 0.0)
    // from 'a', next is b or c equally (4 each); chain returns to a
    val branchy = (0 until 8).flatMap(i =>
      Seq("a", if (i % 2 == 0) "b" else "c"))
    // H(next|a) = ln2, weight of 'a' ≈ 1/2 → rate ≈ ln2/2 (within the
    // boundary effect of the final transition)
    val r = rate(branchy)
    assert(math.abs(r - math.log(2.0) / 2.0) < 0.05, s"r=$r")
  }

  test("Markov backtest: modal successor accuracy on a planted chain") {
    // from a: b,b,b,c  (modal b, 3/4); from b: a,a (2/2); from c: a (1/1)
    val types = Seq("a", "b", "a", "b", "a", "b", "a", "c", "a")
    val ev = types.zipWithIndex.map { case (t, i) =>
      (1L, new java.sql.Timestamp(1700000000000L + i * 1000L), i.toLong, t)
    }.toDF("user_id", "ts", "event_id", "event_type")
    import org.apache.spark.sql.expressions.Window
    val counts = EventOps.transitionMatrix(ev, col("user_id"), col("ts"),
        col("event_id"), col("event_type"))
      .select(col("from_type"), col("to_type"), col("n"))
    val w = Window.partitionBy("from_type")
      .orderBy(col("n").desc, col("to_type"))
    val r = counts.withColumn("rn", row_number().over(w))
      .agg(sum("n").as("nt"),
        sum(when(col("rn") === 1, col("n")).otherwise(0L)).as("nc"))
      .as[(Long, Long)].head()
    assert(r == ((8L, 7L)))   // 8 transitions, 7 predicted by the mode
  }
}
