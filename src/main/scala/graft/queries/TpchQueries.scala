package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.LayoutOps

/** TPC-H queries over the lineitem/orders/customer/supplier/part/nation/
  * region tables, with exact integer-cent money arithmetic, plus the
  * bucketed and spark.sql-surface variants.  Names: `tpch`. */
object TpchQueries extends QuerySet {


  /** cents(col): exact integer cents of a money double. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** milli(col): exact integer thousandths of a rate double. */
  private def milli(c: Column): Column = round(c * 1000).cast("long")

  /** Revenue in cent-milli units: price_c * (1000 - disc_m). */
  private def revCm(price: Column, disc: Column): Column =
    cents(price) * (lit(1000L) - milli(disc))

  private def li(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")

  private def ord(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet")

  private def cust(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet")

  private def supp(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/supplier.parquet")

  private def part(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/part.parquet")

  private def nat(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/nation.parquet")

  private def reg(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/region.parquet")

  /** Suppliers restricted to one region: supplier ⋈ nation ⋈ region with
    * the two bounded dims broadcast. */
  private def suppliersInRegion(s: SparkSession, dir: String,
      region: String): DataFrame =
    supp(s, dir)
      .join(broadcast(nat(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg(s, dir).where(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))

  /** Shared SQL for the spark.sql-surface query — parses identically in
    * Spark SQL and DuckDB, so the engine runs the very string the oracle
    * replays. */
  private val Q6SqlShared: String =
    """SELECT CAST(sum(CAST(CAST(round(l_extendedprice*100) AS BIGINT) *
      |  CAST(round(l_discount*1000) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE)
      |  / 1e5 AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Co-located fact-fact join: lineitem ⋈ orders, both bucketed+sorted
    // on the order key — the join itself plans with NO exchange; the only
    // shuffle is the final 3-group aggregate
    "tpch_bucketed_join" -> ((s, dir) => {
      val safe = Tables.dirTag(dir)
      val tmp = Tables.scratch(dir, "bucketed")
      // the bucketed layout is the amortized cost (written once, joined
      // forever) — build it once per JVM and report the build separately,
      // same discipline as the persisted ANN/dedup indexes
      IndexBuilds.once(s"tpch_bucketed_join:$dir") {
        LayoutOps.writeBucketed(s.read.parquet(s"$dir/lineitem.parquet"),
          "l_orderkey", 8, s"graft_li_$safe", s"$tmp/li")
        LayoutOps.writeBucketed(s.read.parquet(s"$dir/orders.parquet")
            .withColumnRenamed("o_orderkey", "l_orderkey"),
          "l_orderkey", 8, s"graft_ord_$safe", s"$tmp/ord")
      }
      LayoutOps.bucketedJoin(s, s"graft_li_$safe", s"graft_ord_$safe",
          "l_orderkey")
        .groupBy("o_orderstatus")
        .agg(countDistinct("l_orderkey").as("n_orders"),
          count(lit(1)).as("n_lines"),
          (sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100).cast("long")).cast("double") / 100.0).as("revenue"))
    }),

    // TPC-H Q1 pricing summary: the canonical scan-heavy aggregate.
    // All money/discount terms are integerized (cents / milli) so every
    // sum is exact; sum_charge's per-row product needs DECIMAL(38,0)
    "tpch_q1" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      val qc = round(col("l_quantity") * 100).cast("long")
      val pc = round(col("l_extendedprice") * 100).cast("long")
      val d3 = round(col("l_discount") * 1000).cast("long")
      val t3 = round(col("l_tax") * 1000).cast("long")
      li.select(col("l_returnflag"), col("l_linestatus"), qc.as("qc"),
          pc.as("pc"), d3.as("d3"), t3.as("t3"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sum("qc").cast("double") / 100.0).as("sum_qty"),
          (sum("pc").cast("double") / 100.0).as("sum_base_price"),
          (sum(col("pc") * (lit(1000L) - col("d3"))).cast("double") / 1e5)
            .as("sum_disc_price"),
          (sum((col("pc") * (lit(1000L) - col("d3")) *
            (lit(1000L) + col("t3"))).cast("decimal(38,0)")).cast("double")
            / 1e8).as("sum_charge"),
          round(sum("qc").cast("double") / 100.0 / count(lit(1)), 6)
            .as("avg_qty"),
          round(sum("pc").cast("double") / 100.0 / count(lit(1)), 6)
            .as("avg_price"),
          round(sum("d3").cast("double") / 1000.0 / count(lit(1)), 6)
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // TPC-H Q3 shipping priority: filtered 3-way join (customer broadcast,
    // orders⋈lineitem shuffled on the order key), exact cent-milli
    // revenue, deterministic top-10 via TakeOrdered
    "tpch_q3" -> ((s, dir) => {
      val cutoff = lit("1998-06-01").cast("timestamp")
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(1000L) - round(col("l_discount") * 1000).cast("long")))
            .as("rev_cm"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg((sum("rev_cm").cast("double") / 1e5).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 local-supplier revenue: the canonical star join — region →
    // nation → supplier broadcast down the dimension chain, lineitem ⋈
    // orders shuffled on the order key, customer shuffled on custkey,
    // exact cent-milli revenue per nation
    "tpch_q5" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1997-01-01").cast("timestamp")
      val r = s.read.parquet(s"$dir/region.parquet")
        .where(col("r_name") === "ASIA")
      val n = s.read.parquet(s"$dir/nation.parquet")
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select("c_custkey", "c_nationkey")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey")
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(1000L) - round(col("l_discount") * 1000).cast("long")))
            .as("rev_cm"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .where(col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg((sum("rev_cm").cast("double") / 1e5).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q6 forecast-revenue change: pure scan + pushdown predicate,
    // all-integer money terms (discount band compared in exact milli)
    "tpch_q6" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val qc = round(col("l_quantity") * 100).cast("long")
      val pc = round(col("l_extendedprice") * 100).cast("long")
      val d3 = round(col("l_discount") * 1000).cast("long")
      li.where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(qc.as("qc"), pc.as("pc"), d3.as("d3"))
        .where(col("d3") >= 50 && col("d3") <= 70 && col("qc") < 2400)
        .agg((sum(col("pc") * col("d3")).cast("double") / 1e5).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // q2: min-acctbal EUROPE supplier per mid-size LARGE part.  The
    // part↔supplier link is the distinct (l_partkey, l_suppkey) pair set;
    // the correlated min becomes a per-part aggregate joined back on
    // (partkey, acctbal) — no per-row subquery execution.
    "tpch_q2" -> ((s, dir) => {
      val ps = li(s, dir).select("l_partkey", "l_suppkey").distinct()
      val eu = suppliersInRegion(s, dir, "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val p = part(s, dir)
        .where(col("p_size").between(10, 20) && col("p_type") === "LARGE")
        .select("p_partkey", "p_brand")
      val cand = p.join(ps, col("p_partkey") === col("l_partkey"))
        .join(eu, col("l_suppkey") === col("s_suppkey"))
        .select("p_partkey", "p_brand", "s_name", "s_acctbal", "n_name")
      val mins = cand.groupBy(col("p_partkey").as("mk"))
        .agg(min("s_acctbal").as("min_bal"))
      cand.join(mins, col("p_partkey") === col("mk") &&
          col("s_acctbal") === col("min_bal"))
        .select(cents(col("s_acctbal")).as("acctbal_c"), col("s_name"),
          col("n_name"), col("p_partkey"), col("p_brand"))
        .orderBy(col("acctbal_c").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // q4: order-priority census of 1997H1 orders with a lineitem shipped
    // more than 90 days late — one LEFT SEMI shuffle on the order key
    "tpch_q4" -> ((s, dir) => {
      val o = ord(s, dir)
        .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      val l = li(s, dir).select("l_orderkey", "l_shipdate")
      o.join(l, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    }),

    // q7: bilateral shipping volume NATION_1 ↔ NATION_2 by ship year.
    // Nation filters land on supplier/customer BEFORE the fact joins so
    // the big shuffles carry only the two nations' rows.
    "tpch_q7" -> ((s, dir) => {
      val pair = Seq("NATION_1", "NATION_2")
      val sn = supp(s, dir)
        .join(broadcast(nat(s, dir).where(col("n_name").isin(pair: _*))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cn = cust(s, dir)
        .join(broadcast(nat(s, dir).where(col("n_name").isin(pair: _*))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val l = li(s, dir)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          revCm(col("l_extendedprice"), col("l_discount")).as("rev_cm"))
      l.join(ord(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(cn, col("o_custkey") === col("c_custkey"))
        .join(sn, col("l_suppkey") === col("s_suppkey"))
        .where((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((sum(col("rev_cm").cast("decimal(38,0)")).cast("double") / 1e5)
          .as("revenue"))
    }),

    // q8: NATION_3 suppliers' share of PROMO-part revenue sold to ASIA
    // customers by order year — one conditional aggregate, exact division
    "tpch_q8" -> ((s, dir) => {
      val p = part(s, dir).where(col("p_type") === "PROMO")
        .select("p_partkey")
      val asiaCust = cust(s, dir)
        .join(broadcast(nat(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg(s, dir).where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey")
      val sn = supp(s, dir)
        .join(broadcast(nat(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val o = ord(s, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year"))
      li(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          revCm(col("l_extendedprice"), col("l_discount")).as("vol_cm"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(asiaCust, col("o_custkey") === col("c_custkey"))
        .join(sn, col("l_suppkey") === col("s_suppkey"))
        .groupBy("o_year")
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", col("vol_cm"))
            .otherwise(0L).cast("decimal(38,0)")).cast("double") /
          sum(col("vol_cm").cast("decimal(38,0)")).cast("double"), 9)
          .as("mkt_share"))
    }),

    // q9: profit by supplier nation and order year for 'red' parts;
    // supply cost proxied at 50% of p_retailprice (no partsupp table).
    // The per-row profit term goes DECIMAL(38,0) before the sum.
    "tpch_q9" -> ((s, dir) => {
      val p = part(s, dir).where(col("p_name").like("%red%"))
        .select(col("p_partkey"), cents(col("p_retailprice")).as("retail_c"))
      val sn = supp(s, dir)
        .join(broadcast(nat(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      li(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          revCm(col("l_extendedprice"), col("l_discount")).as("rev_cm"),
          round(col("l_quantity")).cast("long").as("qty"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(ord(s, dir).select(col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(sn, col("l_suppkey") === col("s_suppkey"))
        .groupBy("nation", "o_year")
        .agg((sum((col("rev_cm") - col("retail_c") * lit(500L) * col("qty"))
          .cast("decimal(38,0)")).cast("double") / 1e5).as("profit"))
    }),

    // q10: returned-item revenue per customer for 1997Q1, top 20 — the
    // orders quarter filter prunes the fact shuffle; TakeOrdered top-k
    "tpch_q10" -> ((s, dir) => {
      val o = ord(s, dir)
        .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val l = li(s, dir).where(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          revCm(col("l_extendedprice"), col("l_discount")).as("rev_cm"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(sum(col("rev_cm").cast("decimal(38,0)")).as("rev_sum"))
        .join(cust(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"),
          (col("rev_sum").cast("double") / 1e5).as("revenue"),
          cents(col("c_acctbal")).as("acctbal_c"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // q11: AFRICA-supplied per-part shipped value above 2× the average
    // part value.  The threshold is a broadcast single-row aggregate and
    // the comparison is exact DECIMAL cross-multiplication — no float
    // boundary can flip a row between engines.
    "tpch_q11" -> ((s, dir) => {
      val af = suppliersInRegion(s, dir, "AFRICA").select("s_suppkey")
      val av = li(s, dir)
        .select(col("l_partkey").as("partkey"), col("l_suppkey"),
          (cents(col("l_extendedprice")) *
            round(col("l_quantity")).cast("long")).as("v"))
        .join(af, col("l_suppkey") === col("s_suppkey"))
        .groupBy("partkey")
        .agg(sum(col("v").cast("decimal(38,0)")).as("value_c"))
      val tot = av.agg(count(lit(1)).as("cnt"),
        sum("value_c").as("total"))
      av.crossJoin(broadcast(tot))
        .where(col("value_c") * col("cnt") >
          col("total") * lit(2).cast("decimal(38,0)"))
        .select(col("partkey"), (col("value_c").cast("double") / 100.0)
          .as("value"))
        .orderBy(col("value").desc, col("partkey"))
    }),

    // q12: late-shipment order-priority census by return flag over 1997 —
    // one fact join, conditional counts in a single aggregate
    "tpch_q12" -> ((s, dir) => {
      val hi = Seq("1-URGENT", "2-HIGH")
      val l = li(s, dir)
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_returnflag", "l_shipdate")
      l.join(ord(s, dir).select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("o_orderpriority").isin(hi: _*), 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(col("o_orderpriority").isin(hi: _*), 0L).otherwise(1L))
            .as("low_line_count"))
    }),

    // q13: customer histogram by order count (priority-filtered orders,
    // LEFT OUTER so zero-order customers stay) — two hash aggregates
    "tpch_q13" -> ((s, dir) => {
      val o = ord(s, dir)
        .where(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .select("o_orderkey", "o_custkey")
      cust(s, dir).select("c_custkey")
        .join(o, col("o_custkey") === col("c_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
    }),

    // q14: PROMO-type revenue share for September 1997 — the month filter
    // prunes the scan before the part join; one global aggregate
    "tpch_q14" -> ((s, dir) => {
      val l = li(s, dir)
        .where(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        .select(col("l_partkey"),
          revCm(col("l_extendedprice"), col("l_discount")).as("rev_cm"))
      l.join(part(s, dir).select("p_partkey", "p_type"),
          col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", col("rev_cm")).otherwise(0L)
            .cast("decimal(38,0)")).cast("double") /
          sum(col("rev_cm").cast("decimal(38,0)")).cast("double"), 9)
          .as("promo_revenue"))
    }),

    // q15: top supplier(s) by 1997Q1 revenue — the max is a broadcast
    // single-row join against the exact cent-milli revenue table
    "tpch_q15" -> ((s, dir) => {
      val rev = li(s, dir)
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("suppkey"))
        .agg(sum(revCm(col("l_extendedprice"), col("l_discount"))
          .cast("decimal(38,0)")).as("total_cm"))
      val mx = rev.agg(max("total_cm").as("max_cm"))
      rev.crossJoin(broadcast(mx))
        .where(col("total_cm") === col("max_cm"))
        .join(supp(s, dir), col("suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("total_cm").cast("double") / 1e5).as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // q16: distinct-supplier census per (brand, type, size) with the
    // negative-acctbal suppliers removed by broadcast anti-join
    "tpch_q16" -> ((s, dir) => {
      val ps = li(s, dir).select("l_partkey", "l_suppkey").distinct()
      val bad = supp(s, dir).where(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("bad_key"))
      val p = part(s, dir)
        .where(col("p_brand") =!= "Brand#5" &&
          col("p_size").isin(1, 4, 9, 15, 23, 36, 45, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      ps.join(bad, col("l_suppkey") === col("bad_key"), "left_anti")
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
    }),

    // q17: revenue-loss estimate for small-quantity orders of Brand#3
    // small parts — the correlated avg becomes a per-part aggregate
    // joined back; the 0.2×avg comparison uses the identical
    // exact-sum/count division on both engines
    "tpch_q17" -> ((s, dir) => {
      val tgt = part(s, dir)
        .where(col("p_brand") === "Brand#3" && col("p_size") <= 10)
        .select("p_partkey")
      val l = li(s, dir)
        .select(col("l_partkey"), col("l_quantity"),
          cents(col("l_extendedprice")).as("price_c"),
          round(col("l_quantity")).cast("long").as("qty"))
        .join(tgt, col("l_partkey") === col("p_partkey"))
      val pavg = l.groupBy(col("l_partkey").as("pk"))
        .agg((sum("qty").cast("double") / count(lit(1))).as("aq"))
      l.join(pavg, col("l_partkey") === col("pk"))
        .where(col("l_quantity") < lit(0.2) * col("aq"))
        .agg(round(sum(col("price_c").cast("decimal(38,0)")).cast("double")
          / 100.0 / 7.0, 6).as("avg_yearly"))
    }),

    // q18: large-volume customers — orders over 300 total quantity via a
    // having-aggregate, joined back to re-derive the line sum
    "tpch_q18" -> ((s, dir) => {
      val l = li(s, dir)
        .select(col("l_orderkey"), round(col("l_quantity")).cast("long")
          .as("qty"))
      val big = l.groupBy(col("l_orderkey").as("big_key"))
        .agg(sum("qty").as("big_qty"))
        .where(col("big_qty") > 300)
        .select("big_key")
      l.join(big, col("l_orderkey") === col("big_key"))
        .groupBy("l_orderkey")
        .agg(sum("qty").as("sum_qty"))
        .join(ord(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(cust(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), cents(col("o_totalprice")).as("totalprice_c"),
          col("sum_qty"))
        .orderBy(col("totalprice_c").desc, col("o_orderkey"))
        .limit(100)
    }),

    // q19: disjunctive brand/size/quantity predicate — the OR-of-ANDs
    // filter sits directly on the joined rows and the brand/size legs
    // prune the part side before the join
    "tpch_q19" -> ((s, dir) => {
      val p = part(s, dir)
        .where((col("p_brand") === "Brand#12" && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15)))
        .select("p_partkey", "p_brand", "p_size")
      li(s, dir)
        .select(col("l_partkey"), col("l_quantity"),
          revCm(col("l_extendedprice"), col("l_discount")).as("rev_cm"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity") >= 1 && col("l_quantity") <= 11) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity") >= 10 && col("l_quantity") <= 20) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity") >= 20 && col("l_quantity") <= 30))
        .agg((sum(col("rev_cm").cast("decimal(38,0)")).cast("double") / 1e5)
          .as("revenue"))
    }),

    // q20: EUROPE suppliers who shipped over 50 units of any 'small' part
    // in 1997 — the nested aggregate runs once per (supplier, part), then
    // a LEFT SEMI join picks the suppliers
    "tpch_q20" -> ((s, dir) => {
      val sm = part(s, dir).where(col("p_name").like("small%"))
        .select("p_partkey")
      val shipped = li(s, dir)
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(sm, col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(round(col("l_quantity")).cast("long")).as("qty"))
        .where(col("qty") > 50)
        .select("l_suppkey").distinct()
      suppliersInRegion(s, dir, "EUROPE")
        .join(shipped, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_name", "n_name")
        .orderBy("s_name")
    }),

    // q21: NATION_4 suppliers late (>90 days) on a finalized multi-supplier
    // order where no other supplier was late.  The exists/not-exists pair
    // collapses into two per-order censuses — distinct suppliers and
    // distinct LATE suppliers — so the fact table is scanned twice, never
    // self-joined row-to-row.
    "tpch_q21" -> ((s, dir) => {
      val o = ord(s, dir).where(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val lo = li(s, dir).select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
            .as("late"))
      val census = lo.groupBy(col("l_orderkey").as("ok"))
        .agg(countDistinct("l_suppkey").as("nsupp"),
          countDistinct(when(col("late"), col("l_suppkey"))).as("nlate"))
      // one row per LATE LINE (not per pair) — numwait counts lines,
      // matching the reference query's count(*) over l1
      val lateLines = lo.where(col("late"))
        .select("l_orderkey", "l_suppkey")
      val n4 = supp(s, dir)
        .join(broadcast(nat(s, dir).where(col("n_name") === "NATION_4")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name")
      lateLines
        .join(census, col("l_orderkey") === col("ok"))
        .where(col("nsupp") >= 2 && col("nlate") === 1)
        .join(n4, col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // q22: dormant high-balance customers per country code
    // (c_nationkey % 5).  The positive-balance average is a broadcast
    // single-row aggregate compared by exact integer cross-multiplication;
    // dormancy is a LEFT ANTI join against recent orders.
    "tpch_q22" -> ((s, dir) => {
      val c = cust(s, dir)
        .where((col("c_nationkey") % 5).isin(0, 1, 2))
        .select(col("c_custkey"), (col("c_nationkey") % 5).cast("long")
          .as("cntrycode"), cents(col("c_acctbal")).as("bal_c"))
      val cut = c.where(col("bal_c") > 0)
        .agg(count(lit(1)).as("cnt"),
          sum(col("bal_c").cast("decimal(38,0)")).as("total_c"))
      val recent = ord(s, dir)
        .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
      c.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(cut))
        .where(col("bal_c").cast("decimal(38,0)") * col("cnt") >
          col("total_c"))
        .groupBy("cntrycode")
        .agg(count(lit(1)).as("numcust"),
          (sum(col("bal_c").cast("decimal(38,0)")).cast("double") / 100.0)
            .as("totacctbal"))
    }),

    // Pure-SQL surface: the engine executes the SAME dialect-neutral SQL
    // string the oracle replays — spark.sql over a temp view
    "tpch_q6_sql" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .createOrReplaceTempView("lineitem")
      s.sql(Q6SqlShared)
    })
  )

  def oracles: Map[String, String] = Map(

    // the bucketed layout is invisible to results: plain join + aggregate;
    // cent-integerized revenue so the sum is order-free
    "tpch_bucketed_join" ->
      """SELECT o.o_orderstatus,
        |  count(DISTINCT l.l_orderkey) AS n_orders,
        |  count(*) AS n_lines,
        |  sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100)
        |    AS BIGINT))::DOUBLE / 100.0 AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,

    "tpch_q1" ->
      """WITH li AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qc,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |    CAST(round(l_discount * 1000) AS BIGINT) AS d3,
        |    CAST(round(l_tax * 1000) AS BIGINT) AS t3
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
        |SELECT l_returnflag, l_linestatus,
        |  sum(qc)::DOUBLE / 100.0 AS sum_qty,
        |  sum(pc)::DOUBLE / 100.0 AS sum_base_price,
        |  sum(pc * (1000 - d3))::DOUBLE / 1e5 AS sum_disc_price,
        |  sum((pc * (1000 - d3) * (1000 + t3))::DECIMAL(38,0))::DOUBLE / 1e8 AS sum_charge,
        |  round(sum(qc)::DOUBLE / 100.0 / count(*), 6) AS avg_qty,
        |  round(sum(pc)::DOUBLE / 100.0 / count(*), 6) AS avg_price,
        |  round(sum(d3)::DOUBLE / 1000.0 / count(*), 6) AS avg_disc,
        |  count(*)::BIGINT AS count_order
        |FROM li GROUP BY 1, 2""".stripMargin,

    "tpch_q3" ->
      """WITH l AS (
        |  SELECT l_orderkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      (1000 - CAST(round(l_discount * 1000) AS BIGINT)) AS rev_cm
        |  FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-06-01 00:00:00')
        |SELECT l.l_orderkey, o.o_orderdate,
        |  sum(l.rev_cm)::DOUBLE / 1e5 AS revenue
        |FROM l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |WHERE o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND c.c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, l.l_orderkey LIMIT 10""".stripMargin,

    "tpch_q5" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_suppkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      (1000 - CAST(round(l_discount * 1000) AS BIGINT)) AS rev_cm
        |  FROM lineitem)
        |SELECT n.n_name,
        |  sum(l.rev_cm)::DOUBLE / 1e5 AS revenue
        |FROM l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND c.c_nationkey = s.s_nationkey
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n.n_name
        |ORDER BY revenue DESC, n.n_name""".stripMargin,

    "tpch_q6" ->
      """WITH li AS (
        |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS qc,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |    CAST(round(l_discount * 1000) AS BIGINT) AS d3
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
        |SELECT sum(pc * d3)::DOUBLE / 1e5 AS revenue,
        |  count(*)::BIGINT AS n_lines
        |FROM li WHERE d3 >= 50 AND d3 <= 70 AND qc < 2400""".stripMargin,

    "tpch_q2" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |eu AS (
        |  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        |  FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  JOIN region r ON r.r_regionkey = n.n_regionkey
        |  WHERE r.r_name = 'EUROPE'),
        |cand AS (
        |  SELECT p.p_partkey, p.p_brand, eu.s_suppkey, eu.s_name, eu.s_acctbal, eu.n_name
        |  FROM part p JOIN ps ON ps.l_partkey = p.p_partkey
        |  JOIN eu ON eu.s_suppkey = ps.l_suppkey
        |  WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'LARGE')
        |SELECT CAST(round(s_acctbal*100) AS BIGINT) AS acctbal_c, s_name, n_name,
        |       p_partkey, p_brand
        |FROM cand c
        |WHERE c.s_acctbal = (SELECT min(s_acctbal) FROM cand c2
        |                     WHERE c2.p_partkey = c.p_partkey)
        |ORDER BY acctbal_c DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,

    "tpch_q4" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |              AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1""".stripMargin,

    "tpch_q7" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |       year(l.l_shipdate)::BIGINT AS l_year,
        |       sum((CAST(round(l_extendedprice*100) AS BIGINT) *
        |           (1000 - CAST(round(l_discount*1000) AS BIGINT)))::DECIMAL(38,0))::DOUBLE / 1e5 AS revenue
        |FROM lineitem l
        |JOIN orders o   ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey  = o.o_custkey
        |JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
        |JOIN supplier s ON s.s_suppkey  = l.l_suppkey
        |JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
        |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2') OR
        |       (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3""".stripMargin,

    "tpch_q8" ->
      """WITH allrows AS (
        |  SELECT year(o.o_orderdate) AS o_year,
        |         CAST(round(l_extendedprice*100) AS BIGINT) *
        |           (1000 - CAST(round(l_discount*1000) AS BIGINT)) AS vol_cm,
        |         sn.n_name AS supp_nation
        |  FROM lineitem l
        |  JOIN part p     ON p.p_partkey = l.l_partkey
        |  JOIN orders o   ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
        |  JOIN region r   ON r.r_regionkey = cn.n_regionkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
        |  WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
        |    AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_year::BIGINT AS o_year,
        |  round(sum((CASE WHEN supp_nation = 'NATION_3' THEN vol_cm ELSE 0 END)::DECIMAL(38,0))::DOUBLE
        |        / sum(vol_cm::DECIMAL(38,0))::DOUBLE, 9) AS mkt_share
        |FROM allrows GROUP BY 1""".stripMargin,

    "tpch_q9" ->
      """SELECT n.n_name AS nation, year(o.o_orderdate)::BIGINT AS o_year,
        |  sum((CAST(round(l_extendedprice*100) AS BIGINT) *
        |        (1000 - CAST(round(l_discount*1000) AS BIGINT))
        |      - CAST(round(p.p_retailprice*100) AS BIGINT) * 500 *
        |        CAST(round(l_quantity) AS BIGINT))::DECIMAL(38,0))::DOUBLE / 1e5 AS profit
        |FROM lineitem l
        |JOIN part p     ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n   ON n.n_nationkey = s.s_nationkey
        |JOIN orders o   ON o.o_orderkey = l.l_orderkey
        |WHERE p.p_name LIKE '%red%'
        |GROUP BY 1, 2""".stripMargin,

    "tpch_q10" ->
      """SELECT c.c_custkey, c.c_name,
        |  sum((CAST(round(l_extendedprice*100) AS BIGINT) *
        |      (1000 - CAST(round(l_discount*1000) AS BIGINT)))::DECIMAL(38,0))::DOUBLE / 1e5 AS revenue,
        |  CAST(round(c.c_acctbal*100) AS BIGINT) AS acctbal_c, n.n_name
        |FROM customer c
        |JOIN orders o   ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n   ON n.n_nationkey = c.c_nationkey
        |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1997-04-01'
        |  AND l.l_returnflag = 'R'
        |GROUP BY 1, 2, 4, 5
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "tpch_q11" ->
      """WITH av AS (
        |  SELECT l.l_partkey AS partkey,
        |    sum((CAST(round(l_extendedprice*100) AS BIGINT) *
        |        CAST(round(l_quantity) AS BIGINT))::DECIMAL(38,0)) AS value_c
        |  FROM lineitem l
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n   ON n.n_nationkey = s.s_nationkey
        |  JOIN region r   ON r.r_regionkey = n.n_regionkey
        |  WHERE r.r_name = 'AFRICA'
        |  GROUP BY 1)
        |SELECT partkey, value_c::DOUBLE / 100.0 AS value
        |FROM av, (SELECT count(*) AS cnt, sum(value_c) AS total FROM av) tot
        |WHERE value_c * tot.cnt > 2 * tot.total
        |ORDER BY value DESC, partkey""".stripMargin,

    "tpch_q12" ->
      """SELECT l.l_returnflag,
        |  sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)::BIGINT
        |    AS high_line_count,
        |  sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)::BIGINT
        |    AS low_line_count
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
        |  AND l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin,

    "tpch_q13" ->
      """WITH co AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c
        |  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |    AND o.o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY 1)
        |SELECT c_count::BIGINT AS c_count, count(*)::BIGINT AS custdist
        |FROM co GROUP BY 1""".stripMargin,

    "tpch_q14" ->
      """SELECT round(100.0 * sum((CASE WHEN p.p_type = 'PROMO'
        |    THEN CAST(round(l_extendedprice*100) AS BIGINT) *
        |         (1000 - CAST(round(l_discount*1000) AS BIGINT)) ELSE 0 END)::DECIMAL(38,0))::DOUBLE
        |  / sum((CAST(round(l_extendedprice*100) AS BIGINT) *
        |        (1000 - CAST(round(l_discount*1000) AS BIGINT)))::DECIMAL(38,0))::DOUBLE, 9) AS promo_revenue
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-09-01' AND l.l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin,

    "tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey AS suppkey,
        |    sum((CAST(round(l_extendedprice*100) AS BIGINT) *
        |        (1000 - CAST(round(l_discount*1000) AS BIGINT)))::DECIMAL(38,0)) AS total_cm
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, rev.total_cm::DOUBLE / 1e5 AS total_revenue
        |FROM supplier s JOIN rev ON rev.suppkey = s.s_suppkey
        |WHERE rev.total_cm = (SELECT max(total_cm) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "tpch_q16" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p.p_brand, p.p_type, p.p_size,
        |  count(DISTINCT ps.l_suppkey)::BIGINT AS supplier_cnt
        |FROM part p JOIN ps ON ps.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#5' AND p.p_size IN (1, 4, 9, 15, 23, 36, 45, 49)
        |  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,

    "tpch_q17" ->
      """WITH tgt AS (
        |  SELECT p_partkey FROM part WHERE p_brand = 'Brand#3' AND p_size <= 10),
        |pavg AS (
        |  SELECT l_partkey,
        |    sum(CAST(round(l_quantity) AS BIGINT))::DOUBLE / count(*) AS aq
        |  FROM lineitem JOIN tgt ON p_partkey = l_partkey
        |  GROUP BY 1)
        |SELECT round(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)::DECIMAL(38,0))::DOUBLE
        |             / 100.0 / 7.0, 6) AS avg_yearly
        |FROM lineitem l
        |JOIN pavg ON pavg.l_partkey = l.l_partkey
        |WHERE l.l_quantity < 0.2 * pavg.aq""".stripMargin,

    "tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 300)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
        |  CAST(round(o.o_totalprice*100) AS BIGINT) AS totalprice_c,
        |  sum(CAST(round(l.l_quantity) AS BIGINT))::BIGINT AS sum_qty
        |FROM customer c
        |JOIN orders o   ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN big        ON big.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY totalprice_c DESC, o_orderkey LIMIT 100""".stripMargin,

    "tpch_q19" ->
      """SELECT sum((CAST(round(l_extendedprice*100) AS BIGINT) *
        |           (1000 - CAST(round(l_discount*1000) AS BIGINT)))::DECIMAL(38,0))::DOUBLE / 1e5 AS revenue
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE
        |  (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
        |     AND l.l_quantity >= 1 AND l.l_quantity <= 11)
        |  OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
        |     AND l.l_quantity >= 10 AND l.l_quantity <= 20)
        |  OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
        |     AND l.l_quantity >= 20 AND l.l_quantity <= 30)""".stripMargin,

    "tpch_q20" ->
      """WITH sm AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
        |shipped AS (
        |  SELECT l_suppkey, l_partkey,
        |    sum(CAST(round(l_quantity) AS BIGINT)) AS qty
        |  FROM lineitem JOIN sm ON p_partkey = l_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2)
        |SELECT s.s_name, n.n_name
        |FROM supplier s
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE r.r_name = 'EUROPE'
        |  AND s.s_suppkey IN (SELECT l_suppkey FROM shipped WHERE qty > 50)
        |ORDER BY s_name""".stripMargin,

    "tpch_q21" ->
      """SELECT s.s_name, count(*)::BIGINT AS numwait
        |FROM supplier s
        |JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE o.o_orderstatus = 'F' AND n.n_name = 'NATION_4'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3 JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        |              WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1
        |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    "tpch_q22" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey % 5 AS cntrycode,
        |    CAST(round(c_acctbal*100) AS BIGINT) AS bal_c
        |  FROM customer WHERE c_nationkey % 5 IN (0, 1, 2)),
        |cut AS (
        |  SELECT count(*) AS cnt, sum(bal_c::DECIMAL(38,0)) AS total_c FROM cust WHERE bal_c > 0),
        |dormant AS (
        |  SELECT cntrycode, bal_c
        |  FROM cust c, cut
        |  WHERE c.bal_c::DECIMAL(38,0) * cut.cnt > cut.total_c
        |    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01'))
        |SELECT cntrycode::BIGINT AS cntrycode, count(*)::BIGINT AS numcust,
        |  sum(bal_c::DECIMAL(38,0))::DOUBLE / 100.0 AS totacctbal
        |FROM dormant GROUP BY 1""".stripMargin,

    "tpch_q6_sql" -> Q6SqlShared
  )
}
