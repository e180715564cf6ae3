package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.OracleSql._
import graft.SparkEntry.Row
import graft.ops._

/** TPC-H-shaped analytical suite beyond the reference's own queries
  * (generalization tier; the reference's dashboard asks q1/q3-style
  * questions — etl_script.py:118-131, app.py:57-74 — these complete
  * the classic 22-query decision-support surface over the same
  * testdata schema).
  *
  * The driver's schema has no `partsupp` table and no
  * commit/receipt/shipmode columns, so the queries that need them
  * (q2/q4/q9/q11/q12/q16/q20/q21/q22) are ADAPTED: each keeps its
  * defining plan shape (correlated scalar subquery, EXISTS semi-join,
  * HAVING-vs-global-threshold, disjunctive pushdown, nested semi,
  * anti-join...) re-targeted at columns the data does have. The point
  * of this module is shape coverage — every classic decision-support
  * plan pattern, each oracle-checked against DuckDB.
  *
  * Oracle-comparability follows [[OracleSql]] (money sums are
  * `exactSum(e, "DECIMAL(28,4)")`), with counts/years cast to BIGINT
  * and total-order tiebreakers on every ORDER BY.
  */
object TpchQueries {

  /** Exact money sum: per-row product quantized to 4 decimals, summed
    * exactly (oracle twin: `exactSum(e, "DECIMAL(28,4)")`).
    */
  private def revenue(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(e.cast("decimal(28,4)")).cast("double")

  private def discPrice =
    col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  // ---- Q7: volume shipping between two nations ---------------------------
  // The bidirectional nation-pair revenue report. Plan shape: two
  // independent dim chains (supplier→nation, customer→nation) hang off
  // the one big-big join (lineitem⋈orders on orderkey). Both
  // nation-tagged dims broadcast — supplier wholesale, customer after
  // the 2-of-25-nations filter cut it to ~8% (at 100 TB that is a
  // ~20 MB two-column frame; AQE would pick the same side). The
  // disjunctive pair filter runs AFTER both tags attach, on two small
  // string columns.
  def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val (na, nb) = ("NATION_1", "NATION_2")
    val nat = Tables.nation(s, dir).filter(col("n_name").isin(na, nb))
    val sup = Tables.supplier(s, dir)
      .join(broadcast(nat.select(col("n_nationkey").as("s_nationkey"),
        col("n_name").as("supp_nation"))), Seq("s_nationkey"))
      .select(col("s_suppkey").as("l_suppkey"), col("supp_nation"))
    val cust = Tables.customer(s, dir)
      .join(broadcast(nat.select(col("n_nationkey").as("c_nationkey"),
        col("n_name").as("cust_nation"))), Seq("c_nationkey"))
      .select(col("c_custkey").as("o_custkey"), col("cust_nation"))
    val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
      .select(col("l_orderkey"), col("l_suppkey"),
        discPrice.cast("decimal(28,4)").as("volume"),
        year(col("l_shipdate")).cast("long").as("l_year"))
    li.join(broadcast(sup), Seq("l_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), Seq("o_custkey"))
      .filter((col("supp_nation") === na && col("cust_nation") === nb) ||
        (col("supp_nation") === nb && col("cust_nation") === na))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("volume")).cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }
  val q7Sql =
    s"""SELECT supp_nation, cust_nation, l_year,
      |  ${exactSum("volume", "DECIMAL(28,4)")} AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |         CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |         CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4)) AS volume
      |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |) shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // ---- Q13: customer order-count distribution ----------------------------
  // The null-preserving double aggregation: LEFT join so zero-order
  // customers survive with c_count=0 (count(col) skips the null
  // o_orderkey), then a second, tiny aggregation over the count
  // domain. At 100 TB the first agg shuffles on c_custkey (same key
  // as the join — one exchange serves both under Catalyst's
  // output-partitioning reuse); the second input is |distinct counts|
  // rows per task, effectively free.
  def q13CustomerDistribution(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select(col("c_custkey"))
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .select(col("o_custkey"), col("o_orderkey"))
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }
  val q13Sql =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      |  GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---- Q14: promotion revenue share --------------------------------------
  // Conditional-sum ratio in one aggregation pass: both the PROMO
  // numerator and the total denominator come out of the same grouped
  // scan (no second pass, no self-join). Part broadcasts; the ratio is
  // one IEEE double division on two exact-decimal-backed doubles, so
  // both engines compute the identical bits.
  def q14PromoShare(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-09-01") && col("l_shipdate") < lit("1997-10-01"))
      .select(col("l_partkey"), discPrice.cast("decimal(28,4)").as("rev"))
    val part = Tables.part(s, dir).select(col("p_partkey").as("l_partkey"), col("p_type"))
    li.join(broadcast(part), Seq("l_partkey"))
      .agg((lit(100.0) * sum(when(col("p_type") === "PROMO", col("rev"))).cast("double") /
        sum(col("rev")).cast("double")).as("promo_revenue"))
  }
  val q14Sql =
    s"""SELECT 100.0 * ${exactSum("CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4)) END", "DECIMAL(28,4)")}
      |  / ${exactSum("CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4))", "DECIMAL(28,4)")} AS promo_revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin

  // ---- Q15: top supplier (scalar-max subquery) ---------------------------
  // The "equal to the max of an aggregate" pattern. Spark form: the
  // revenue frame computes once, its 1-row max broadcasts back over a
  // crossJoin (the distributed scalar-subquery idiom — no collect, no
  // driver round-trip), equality filters, and the supplier dim
  // broadcasts in for names. Exact-decimal revenue makes the equality
  // comparison deterministic — both engines see identical doubles, so
  // ties survive identically on both sides.
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(revenue(discPrice).as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("max_rev"))
    val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))
    rev.crossJoin(broadcast(maxRev))
      .filter(col("total_revenue") === col("max_rev"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }
  val q15Sql =
    s"""WITH rev AS (
      |  SELECT l_suppkey, ${exactSum("l_extendedprice * (1.0 - l_discount)", "DECIMAL(28,4)")} AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN rev ON s_suppkey = l_suppkey
      |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  // ---- Q4: order-priority check (EXISTS semi-join) -----------------------
  // Adapted (no commit/receipt dates): orders in a quarter that have at
  // least one returned line, counted per priority. The defining shape
  // survives intact — a correlated EXISTS that Spark executes as a
  // LEFT SEMI join (each order emits at most once regardless of how
  // many lines match; no dedup pass, no fanout). The lineitem side
  // pre-filters on the pushed returnflag predicate before shuffling
  // only its join key.
  def q4PriorityExists(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-07-01") && col("o_orderdate") < lit("1996-10-01"))
      .select(col("o_orderkey"), col("o_orderpriority"))
    val returned = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
    ord.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }
  val q4Sql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---- Q8: national market share -----------------------------------------
  // One nation's share of a region's market for one part type, by
  // year. Both the nation-tagged numerator and the all-nations
  // denominator come from the same grouped pass (conditional sum —
  // no second scan, no self-join); the share is one IEEE division of
  // two exact-decimal-backed doubles. Dim chains: part (type-filtered)
  // and supplier→nation broadcast; customer joins through the
  // region-filtered nation list (1/5 of nations) — at 100 TB that
  // side is still the small one and AQE would broadcast it the same
  // way.
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val targetNation = "NATION_5"
    val part = Tables.part(s, dir).filter(col("p_type") === "ECONOMY")
      .select(col("p_partkey").as("l_partkey"))
    val supNat = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nationkey"), col("n_name").as("nation"))),
        Seq("s_nationkey"))
      .select(col("s_suppkey").as("l_suppkey"), col("nation"))
    val asiaCust = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nationkey"))), Seq("c_nationkey"))
      .select(col("c_custkey").as("o_custkey"))
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        discPrice.cast("decimal(28,4)").as("volume"))
    li.join(broadcast(part), Seq("l_partkey"))
      .join(broadcast(supNat), Seq("l_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(asiaCust), Seq("o_custkey"))
      .groupBy(col("o_year"))
      .agg((sum(when(col("nation") === targetNation, col("volume"))).cast("double") /
        sum(col("volume")).cast("double")).as("mkt_share"))
      .orderBy(col("o_year"))
  }
  val q8Sql =
    s"""SELECT o_year,
      |  ${toDouble("SUM(CASE WHEN nation = 'NATION_5' THEN volume END)")}
      |    / ${toDouble("SUM(volume)")} AS mkt_share
      |FROM (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, n2.n_name AS nation,
      |         CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4)) AS volume
      |  FROM lineitem
      |  JOIN part ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |) all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  // ---- Q17: small-quantity-order revenue (correlated scalar avg) ---------
  // "Lines of brand-X parts ordered below 20% of that part's average
  // quantity." The correlated per-part average becomes a grouped
  // aggregation over the FULL lineitem (every part's mean, one
  // shuffle on l_partkey) joined back to the brand-filtered lines on
  // the same key — Catalyst reuses the partitioning, and nothing
  // correlates row-at-a-time. The threshold and the comparison are
  // exact-decimal-backed doubles, so the strict < cuts identically in
  // both engines.
  def q17SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val perPartAvg = li.groupBy(col("l_partkey"))
      .agg((lit(0.2) * Aggregates.exactMean(col("l_quantity"))).as("qty_cut"))
    val brandParts = Tables.part(s, dir).filter(col("p_brand") === "Brand#3")
      .select(col("p_partkey").as("l_partkey"))
    li.select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(brandParts), Seq("l_partkey"))
      .join(perPartAvg, Seq("l_partkey"))
      .filter(col("l_quantity") < col("qty_cut"))
      .agg((sum(col("l_extendedprice").cast("decimal(28,2)")).cast("double") / lit(7.0))
        .as("avg_yearly"))
  }
  val q17Sql =
    s"""SELECT ${exactSum("l_extendedprice", "DECIMAL(28,2)")} / 7.0 AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#3'
      |  AND l_quantity < (
      |    SELECT 0.2 * (${exactSum("l_quantity")} / count(l_quantity))
      |    FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)""".stripMargin

  // ---- Q19: discounted revenue (disjunctive predicate pushdown) ----------
  // Three brand/size/quantity clause groups OR'd together. The shape
  // test: Catalyst must push the common join key through the
  // disjunction and evaluate the OR as a post-join filter on broadcast
  // part columns — NOT expand to a union of three scans. One pass over
  // lineitem, one broadcast, one scalar sum.
  def q19DisjunctiveRev(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(s, dir)
      .select(col("p_partkey").as("l_partkey"), col("p_brand"), col("p_size"))
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"),
        discPrice.cast("decimal(28,4)").as("rev"))
    val clause = (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#4" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))
    li.join(broadcast(part), Seq("l_partkey"))
      .filter(clause)
      .agg(sum(col("rev")).cast("double").as("revenue"))
  }
  val q19Sql =
    s"""SELECT ${exactSum("CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4))", "DECIMAL(28,4)")} AS revenue
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // ---- Q11: important stock (HAVING vs global-scalar-fraction) -----------
  // The "groups whose aggregate exceeds a fraction of the global
  // aggregate" pattern (classic q11 over partsupp, adapted: per-part
  // revenue from one nation's supply base, kept if above 0.1% of that
  // nation's total). Plan shape: ONE grouped aggregation computes the
  // per-part frame; the global total derives from the SAME frame (sum
  // of the group sums is exact in decimal — no second scan of
  // lineitem), broadcasts back as a 1-row crossJoin, and the HAVING
  // runs as a post-agg filter. At 100 TB: one shuffle on l_partkey,
  // one 1-row broadcast; the threshold comparison is an IEEE double
  // compare on identically-derived values in both engines.
  def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    val natSup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_1")
        .select(col("n_nationkey").as("s_nationkey"))), Seq("s_nationkey"))
      .select(col("s_suppkey").as("l_suppkey"))
    val perPart = Tables.lineitem(s, dir)
      .join(broadcast(natSup), Seq("l_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(discPrice.cast("decimal(28,4)")).as("vdec"))
    val cut = perPart.agg(
      (sum(col("vdec")).cast("double") * lit(0.001)).as("cut"))
    perPart.crossJoin(broadcast(cut))
      .filter(col("vdec").cast("double") > col("cut"))
      .select(col("l_partkey"), col("vdec").cast("double").as("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }
  val q11Sql =
    s"""WITH v AS (
      |  SELECT l_partkey,
      |         SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4))) AS vdec
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name = 'NATION_1'
      |  GROUP BY l_partkey)
      |SELECT l_partkey, ${toDouble("vdec")} AS value
      |FROM v
      |WHERE ${toDouble("vdec")} >
      |      (SELECT ${toDouble("SUM(vdec)")} * CAST(0.001 AS DOUBLE) FROM v)
      |ORDER BY value DESC, l_partkey""".stripMargin

  // ---- Q21: lone returner (EXISTS + NOT EXISTS on the same fact) ---------
  // The dual-correlation pattern: each qualifying row must have a
  // same-order row from ANOTHER supplier (EXISTS → LEFT SEMI) and no
  // same-order RETURN from another supplier (NOT EXISTS → LEFT ANTI),
  // both against the same fact table with a two-column correlation
  // (orderkey equality + suppkey inequality). Spark executes both as
  // one-pass joins on the orderkey equality with the inequality as a
  // residual condition — nothing correlates row-at-a-time, and the
  // semi/anti forms never fan out (each base row emits ≤ once no
  // matter how many order-mates match). At 100 TB all three lineitem
  // legs shuffle on l_orderkey — one exchange each, same key, and the
  // two probe legs carry only (orderkey, suppkey) pairs.
  def q21LoneReturner(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val base = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
    val mates = li.select(
      col("l_orderkey").as("m_orderkey"), col("l_suppkey").as("m_suppkey"))
    val rMates = li.filter(col("l_returnflag") === "R").select(
      col("l_orderkey").as("r_orderkey"), col("l_suppkey").as("r_suppkey"))
    base
      .join(mates, col("l_orderkey") === col("m_orderkey") &&
        col("l_suppkey") =!= col("m_suppkey"), "left_semi")
      .join(rMates, col("l_orderkey") === col("r_orderkey") &&
        col("l_suppkey") =!= col("r_suppkey"), "left_anti")
      .join(broadcast(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }
  val q21Sql =
    """SELECT s_name, count(*) AS numwait
      |FROM lineitem l1
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |JOIN supplier ON s_suppkey = l1.l_suppkey
      |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  // ---- Q22: dormant high-balance customers (anti-join + filtered avg) ----
  // The "above the average of a filtered domain, with no matching
  // fact rows" pattern (classic q22, adapted: no-phone-prefix →
  // market segments, no-orders-ever → no orders since a cutoff so the
  // anti side is non-empty at every SF). Plan shape: the scalar avg
  // computes over the positive-balance domain ONLY (decimal-exact,
  // 1 row), broadcasts back as a crossJoin; the NOT EXISTS is a LEFT
  // ANTI against date-pruned orders carrying only o_custkey. At
  // 100 TB: customer scans once, orders scans only the pushed date
  // range, the anti-join shuffles on custkey, and the final agg is
  // 5 segment rows.
  def q22DormantValue(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg(Aggregates.exactMean(col("c_acctbal")).as("avg_bal"))
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("2000-06-01"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal").cast("decimal(28,2)")).cast("double").as("totacctbal"))
      .orderBy(col("c_mktsegment"))
  }
  val q22Sql =
    s"""SELECT c_mktsegment, count(*) AS numcust,
      |  ${exactSum("c_acctbal", "DECIMAL(28,2)")} AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (
      |    SELECT ${exactSum("c_acctbal")}
      |           / count(c_acctbal)
      |    FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---- Q2: minimum-cost supplier (correlated per-group min) --------------
  // The classic "supplier achieving the minimum supply cost per part,
  // within one region" — the correlated-min-subquery shape. No
  // partsupp table exists, so the part↔supplier relation is DERIVED:
  // min(l_extendedprice) per (l_partkey, l_suppkey) stands in for
  // ps_supplycost (min of doubles — exact and order-insensitive in
  // both engines). The correlated `cost = (SELECT min ...)` becomes a
  // window min over l_partkey on the already-reduced pair frame — ONE
  // pass, no self-join, no row-at-a-time correlation. At 100 TB: the
  // only big shuffle is the pair aggregation on (l_partkey,
  // l_suppkey); the part filter semi-joins BEFORE the agg (broadcast,
  // prunes the shuffle input), the Europe-supplier tag broadcasts,
  // and the window runs on a frame bounded by |part|×|supplier|
  // distinct pairs, not by lineitem. Total-order output: s_name is
  // unique and (p_partkey, s_name) identifies a row.
  def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val targetParts = Tables.part(s, dir)
      .filter(col("p_size").between(20, 30) && col("p_type") === "STANDARD")
      .select(col("p_partkey").as("l_partkey"))
    val eurSup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("s_nationkey"), col("n_name"))),
        Seq("s_nationkey"))
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"),
        col("s_acctbal"), col("n_name"))
    val ps = Tables.lineitem(s, dir)
      .join(broadcast(targetParts), Seq("l_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice")).as("cost"))
    ps.join(broadcast(eurSup), Seq("l_suppkey"))
      .withColumn("min_cost", min(col("cost")).over(Window.partitionBy(col("l_partkey"))))
      .filter(col("cost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("l_partkey").as("p_partkey"), col("cost"))
      .orderBy(col("s_acctbal").desc, col("n_name").asc, col("s_name").asc,
        col("p_partkey").asc)
      .limit(100)
  }
  val q2Sql =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS cost
      |  FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part
      |                      WHERE p_size BETWEEN 20 AND 30 AND p_type = 'STANDARD')
      |  GROUP BY 1, 2),
      |eur AS (
      |  SELECT s_suppkey, s_name, s_acctbal, n_name
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE')
      |SELECT s_acctbal, s_name, n_name, p_partkey, cost FROM (
      |  SELECT e.s_acctbal, e.s_name, e.n_name, ps.l_partkey AS p_partkey, ps.cost,
      |         min(ps.cost) OVER (PARTITION BY ps.l_partkey) AS min_cost
      |  FROM ps JOIN eur e ON ps.l_suppkey = e.s_suppkey) t
      |WHERE cost = min_cost
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  // ---- Q9: product-type profit by nation and year ------------------------
  // The widest classic join tree: lineitem against FOUR dims plus
  // orders, grouped by (supplier nation, order year). With no
  // ps_supplycost the profit measure is the discounted price alone —
  // the plan shape (the point of the query) is unchanged: part-name
  // filter semi-joins broadcast BEFORE anything wide, supplier→nation
  // tagging broadcasts, and the one genuinely big-big join
  // (lineitem⋈orders on orderkey, needed for the year) shuffles both
  // sides on the join key. At 100 TB the name-filtered part list cuts
  // the lineitem side first, so the orderkey shuffle moves only
  // surviving rows. Aggregate is exact-decimal-backed.
  def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val gearParts = Tables.part(s, dir).filter(col("p_name").contains("gear"))
      .select(col("p_partkey").as("l_partkey"))
    val supNat = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nationkey"), col("n_name").as("nation"))),
        Seq("s_nationkey"))
      .select(col("s_suppkey").as("l_suppkey"), col("nation"))
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
    Tables.lineitem(s, dir)
      .join(broadcast(gearParts), Seq("l_partkey"), "left_semi")
      .join(broadcast(supNat), Seq("l_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), col("o_year"))
      .agg(revenue(discPrice).as("sum_profit"))
      .orderBy(col("nation").asc, col("o_year").desc)
  }
  val q9Sql =
    s"""SELECT nation, o_year,
      |  ${exactSum("l_extendedprice * (1.0 - l_discount)", "DECIMAL(28,4)")} AS sum_profit
      |FROM (
      |  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |         l_extendedprice, l_discount
      |  FROM lineitem
      |  JOIN part ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  WHERE p_name LIKE '%gear%') profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  // ---- Q12: late shipments by class (big-big join + CASE-sums) -----------
  // Classic q12 counts high/low-priority orders per shipmode among
  // late lines. No shipmode/commitdate/receiptdate columns exist, so:
  // the class key is l_returnflag and "late" is shipped >60 days
  // after the order date — the defining shape survives intact: the
  // one big-big join (lineitem⋈orders on orderkey), a join-dependent
  // lateness predicate that can only run post-join, and the
  // two-priority-buckets-in-one-pass conditional sums (no second
  // scan, no pivot). The shipdate range filter DOES push to the
  // parquet scan, pruning the shuffle input; the priority bucketing
  // is a broadcast-free CASE over a string column.
  def q12LateShipments(s: SparkSession, dir: String): DataFrame = {
    val hi = Seq("1-URGENT", "2-HIGH")
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01"))
      .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin(hi: _*), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority").isin(hi: _*), 0L).otherwise(1L))
          .as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }
  val q12Sql =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---- Q16: supplier diversity per part class (distinct + NOT IN) --------
  // "How many distinct suppliers offer each (brand, type, size)
  // class, excluding blacklisted suppliers." The part↔supplier
  // relation is again DERIVED from lineitem (no partsupp); the
  // NOT-IN-complaint-suppliers becomes a broadcast left-anti join on
  // the negative-balance supplier list (the harness has no comment
  // column). Plan shape preserved: anti-join BEFORE the wide agg so
  // excluded rows never shuffle, part attributes broadcast in, and
  // the count-distinct runs as Spark's two-phase partial-distinct
  // aggregate on (brand, type, size, suppkey) — no all-pairs, no
  // global distinct. Group keys form the total order tiebreak.
  def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    val excluded = Tables.supplier(s, dir).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("l_suppkey"))
    val parts = Tables.part(s, dir)
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
      .select(col("p_partkey").as("l_partkey"), col("p_brand"),
        col("p_type"), col("p_size"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(excluded), Seq("l_suppkey"), "left_anti")
      .join(broadcast(parts), Seq("l_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
        col("p_type").asc, col("p_size").asc)
  }
  val q16Sql =
    """SELECT p_brand, p_type, p_size,
      |  count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // ---- Q20: excess-stock suppliers (nested semi-joins + correlated agg) --
  // Classic q20's "suppliers holding more than half a year's demand"
  // nested-IN chain. ps_availqty doesn't exist, so the stock proxy is
  // the prior-year (1995) shipped quantity per (part, supplier) and
  // the correlated threshold is half the current-year (1996) volume:
  // "suppliers whose 1995 volume of small-parts exceeds half their
  // 1996 shipments". The defining shape survives: part-name semi-join
  // → per-pair correlated aggregate → inequality gate → supplier
  // semi-join → region filter. Both grouped aggregates hash on the
  // SAME (l_partkey, l_suppkey) keys, so Catalyst co-partitions the
  // inner join with NO third shuffle; the comparison is exact
  // (decimal×2 vs decimal — no fraction, no float). At 100 TB the
  // only data that moves twice is the date-windowed, name-filtered
  // lineitem slice; supplier/nation broadcast.
  def q20ExcessSuppliers(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val smallParts = Tables.part(s, dir).filter(col("p_name").startsWith("small"))
      .select(col("p_partkey").as("l_partkey"))
    def pairQty(from: String, to: String, out: String) = li
      .filter(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(to))
      .join(broadcast(smallParts), Seq("l_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(28,4)")).as(out))
    val stocked = pairQty("1995-01-01", "1996-01-01", "avail")
    val shipped = pairQty("1996-01-01", "1997-01-01", "shipped")
    val candSup = stocked.join(shipped, Seq("l_partkey", "l_suppkey"))
      .filter(col("avail") * 2 > col("shipped"))
      .select(col("l_suppkey").as("s_suppkey"))
    Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("s_nationkey"))), Seq("s_nationkey"))
      .join(candSup, Seq("s_suppkey"), "left_semi")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy(col("s_name"))
  }
  val q20Sql =
    """WITH sp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
      |stocked AS (
      |  SELECT l_partkey, l_suppkey,
      |         SUM(CAST(l_quantity AS DECIMAL(28,4))) AS avail
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_partkey IN (SELECT p_partkey FROM sp)
      |  GROUP BY 1, 2),
      |shipped AS (
      |  SELECT l_partkey, l_suppkey,
      |         SUM(CAST(l_quantity AS DECIMAL(28,4))) AS shipped
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_partkey IN (SELECT p_partkey FROM sp)
      |  GROUP BY 1, 2)
      |SELECT s_name, s_acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND s_suppkey IN (
      |    SELECT st.l_suppkey FROM stocked st
      |    JOIN shipped sh ON st.l_partkey = sh.l_partkey
      |                   AND st.l_suppkey = sh.l_suppkey
      |    WHERE 2 * st.avail > sh.shipped)
      |ORDER BY s_name""".stripMargin

  val all: Map[String, Row] = Map(
    "q4_priority_exists" -> Row(q4PriorityExists, q4Sql),
    "q7_volume_shipping" -> Row(q7VolumeShipping, q7Sql),
    "q8_market_share" -> Row(q8MarketShare, q8Sql),
    "q17_small_qty_revenue" -> Row(q17SmallQtyRevenue, q17Sql),
    "q19_disjunctive_rev" -> Row(q19DisjunctiveRev, q19Sql),
    "q13_cust_distribution" -> Row(q13CustomerDistribution, q13Sql),
    "q14_promo_share" -> Row(q14PromoShare, q14Sql),
    "q15_top_supplier" -> Row(q15TopSupplier, q15Sql),
    "q11_important_parts" -> Row(q11ImportantParts, q11Sql),
    "q21_lone_returner" -> Row(q21LoneReturner, q21Sql),
    "q22_dormant_value" -> Row(q22DormantValue, q22Sql),
    "q2_min_cost_supplier" -> Row(q2MinCostSupplier, q2Sql),
    "q9_product_profit" -> Row(q9ProductProfit, q9Sql),
    "q12_late_shipments" -> Row(q12LateShipments, q12Sql),
    "q16_supplier_cnt" -> Row(q16SupplierCnt, q16Sql),
    "q20_excess_suppliers" -> Row(q20ExcessSuppliers, q20Sql)
  )
}
