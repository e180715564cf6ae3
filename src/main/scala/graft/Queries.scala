package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OracleSql._
import graft.SparkEntry.Row
import graft.ops._

/** Parity query registry: one named query per reference operator
  * (SURVEY §2), expressed over the driver's TPC-H-ish testdata, each
  * paired with equivalent ANSI SQL for the DuckDB oracle
  * (SparkEntry.oracleSql).
  *
  * Conventions for oracle comparability (SURVEY §5.2, §7.4):
  *  - every computed column is aliased identically in Spark and SQL;
  *  - exact sums and means, folds and hashes come from [[OracleSql]],
  *    each fragment the twin of one Spark expression;
  *  - counts/ranks are cast to BIGINT to match DuckDB output types;
  *  - top-k queries carry total-order tiebreakers so ties are
  *    deterministic across engines.
  */
object ParityQueries {

  // ---- P1: column-name normalization (etl_script.py:74-75) ----------
  // Rename lineitem columns into raw "Title Case / slash" forms, then
  // normalize back; prove the round-trip by aggregating.
  def p1NormalizeNames(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.lineitem(s, dir)
    val uglified = raw.toDF(raw.columns.map(c => " " + c.toUpperCase.replace('_', ' ') + " ").toIndexedSeq: _*)
    val norm = Ingest.normalizeColumnNames(uglified)
    norm.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
  }
  val p1Sql = "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"

  // ---- P2: coerce-cast, errors → null (etl_script.py:79-86) ---------
  // JSON field extraction uses the JSON built-in, not a regex over the
  // serialized form (robust to whitespace/ordering; r2 VERDICT wrong #2).
  def p2CoerceCast(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("k_raw", get_json_object(col("props"), "$.k"))
      .withColumn("et_raw", col("event_type"))
    Cleanse.coerceToDouble(ev, Seq("k_raw", "et_raw", "not_a_column"))
      .select(col("event_id"), col("k_raw").as("k_val"), col("et_raw").as("et_num"))
  }
  val p2Sql =
    "SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_val, " +
      "TRY_CAST(event_type AS DOUBLE) AS et_num FROM events"

  // ---- P3: null-drop on subset (etl_script.py:93) --------------------
  def p3NullDrop(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn(
      "v", when(col("event_type") === "error", lit(null).cast("double")).otherwise(col("value")))
    Cleanse.dropNullRows(ev, Seq("v")).select(col("event_id"), col("v"))
  }
  // Mirrors the op exactly: a null event_type falls to the otherwise()
  // branch (row kept when value is non-null) — the SQL must keep it too.
  val p3Sql = "SELECT event_id, value AS v FROM events " +
    "WHERE (event_type IS NULL OR event_type <> 'error') AND value IS NOT NULL"

  // ---- P4: equality filter (etl_script.py:99) ------------------------
  def p4Filter(s: SparkSession, dir: String): DataFrame =
    Relational.filterEq(Tables.lineitem(s, dir), "l_returnflag", "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
  val p4Sql =
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_returnflag = 'R'"

  // ---- P5: projection (etl_script.py:105) ----------------------------
  def p5Project(s: SparkSession, dir: String): DataFrame =
    Relational.project(Tables.customer(s, dir), Seq("c_custkey", "c_name", "c_mktsegment"))
  val p5Sql = "SELECT c_custkey, c_name, c_mktsegment FROM customer"

  // ---- P6: column drop (etl_script.py:112) ----------------------------
  def p6Drop(s: SparkSession, dir: String): DataFrame =
    Relational.dropCols(Tables.supplier(s, dir), Seq("s_acctbal"))
  val p6Sql = "SELECT s_suppkey, s_name, s_nationkey FROM supplier"

  // ---- J1: inner equi-join (etl_script.py:119) ------------------------
  def j1Join(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    // customer is the dimension side: broadcast it — at 100 TB the fact
    // side never shuffles.
    val cust = Tables.customer(s, dir).withColumnRenamed("c_custkey", "o_custkey")
    Relational.innerJoin(orders, cust, Seq("o_custkey"), broadcastRight = true)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("c_name"), col("c_mktsegment"))
  }
  val j1Sql =
    "SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment " +
      "FROM orders JOIN customer ON o_custkey = c_custkey"

  // ---- J1b: 3-way star join (generalization; dims broadcast) ----------
  // Full-width star join: customer is the fact side and is NEVER
  // broadcast; nation/region are true dimensions. Shared by the
  // registered 3-col query and flagship (which needs c_acctbal too —
  // carrying it here avoids a growing-table self-join, r2 VERDICT #1).
  private def starJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
  }

  def j1Join3Way(s: SparkSession, dir: String): DataFrame =
    starJoin(s, dir).select(col("c_custkey"), col("n_name"), col("r_name"))
  val j1bSql =
    "SELECT c_custkey, n_name, r_name FROM customer " +
      "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey"

  // ---- J2: left outer join (generalization beyond the reference) -------
  // Right side filtered to one segment so unmatched fact rows exercise
  // the null-extension path.
  def j2LeftJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("o_custkey"), col("c_name"))
    Relational.joinTyped(
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      cust, Seq("o_custkey"), "left")
  }
  val j2Sql =
    "SELECT o_custkey, o_orderkey, o_totalprice, c_name FROM orders " +
      "LEFT JOIN (SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING') c " +
      "ON o_custkey = c_custkey"

  // ---- J3: semi + anti joins (existence filters) ------------------------
  def j3SemiAnti(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val rich = Tables.customer(s, dir)
      .filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("o_custkey"))
    val semi = Relational.joinTyped(orders, rich, Seq("o_custkey"), "left_semi")
      .withColumn("which", lit("semi"))
    val anti = Relational.joinTyped(orders, rich, Seq("o_custkey"), "left_anti")
      .withColumn("which", lit("anti"))
    semi.unionByName(anti).select(col("which"), col("o_orderkey"), col("o_custkey"))
  }
  val j3Sql =
    "SELECT 'semi' AS which, o_orderkey, o_custkey FROM orders " +
      "WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000) " +
      "UNION ALL SELECT 'anti', o_orderkey, o_custkey FROM orders " +
      "WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)"

  // ---- J4: salted inner join — identical results to the plain join ------
  // (the oracle IS the unsalted SQL; proves skew salting is semantics-
  // preserving while spreading a hot key over `buckets` reducers)
  def j4SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    Relational.saltedInnerJoin(
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      cust, Seq("o_custkey"), buckets = 8)
  }
  val j4Sql =
    "SELECT o_custkey, o_orderkey, o_totalprice, c_mktsegment FROM orders " +
      "JOIN customer ON o_custkey = c_custkey"

  // ---- J5: as-of (temporal) join ------------------------------------------
  // For each purchase event, the latest click value at-or-before it for
  // the same user ([[AsofJoin.asofJoin]] — union+window, no range-join
  // explosion). Clicks pre-aggregated to unique (user, ts) as the
  // operator requires. The DuckDB oracle uses its native ASOF LEFT
  // JOIN — an independent algorithm that must produce the identical
  // point-in-time lookup.
  def j5AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
    AsofJoin.asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts", Seq("click_value"))
  }
  val j5Sql =
    "WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'), " +
      "c AS (SELECT user_id, ts, max(value) AS click_value FROM events WHERE event_type = 'click' GROUP BY user_id, ts) " +
      "SELECT p.user_id, p.ts, p.event_id, p.value, c.click_value " +
      "FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts"

  // ---- J5n: the NATIVE as-of join (whole-operator tier) --------------------
  // Same inputs and same DuckDB ASOF-LEFT-JOIN oracle as j5, but
  // planned as the custom physical operator
  // ([[graft.plans.AsOfJoinExec]] via injectPlannerStrategy): each
  // side gets its own exchange + (key, ts) sort; the merge is one
  // forward pass holding ONE buffered right row — the right table
  // never flows through the left's shuffle the way the union+window
  // form requires. Law-tested equal to the composed form
  // (AsOfJoinNativeSpec); oracle-verified here every round.
  // A/B at sf0.1/local[32]: native 1.21 s vs composed 2.15 s.
  def j5AsofNative(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
    AsofJoin.asofJoinNative(
      purchases, clicks, Seq("user_id"), "ts", "ts", Seq("click_value"))
  }

  // ---- J12: as-of join with staleness tolerance ----------------------------
  // pandas merge_asof(tolerance=...): the carried-forward right value
  // only counts if it is FRESH — here, the last click within 30
  // minutes before the purchase; anything staler degrades to null.
  // Because older matches are strictly farther away, "latest within
  // tolerance" ≡ "latest, then tolerance-filtered", so this composes
  // the as-of join (click_ts carried as a value column) with one
  // per-row freshness predicate — no new join shape, no extra
  // shuffle. Oracle: correlated latest-click subquery with the same
  // staleness bound.
  private val AsofTolUs = 30L * 60 * 1000000
  def j12AsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
      .withColumn("click_ts", col("ts"))
    AsofJoin.asofJoin(purchases, clicks,
      Seq("user_id"), "ts", "ts", Seq("click_value", "click_ts"))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        when(
          unix_micros(col("ts")) - unix_micros(col("click_ts")) <= AsofTolUs,
          col("click_value")).as("click_value_tol"))
  }
  val j12Sql =
    s"""WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
       |c AS (SELECT user_id, ts, max(value) AS click_value FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
       |SELECT p.user_id, p.ts, p.event_id, p.value,
       |  (SELECT c.click_value FROM c WHERE c.user_id = p.user_id AND c.ts <= p.ts
       |     AND epoch_us(p.ts) - epoch_us(c.ts) <= $AsofTolUs
       |   ORDER BY c.ts DESC LIMIT 1) AS click_value_tol
       |FROM p""".stripMargin

  // ---- J6: point-in-interval range join -----------------------------------
  // Promo-style intervals (6 h after every 40th signup) joined to all
  // events falling inside them. Spark runs the BINNED equi-join
  // ([[RangeJoin.pointInInterval]]); the oracle runs a plain
  // BETWEEN theta-join — independent algorithms, identical pairs.
  // ([[graft.plans.RangeJoinRule]] performs the same rewrite
  // automatically for sessions with the graft extension installed —
  // this registration exercises the explicit operator form.)
  private val RangeBinSeconds = 6 * 3600L
  def j6RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val intervals = ev
      .filter(col("event_type") === "signup" && col("event_id") % 40 === 0)
      .select(
        col("event_id").as("interval_id"),
        col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 6 HOURS")).as("hi"))
    val points = ev.select(col("event_id"), col("ts"), col("event_type"))
    RangeJoin.pointInInterval(points, "ts", intervals, "lo", "hi", RangeBinSeconds)
      .select(col("interval_id"), col("event_id"), col("event_type"))
  }
  val j6Sql =
    "WITH i AS (SELECT event_id AS interval_id, ts AS lo, ts + INTERVAL 6 HOUR AS hi " +
      "FROM events WHERE event_type = 'signup' AND event_id % 40 = 0) " +
      "SELECT i.interval_id, e.event_id, e.event_type FROM events e " +
      "JOIN i ON e.ts >= i.lo AND e.ts <= i.hi"

  // ---- J7: interval-overlap join (two-sided range join) -------------------
  // Urgent-order weeks overlapping high-priority-order weeks for the
  // same bounded customer segment — the two-sided range join
  // ([[RangeJoin.intervalOverlap]]): both sides bin-explode, meet in
  // exactly their first shared bin, overlap predicate residual. The
  // oracle runs the plain theta join (an independent algorithm).
  def j7IntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    def iv(p: String, pre: String) =
      Tables.orders(s, dir)
        .filter(col("o_custkey") < 200 && col("o_orderpriority") === p)
        .select(
          col("o_orderkey").as(s"${pre}_key"),
          col("o_orderdate").as(s"${pre}_lo"),
          (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as(s"${pre}_hi"))
    RangeJoin.intervalOverlap(
      iv("1-URGENT", "a"), "a_lo", "a_hi",
      iv("2-HIGH", "b"), "b_lo", "b_hi",
      binSeconds = 7L * 86400)
      .select(col("a_key"), col("b_key"))
  }
  val j7Sql =
    """WITH a AS (SELECT o_orderkey AS a_key, o_orderdate AS a_lo,
      |    o_orderdate + INTERVAL 7 DAY AS a_hi FROM orders
      |  WHERE o_custkey < 200 AND o_orderpriority = '1-URGENT'),
      |b AS (SELECT o_orderkey AS b_key, o_orderdate AS b_lo,
      |    o_orderdate + INTERVAL 7 DAY AS b_hi FROM orders
      |  WHERE o_custkey < 200 AND o_orderpriority = '2-HIGH')
      |SELECT a_key, b_key FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi""".stripMargin

  // ---- J8: range join via the OPTIMIZER RULE (bare theta-join) ------------
  // The same point-in-interval semantics as J6, but written the way a
  // SQL-first user would write it — a bare `ts BETWEEN lo AND hi`
  // theta-join, no engine API in sight. Spark alone plans this as a
  // BroadcastNestedLoopJoin (O(|points|·|intervals|) comparisons);
  // [[graft.plans.RangeJoinRule]] — installed in the Verify/Bench
  // driver sessions via [[GraftExtensions]] — rewrites it to the
  // binned equi-join automatically. This registration makes the
  // optimizer tier load-bearing on every driver round: the oracle
  // runs the plain theta-join in DuckDB, so a rewrite that drops or
  // duplicates rows fails CORRECTNESS, and PlanGuardSpec asserts the
  // nested-loop join is gone from the physical plan.
  def j8RangeAuto(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val intervals = ev
      .filter(col("event_type") === "purchase" && col("event_id") % 50 === 0)
      .select(
        col("event_id").as("interval_id"),
        col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 4 HOURS")).as("hi"))
    val points = ev.select(col("event_id"), col("ts"), col("event_type"))
    points.join(intervals, col("ts") >= col("lo") && col("ts") <= col("hi"))
      .select(col("interval_id"), col("event_id"), col("event_type"))
  }
  val j8Sql =
    "WITH i AS (SELECT event_id AS interval_id, ts AS lo, ts + INTERVAL 4 HOUR AS hi " +
      "FROM events WHERE event_type = 'purchase' AND event_id % 50 = 0) " +
      "SELECT i.interval_id, e.event_id, e.event_type FROM events e " +
      "JOIN i ON e.ts >= i.lo AND e.ts <= i.hi"

  // ---- J9: market-basket co-occurrence (self-join pair mining) ------------
  // Part pairs that ship together in the same order — the support
  // count of classic basket analysis. Scale anatomy: the self-join
  // key is l_orderkey and both sides are the SAME frame — small SFs
  // broadcast one side, at scale it is one shuffle plus a
  // ReusedExchange for the mirror side; the pair fan-out is bounded
  // by lines-per-order squared (TPC-H ≤ 7, a per-key constant — this
  // is why basket mining co-partitions by basket and never by item,
  // where Zipf-hot items would skew). The
  // per-order distinct runs BEFORE pairing so duplicate parts in one
  // order don't inflate support; p_a < p_b canonicalizes. Top-50
  // fuses to TakeOrderedAndProject with total-order tiebreakers.
  def j9BasketPairs(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = li.select(col("l_orderkey"), col("l_partkey").as("p_a"))
    val b = li.select(col("l_orderkey"), col("l_partkey").as("p_b"))
    a.join(b, Seq("l_orderkey"))
      .filter(col("p_a") < col("p_b"))
      .groupBy(col("p_a"), col("p_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("p_a").asc, col("p_b").asc)
      .limit(50)
  }
  val j9Sql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT a.l_partkey AS p_a, b.l_partkey AS p_b, count(*) AS n_orders
      |FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY p_a, p_b
      |ORDER BY n_orders DESC, p_a, p_b
      |LIMIT 50""".stripMargin

  // ---- F5: typed JSON extraction (from_json with explicit schema) ---------
  // The schema'd counterpart of P2's get_json_object: parse once into
  // a typed struct (malformed JSON → null struct, coerce-not-crash).
  def f5Json(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(
        col("event_id"),
        from_json(col("props"), lit("k BIGINT")).getField("k").as("k"))
  val f5Sql =
    "SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events"

  // ---- O8: window frames (moving aggregates + navigation) -------------------
  // ROWS-frame moving average (decimal-exact), lead, and first_value
  // over a totally-ordered per-customer window — the sliding-window
  // analytics family beyond O5's lag/running-sum.
  def o8WindowFrames(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Seq(col("o_orderdate").asc, col("o_orderkey").asc)
    val w = Window.partitionBy(col("o_custkey")).orderBy(order: _*)
    val w3 = w.rowsBetween(-2, Window.currentRow)
    Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      (sum(col("o_totalprice").cast(Dec)).over(w3).cast("double") /
        count(lit(1)).over(w3)).as("mov_avg3"),
      lead(col("o_totalprice"), 1).over(w).as("next_price"),
      first(col("o_totalprice")).over(w).as("first_price"))
  }
  val o8Sql =
    "SELECT o_orderkey, o_custkey, o_totalprice, " +
      s"${toDouble(s"SUM(CAST(o_totalprice AS $Dec)) OVER w3")} / count(*) OVER w3 AS mov_avg3, " +
      "lead(o_totalprice, 1) OVER w AS next_price, " +
      "first_value(o_totalprice) OVER w AS first_price " +
      "FROM orders WINDOW " +
      "w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), " +
      "w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"

  // ---- O9: moving median (order statistics in a sliding frame) --------------
  // The robust-smoothing window op (noise-tolerant where o8's moving
  // mean is outlier-dragged): exact median over a trailing 5-row
  // frame per customer. Both engines interpolate even-count medians
  // as lower + (upper − lower) · frac — the same IEEE sequence — so
  // the hash holds without decimal routing. Frames are
  // O(frame)-bounded per row; the partition never materializes.
  def o9MovingMedian(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w5 = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(-4, Window.currentRow)
    Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      expr("percentile(o_totalprice, 0.5)").over(w5).as("med5"),
      count(lit(1)).over(w5).as("n5"))
  }
  val o9Sql =
    "SELECT o_orderkey, o_custkey, o_totalprice, " +
      "quantile_cont(o_totalprice, 0.5) OVER w5 AS med5, " +
      "CAST(count(*) OVER w5 AS BIGINT) AS n5 " +
      "FROM orders WINDOW w5 AS (PARTITION BY o_custkey " +
      "ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)"

  // ---- F8: null toolkit -----------------------------------------------------
  // coalesce / nullif / greatest / least / CASE — identical null
  // propagation in both engines (greatest/least ignore nulls unless
  // all inputs are null).
  def f8NullToolkit(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey"),
      coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("(redacted)")).as("seg_red"),
      greatest(col("c_acctbal"), lit(0.0)).as("bal_floor"),
      least(col("c_acctbal"), lit(5000.0)).as("bal_cap"),
      when(col("c_acctbal") < 0, "overdrawn")
        .when(col("c_acctbal") < 1000, "low").otherwise("ok").as("bal_band"))
  val f8Sql =
    "SELECT c_custkey, coalesce(nullif(c_mktsegment, 'BUILDING'), '(redacted)') AS seg_red, " +
      "greatest(c_acctbal, 0.0) AS bal_floor, least(c_acctbal, 5000.0) AS bal_cap, " +
      "CASE WHEN c_acctbal < 0 THEN 'overdrawn' WHEN c_acctbal < 1000 THEN 'low' ELSE 'ok' END AS bal_band " +
      "FROM customer"

  // ---- F6: math toolkit -----------------------------------------------------
  // The scalar-math surface restricted to functions with EXACT
  // cross-engine semantics: abs/sign (trivial), sqrt (IEEE
  // correctly-rounded everywhere), floor/ceil (exact), power-of-two
  // scaling (exponent shift, exact), and integer modulo. ln/exp/pow
  // and double round are deliberately ABSENT: libm results differ in
  // the last ulp across engines and a hash gate would flake — the
  // bigram-rarity and EWMA queries show the integer-exact patterns
  // that replace them.
  def f6MathToolkit(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      abs(col("l_quantity") - 25.0).as("q_dev"),
      signum(col("l_quantity") - 25.0).as("q_sign"),
      sqrt(col("l_extendedprice")).as("price_sqrt"),
      floor(col("l_extendedprice") / 1000.0).cast("long").as("price_k_floor"),
      ceil(col("l_extendedprice") / 1000.0).cast("long").as("price_k_ceil"),
      (col("l_extendedprice") * 0.25).as("price_q"), // 2^-2: exact scaling
      (col("l_partkey") % 97).as("part_mod"))
  val f6Sql =
    "SELECT l_orderkey, l_linenumber, " +
      "abs(l_quantity - 25.0) AS q_dev, " +
      "CAST(sign(l_quantity - 25.0) AS DOUBLE) AS q_sign, " +
      "sqrt(l_extendedprice) AS price_sqrt, " +
      "CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_k_floor, " +
      "CAST(ceil(l_extendedprice / 1000.0) AS BIGINT) AS price_k_ceil, " +
      "l_extendedprice * 0.25 AS price_q, " +
      "l_partkey % 97 AS part_mod FROM lineitem"

  // ---- F7: string toolkit ---------------------------------------------------
  // The wider scalar-string surface beyond F1's trim/lower/replace —
  // every function here has identical semantics in both engines
  // (position args 1-based, empty-result edge cases included).
  def f7StringToolkit(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey"),
      substring(col("c_name"), 1, 8).as("name8"),
      expr("left(c_name, 4)").as("l4"),
      expr("right(c_name, 3)").as("r3"),
      lpad(col("c_mktsegment"), 12, ".").as("seg_pad"),
      instr(col("c_name"), "#").cast("long").as("hash_pos"),
      translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_tr"),
      reverse(col("c_mktsegment")).as("seg_rev"),
      repeat(col("c_mktsegment"), 2).as("seg2"),
      length(col("c_name")).cast("long").as("name_len"),
      concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"))
  val f7Sql =
    "SELECT c_custkey, substr(c_name, 1, 8) AS name8, left(c_name, 4) AS l4, " +
      "right(c_name, 3) AS r3, lpad(c_mktsegment, 12, '.') AS seg_pad, " +
      "CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos, " +
      "translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr, " +
      "reverse(c_mktsegment) AS seg_rev, repeat(c_mktsegment, 2) AS seg2, " +
      "CAST(length(c_name) AS BIGINT) AS name_len, " +
      "concat_ws('|', c_mktsegment, c_name) AS joined FROM customer"

  // ---- U1: set operations (union / intersect / except, distinct) --------
  def u1SetOps(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    def keysFor(p: String) =
      orders.filter(col("o_orderpriority") === p).select(col("o_custkey"))
    val urgent = keysFor("1-URGENT")
    val low = keysFor("5-LOW")
    val inter = urgent.intersect(low).withColumn("which", lit("intersect"))
    val exc = urgent.except(low).withColumn("which", lit("except"))
    val uni = urgent.union(low).distinct().withColumn("which", lit("union"))
    inter.unionByName(exc).unionByName(uni).select(col("which"), col("o_custkey"))
  }
  val u1Sql = {
    def k(p: String) = s"SELECT o_custkey FROM orders WHERE o_orderpriority = '$p'"
    s"SELECT 'intersect' AS which, o_custkey FROM (${k("1-URGENT")} INTERSECT ${k("5-LOW")}) " +
      s"UNION ALL SELECT 'except', o_custkey FROM (${k("1-URGENT")} EXCEPT ${k("5-LOW")}) " +
      s"UNION ALL SELECT 'union', o_custkey FROM (${k("1-URGENT")} UNION ${k("5-LOW")})"
  }

  // ---- A6: rollup (hierarchical subtotals; partial agg per level) --------
  def a6Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), Aggregates.exactSum(col("l_quantity")).as("sum_qty"))
  val a6Sql =
    s"SELECT l_returnflag, l_linestatus, count(*) AS n, " +
      s"${exactSum("l_quantity")} AS sum_qty " +
      "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"

  // ---- A17: grouping-set level labels (grouping_id) -----------------------
  // Rollup output where every row carries WHICH aggregation level
  // produced it — grouping_id() — so a report can split subtotal rows
  // from detail rows without the fragile null-means-total heuristic
  // (a real NULL group value and a rollup total are indistinguishable
  // without it). Same single-pass partial+final grouping-sets
  // execution as a6; the label is free metadata from the expand node.
  def a17GroupingId(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), grouping_id().cast("long").as("level_id"),
        grouping(col("l_returnflag")).cast("long").as("flag_is_total"))
      .orderBy(col("level_id").asc, col("l_returnflag").asc_nulls_last,
        col("l_linestatus").asc_nulls_last)
  val a17Sql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS level_id,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS flag_is_total
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY level_id, l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin

  // ---- O13: Pareto / cumulative-share curve -------------------------------
  // "What share of revenue do the top parts carry" — rank parts by
  // revenue, then cumulative share over the ranked order. The global
  // window runs over the AGGREGATED per-part frame (|part| rows, a
  // dimension — never over lineitem), and the running numerator stays
  // in decimal so every prefix sum is exact; the single IEEE division
  // per row happens identically in both engines. At 100 TB: one fact
  // shuffle (the per-part agg), one dimension-sized sort.
  def o13Pareto(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perPart = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(28,4)")).as("rev"))
    val w = Window.orderBy(col("rev").desc, col("l_partkey").asc)
    val total = perPart.agg(sum(col("rev")).as("total"))
    perPart.crossJoin(broadcast(total))
      .select(col("l_partkey"),
        row_number().over(w).cast("long").as("rk"),
        (sum(col("rev")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double") / col("total").cast("double")).as("cum_share"))
      .filter(col("rk") <= 100)
      .orderBy(col("rk"))
  }
  val o13Sql =
    s"""WITH pp AS (SELECT l_partkey,
      |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4))) AS rev
      |  FROM lineitem GROUP BY l_partkey),
      |t AS (SELECT SUM(rev) AS total FROM pp)
      |SELECT l_partkey, rk, cum_share FROM (
      |  SELECT l_partkey,
      |    CAST(row_number() OVER (ORDER BY rev DESC, l_partkey) AS BIGINT) AS rk,
      |    ${toDouble("SUM(rev) OVER (ORDER BY rev DESC, l_partkey\n      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")}
      |      / ${toDouble("total")} AS cum_share
      |  FROM pp, t) x
      |WHERE rk <= 100 ORDER BY rk""".stripMargin

  // ---- O5: window analytics (lag + running sum per partition) ------------
  // Total order inside each customer partition (date, then orderkey) so
  // lag/cumulative values are deterministic across engines; running sum
  // accumulates in decimal for order-free exactness.
  def o5WindowAnalytics(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      sum(col("o_totalprice").cast(s"decimal(28,10)")).over(w)
        .cast("double").as("run_total"))
  }
  val o5Sql =
    "SELECT o_orderkey, o_custkey, o_totalprice, " +
      "lag(o_totalprice, 1) OVER w AS prev_price, " +
      s"${toDouble(s"SUM(CAST(o_totalprice AS $Dec)) OVER w")} AS run_total " +
      "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"

  // ---- A1: scalar count (etl_script.py:100,120,169) --------------------
  def a1Count(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).agg(count(lit(1)).as("n"))
  val a1Sql = "SELECT count(*) AS n FROM lineitem"

  // ---- A2: exact distinct count (dashboard_app/app.py:47) --------------
  def a2CountDistinct(s: SparkSession, dir: String): DataFrame =
    Aggregates.distinctCount(Tables.orders(s, dir), "o_custkey")
  val a2Sql = "SELECT count(DISTINCT o_custkey) AS n_o_custkey FROM orders"

  // ---- A3: scalar mean (dashboard_app/app.py:48) ------------------------
  def a3Mean(s: SparkSession, dir: String): DataFrame =
    Aggregates.mean(Tables.lineitem(s, dir), "l_discount")
  val a3Sql = s"SELECT ${exactMean("l_discount")} AS avg_l_discount FROM lineitem"

  // ---- A4: grouped mean, null keys dropped (dashboard_app/app.py:57) ----
  def a4GroupMean(s: SparkSession, dir: String): DataFrame =
    Aggregates.groupedMean(Tables.lineitem(s, dir), "l_returnflag", "l_quantity")
  val a4Sql =
    s"SELECT l_returnflag, ${exactMean("l_quantity")} AS avg_l_quantity " +
      "FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY l_returnflag"

  // ---- A5: grouped mean + desc sort (dashboard_app/app.py:74) -----------
  def a5GroupMeanSort(s: SparkSession, dir: String): DataFrame =
    Aggregates.groupedMean(Tables.orders(s, dir), "o_orderpriority", "o_totalprice")
      .orderBy(col("avg_o_totalprice").desc_nulls_last, col("o_orderpriority").asc)
  val a5Sql =
    s"SELECT o_orderpriority, ${exactMean("o_totalprice")} AS avg_o_totalprice " +
      "FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY o_orderpriority " +
      "ORDER BY avg_o_totalprice DESC, o_orderpriority"

  // ---- O1/O2: global sorts, nulls last (dashboard_app/app.py:95-98) -----
  def o1SortDesc(s: SparkSession, dir: String): DataFrame =
    Ranking.sortDesc(Tables.supplier(s, dir), "s_acctbal", Seq("s_suppkey"))
  val o1Sql = "SELECT * FROM supplier ORDER BY s_acctbal DESC NULLS LAST, s_suppkey"

  def o2SortAsc(s: SparkSession, dir: String): DataFrame =
    Ranking.sortAsc(Tables.customer(s, dir), "c_acctbal", Seq("c_custkey"))
  val o2Sql = "SELECT * FROM customer ORDER BY c_acctbal ASC NULLS LAST, c_custkey"

  // ---- O3: top-k (dashboard_app/app.py:92,101) ---------------------------
  // orderBy+limit fuses to TakeOrderedAndProjectExec: per-partition
  // heaps, no global sort — the shape that survives 100 TB.
  def o3TopK(s: SparkSession, dir: String): DataFrame =
    Ranking.topK(
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
      Seq(col("l_extendedprice").desc_nulls_last, col("l_orderkey").asc, col("l_linenumber").asc),
      10)
  val o3Sql =
    "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem " +
      "ORDER BY l_extendedprice DESC NULLS LAST, l_orderkey, l_linenumber LIMIT 10"

  // ---- O4: top-k per group (extension; window rank) -----------------------
  // Partition key is l_orderkey — cardinality grows with the data, so at
  // 100 TB the window shuffle spreads over all tasks (a 3-value key like
  // l_returnflag would funnel everything into 3 tasks; see r1 VERDICT).
  def o4TopKPerGroup(s: SparkSession, dir: String): DataFrame =
    Ranking.topKPerGroup(
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
      Seq("l_orderkey"),
      Seq(col("l_extendedprice").desc, col("l_linenumber").asc),
      2)
      .withColumn("rk", col("rk").cast("long"))
  val o4Sql =
    "SELECT * FROM (SELECT l_orderkey, l_linenumber, l_extendedprice, " +
      "row_number() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber) AS rk " +
      "FROM lineitem) t WHERE rk <= 2"

  // ---- F1: scalar string functions (etl_script.py:74-75 on data) ----------
  def f1StringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey"),
      trim(col("c_name")).as("name_trim"),
      lower(col("c_mktsegment")).as("seg_lower"),
      expr("replace(c_name, '#', '-')").as("name_repl"))
  val f1Sql =
    "SELECT c_custkey, trim(c_name) AS name_trim, lower(c_mktsegment) AS seg_lower, " +
      "replace(c_name, '#', '-') AS name_repl FROM customer"

  // ---- S7: cache + multi-action fan-out (dashboard_app/app.py:28-33) ------
  // One cached DataFrame feeds several aggregates; registered as a single
  // union-shaped summary so the oracle can check it. The persist is
  // EAGER: both union branches scan it within one job, and a lazy
  // persist would make their tasks race to populate the same cache
  // partitions (r3's 5× regression).
  def s7CachedFanout(s: SparkSession, dir: String): DataFrame = {
    val li = Sink.cachedEager(
      Tables.lineitem(s, dir).select(col("l_returnflag"), col("l_quantity"), col("l_discount")))
    val byFlagQty = li.groupBy(col("l_returnflag"))
      .agg(Aggregates.exactMean(col("l_quantity")).as("metric"))
      .withColumn("which", lit("avg_qty"))
    val byFlagDisc = li.groupBy(col("l_returnflag"))
      .agg(Aggregates.exactMean(col("l_discount")).as("metric"))
      .withColumn("which", lit("avg_disc"))
    byFlagQty.unionByName(byFlagDisc).select(col("which"), col("l_returnflag"), col("metric"))
  }
  val s7Sql =
    s"SELECT 'avg_qty' AS which, l_returnflag, ${exactMean("l_quantity")} AS metric FROM lineitem GROUP BY l_returnflag " +
      s"UNION ALL SELECT 'avg_disc' AS which, l_returnflag, ${exactMean("l_discount")} AS metric FROM lineitem GROUP BY l_returnflag"

  // ---- S1+S4: CSV sink → schema'd CSV scan round-trip ---------------------
  // Exercises the reference's two I/O contracts in one query
  // (etl_script.py:49 dtype={'Facility ID': str} and :164-168 overwrite
  // sink): a leading-zero string key must survive an overwrite-write to
  // CSV and a schema'd read back. The oracle never sees the CSV — if the
  // round-trip corrupts anything (types, zeros, doubles), the hash
  // diverges from the parquet-derived truth.
  def s1CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = Tables.supplier(s, dir).select(
      lpad(col("s_suppkey").cast("string"), 8, "0").as("supp_id"),
      col("s_name"), col("s_nationkey"), col("s_acctbal"))
    // PID-qualified scratch path (shutdown-hook cleaned): concurrent
    // runners (Bench + Verify on the same sf dir) must not race
    // overwrite-vs-read on one directory.
    val path = Sink.scratchDir(s"csv_roundtrip_${Sink.pathTag(dir)}")
    Sink.writeCsv(out, path)
    Ingest.csv(s, path, StructType(Seq(
      StructField("supp_id", StringType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))))
  }
  val s1Sql =
    "SELECT lpad(CAST(s_suppkey AS VARCHAR), 8, '0') AS supp_id, " +
      "s_name, s_nationkey, s_acctbal FROM supplier"

  // ---- S2: JSON sink → schema'd JSON scan round-trip -----------------------
  // Second source format beyond CSV/parquet: overwrite-write JSON lines,
  // read back with an explicit schema (no inference pass), leading-zero
  // string keys intact. Oracle never sees the JSON — any round-trip
  // corruption diverges from the parquet-derived truth.
  def s2JsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = Tables.nation(s, dir).select(
      lpad(col("n_nationkey").cast("string"), 4, "0").as("nation_id"),
      col("n_name"), col("n_regionkey"))
    val path = Sink.scratchDir(s"json_roundtrip_${Sink.pathTag(dir)}")
    out.write.mode("overwrite").json(path)
    s.read.schema(StructType(Seq(
      StructField("nation_id", StringType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))).json(path)
  }
  val s2Sql =
    "SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS nation_id, " +
      "n_name, n_regionkey FROM nation"

  // ---- S3b: ORC sink → schema'd ORC scan round-trip -----------------------
  // Second COLUMNAR format beyond parquet (native `orc` datasource):
  // overwrite-write, explicit-schema read-back, leading-zero string
  // key intact. The oracle reads only the parquet truth — any ORC
  // round-trip corruption (types, zeros, doubles) diverges the hash.
  def s3OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = Tables.part(s, dir).select(
      lpad(col("p_partkey").cast("string"), 9, "0").as("part_id"),
      col("p_name"), col("p_size"), col("p_retailprice"))
    val path = Sink.scratchDir(s"orc_roundtrip_${Sink.pathTag(dir)}")
    Sink.writeOrc(out, path)
    Ingest.orc(s, path, StructType(Seq(
      StructField("part_id", StringType),
      StructField("p_name", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))))
  }
  val s3oSql =
    "SELECT lpad(CAST(p_partkey AS VARCHAR), 9, '0') AS part_id, " +
      "p_name, p_size, p_retailprice FROM part"

  // ---- S13: XML sink → schema'd XML scan round-trip ------------------------
  // The semi-structured format Spark 4 absorbed into spark-sql
  // (formerly the spark-xml package): overwrite-write under an
  // explicit rowTag, explicit-schema read-back — leading-zero string
  // key, int and double columns intact through the text
  // serialization. The oracle reads only the parquet truth, so any
  // tag/type/precision drift in the round-trip diverges the hash.
  def s13XmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = Tables.supplier(s, dir).select(
      lpad(col("s_suppkey").cast("string"), 7, "0").as("supp_id"),
      col("s_name"), col("s_nationkey"), col("s_acctbal"))
    val path = Sink.scratchDir(s"xml_roundtrip_${Sink.pathTag(dir)}")
    Sink.writeXml(out, path)
    Ingest.xml(s, path, StructType(Seq(
      StructField("supp_id", StringType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))))
  }
  val s13Sql =
    "SELECT lpad(CAST(s_suppkey AS VARCHAR), 7, '0') AS supp_id, " +
      "s_name, s_nationkey, s_acctbal FROM supplier"

  // ---- S8: incremental upsert (SCD-1 merge) -------------------------------
  // The scale-correct replacement for the reference's
  // drop-and-recreate sink (etl_script.py:164-168): urgent orders
  // arrive re-priced (update), a batch of new orders arrives under
  // fresh keys (insert), everything else carries forward. The oracle
  // replays the same union + precedence-window merge in SQL.
  def s8Upsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
    val cur = base.select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
    val repriced = base.filter(col("o_orderpriority") === "1-URGENT").select(
      col("o_orderkey"), col("o_custkey"),
      (col("o_totalprice") * lit(1.1)).as("o_totalprice"),
      lit("U").as("o_orderstatus"))
    val inserted = base.filter(col("o_orderpriority") === "2-HIGH").select(
      (-col("o_orderkey")).as("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), lit("N").as("o_orderstatus"))
    Relational.upsert(cur, repriced.unionByName(inserted), Seq("o_orderkey"))
  }
  val s8Sql =
    "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM (" +
      "SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY prec DESC) AS rn FROM (" +
      "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 0 AS prec FROM orders " +
      "UNION ALL SELECT o_orderkey, o_custkey, o_totalprice * 1.1, 'U', 1 " +
      "FROM orders WHERE o_orderpriority = '1-URGENT' " +
      "UNION ALL SELECT -o_orderkey, o_custkey, o_totalprice, 'N', 1 " +
      "FROM orders WHERE o_orderpriority = '2-HIGH')) WHERE rn = 1"

  // ---- F2/F3: display formatting (dashboard_app/app.py:47-48) -------------
  // format_number(x, 0) == python f"{n:,}"; format_number(x, 3) == f"{x:.3f}".
  // The mean is computed on the exact decimal path, then the resulting
  // DOUBLE is cast to DECIMAL(28,3) in both engines (a double→decimal
  // rounding, identical here because the mean is exactly representable;
  // green at every tested SF). DuckDB's format() can't comma-group
  // floats, so the oracle assembles the grouped string.
  def f2f3Format(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .agg(count(lit(1)).as("n"), Aggregates.exactMean(col("o_totalprice")).as("m"))
      .select(
        format_number(col("n"), 0).as("n_fmt"),
        format_number(col("m").cast("decimal(28,3)"), 3).as("avg_fmt"))
  val f2f3Sql =
    "WITH t AS (SELECT count(*) AS n, " +
      s"CAST(${exactMean("o_totalprice")} AS DECIMAL(28,3)) AS d FROM orders) " +
      "SELECT format('{:,}', n) AS n_fmt, " +
      "format('{:,}', CAST(trunc(d) AS BIGINT)) || '.' || " +
      "lpad(CAST(CAST((d - trunc(d)) * 1000 AS BIGINT) AS VARCHAR), 3, '0') AS avg_fmt FROM t"

  // ---- W1: tumbling-window aggregate over event time ----------------------
  // Batch-expressible streaming shape (SURVEY §7.4 item 7): window(ts, 1h)
  // groups into hour buckets; partial aggregation runs map-side, so at
  // 100 TB only (bucket, partial) rows shuffle.
  def w1WindowAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), Aggregates.exactMean(col("value")).as("avg_value"))
      .select(col("w.start").as("bucket"), col("n"), col("avg_value"))
      .filter(col("bucket").isNotNull)
  val w1Sql =
    s"SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, count(*) AS n, " +
      s"${exactMean("value")} AS avg_value FROM events " +
      "WHERE ts IS NOT NULL GROUP BY bucket"

  // ---- W4: hopping (sliding) windows — the third window kind -------------
  // 1-hour windows every 15 minutes: each event lands in exactly
  // hop/slide = 4 overlapping windows. Spark's `window(ts, len,
  // slide)` implements the fan-out as a Generate (explode of the 4
  // window structs) BEFORE the partial aggregation, so map-side
  // combine still applies and only (window, partial) rows shuffle —
  // the fan-out factor multiplies scan rows, never shuffle volume.
  // The oracle replays the same assignment in epoch-microsecond
  // integer math (grid floor minus k slides).
  def w4HoppingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("ts").isNotNull)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"), Aggregates.exactMean(col("value")).as("avg_value"))
      .select(col("w.start").as("bucket"), col("n"), col("avg_value"))
  val w4Sql =
    s"""WITH k AS (SELECT unnest(range(4)) AS k),
       |w AS (SELECT make_timestamp((epoch_us(ts) // 900000000 - k.k) * 900000000) AS bucket, value
       |  FROM events, k WHERE ts IS NOT NULL)
       |SELECT bucket, count(*) AS n, ${exactMean("value")} AS avg_value FROM w GROUP BY bucket""".stripMargin

  // ---- W5: funnel analysis (ordered multi-stage conversion) ---------------
  // view → click → purchase per user, each stage's timestamp the
  // FIRST event strictly after the previous stage. Three grouped
  // mins + joins, all keyed on user_id — co-partitioned after the
  // first shuffle, so the funnel costs one real exchange at any
  // scale. Stage timestamps emitted as epoch-micros BIGINTs (the
  // engine-portable representation; Spark is micros, DuckDB nanos).
  def w5Funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def ofType(t: String) = ev.filter(col("event_type") === t)
    val v = ofType("view").groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("t1_us"))
    val c = ofType("click").join(v, Seq("user_id"))
      .filter(unix_micros(col("ts")) > col("t1_us"))
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("t2_us"))
    val p = ofType("purchase").join(c, Seq("user_id"))
      .filter(unix_micros(col("ts")) > col("t2_us"))
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("t3_us"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t1_us"), col("t2_us"), col("t3_us"),
        (lit(1) + when(col("t2_us").isNotNull, 1).otherwise(0)
          + when(col("t3_us").isNotNull, 1).otherwise(0)).cast("long").as("stage"))
  }
  val w5Sql =
    """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t1_us FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2_us FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1_us GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3_us FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2_us GROUP BY e.user_id)
      |SELECT v.user_id, t1_us, t2_us, t3_us,
      |  CAST(1 + CASE WHEN t2_us IS NOT NULL THEN 1 ELSE 0 END
      |    + CASE WHEN t3_us IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
      |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin

  // ---- W6: cohort retention matrix ----------------------------------------
  // The classic product-analytics triangle: users grouped by first-
  // activity day, counted in each later day they return (day grain
  // because the events fixture spans one month; the shape is
  // grain-independent). Three shuffles, each on a shrinking frame:
  // the per-user cohort min (user_id — at this SF the result
  // broadcasts back, at 100 TB it co-partitions with the join), the
  // (cohort, offset, user) dedup (one row per user-active-day
  // survives), and the partial+final cell count whose output is the
  // k×k' matrix. Nothing ever sorts globally and no frame grows past
  // one-row-per-user-day. datediff on day-truncated timestamps is
  // integral, so the offset is exact in both engines.
  def w6Retention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
    ev.join(cohort, Seq("user_id"))
      .select(col("cohort_day"),
        datediff(col("d"), col("cohort_day")).cast("long").as("day_offset"),
        col("user_id"))
      .distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }
  val w6Sql =
    """WITH ev AS (SELECT user_id, date_trunc('day', ts) AS d
      |  FROM events WHERE ts IS NOT NULL),
      |cohort AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY user_id),
      |cells AS (SELECT DISTINCT c.cohort_day,
      |    CAST(datediff('day', c.cohort_day, e.d) AS BIGINT) AS day_offset,
      |    e.user_id
      |  FROM ev e JOIN cohort c USING (user_id))
      |SELECT cohort_day, day_offset, count(*) AS n_users
      |FROM cells GROUP BY cohort_day, day_offset
      |ORDER BY cohort_day, day_offset""".stripMargin

  // ---- W2: batch sessionization (gap > 30 min splits a session) ----------
  // lag over (user, time) marks session starts; a running sum of the
  // marks numbers sessions; grouping by (user, session) yields per-
  // session stats. Timestamps compared in epoch micros for engine-
  // exact arithmetic. One shuffle on user_id (window) + map-side
  // partial agg — the standard scalable shape (session count per user
  // is unbounded, but state per row is O(1)).
  def w2Sessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val GapUs = 30L * 60 * 1000000
    Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_sess",
        when(col("us") - lag(col("us"), 1).over(w) > GapUs, 1)
          .when(lag(col("us"), 1).over(w).isNull, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(w).cast("long"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("duration_us"))
  }
  val w2Sql =
    """WITH t AS (SELECT user_id, event_id, epoch_us(ts) us FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |m AS (SELECT user_id, event_id, us, CASE WHEN lag(us, 1) OVER w IS NULL THEN 1
      |    WHEN us - lag(us, 1) OVER w > 1800000000 THEN 1 ELSE 0 END new_sess
      |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |s AS (SELECT user_id, us, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) session_id FROM m)
      |SELECT user_id, session_id, count(*) n_events, max(us) - min(us) AS duration_us
      |FROM s GROUP BY user_id, session_id""".stripMargin

  // ---- W3: native session windows (Spark's SessionWindow operator) -------
  // Same semantics as the manual w2 chain but through the engine's
  // built-in session_window (merge while gap < 30 min; window end =
  // last event + gap) — exercises Spark's dedicated session-merge
  // physical operator, which is also the streaming-capable form.
  def w3SessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("sess_start"),
        col("sw.end").as("sess_end"), col("n_events"))
  val w3Sql =
    """WITH t AS (SELECT user_id, event_id, epoch_us(ts) us FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |m AS (SELECT user_id, event_id, us, CASE WHEN lag(us, 1) OVER w IS NULL THEN 1
      |    WHEN us - lag(us, 1) OVER w >= 1800000000 THEN 1 ELSE 0 END new_sess
      |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |s AS (SELECT user_id, us, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) sid FROM m)
      |SELECT user_id, make_timestamp(min(us)) AS sess_start,
      |  make_timestamp(max(us) + 1800000000) AS sess_end, count(*) AS n_events
      |FROM s GROUP BY user_id, sid""".stripMargin
  def f4Datetime(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("y"),
      month(col("o_orderdate")).as("m"),
      dayofmonth(col("o_orderdate")).as("d"),
      date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
      date_trunc("month", col("o_orderdate")).as("month_start"))
  val f4Sql =
    "SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y, " +
      "CAST(month(o_orderdate) AS INT) AS m, CAST(day(o_orderdate) AS INT) AS d, " +
      "strftime(o_orderdate, '%Y-%m') AS ym, date_trunc('month', o_orderdate) AS month_start " +
      "FROM orders"

  // ---- A7: conditional aggregation ----------------------------------------
  def a7ConditionalAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).agg(
      count(when(col("l_returnflag") === "R", 1)).as("n_returned"),
      Aggregates.exactSum(when(col("l_returnflag") === "R", col("l_extendedprice"))
        .otherwise(lit(0.0))).as("returned_value"),
      count(when(col("l_discount") > 0.05, 1)).as("n_discounted"))
  val a7Sql =
    "SELECT count(*) FILTER (l_returnflag = 'R') AS n_returned, " +
      s"${exactSum("CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END")} AS returned_value, " +
      "count(*) FILTER (l_discount > 0.05) AS n_discounted FROM lineitem"

  // ---- A8: pivot (wide summary; fixed pivot values keep the schema
  // static and the plan a single pass of conditional aggregates) ----------
  def a8Pivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(Aggregates.exactSum(col("l_quantity")))
      .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
  val a8Sql =
    s"""SELECT l_returnflag,
       |  ${exactSum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_f,
       |  ${exactSum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_o
       |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---- A9: scalar-subquery comparison (items above the global mean) ------
  // The aggregate is a 1-row frame cross-joined (broadcast) onto the
  // fact scan — the distributed form of `WHERE x > (SELECT avg(x) …)`.
  def a9AboveAvg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val avgPrice = li.agg(Aggregates.exactMean(col("l_extendedprice")).as("mean_price"))
    li.select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .crossJoin(broadcast(avgPrice))
      .filter(col("l_extendedprice") > col("mean_price"))
      .agg(count(lit(1)).as("n_above"))
  }
  val a9Sql =
    s"SELECT count(*) AS n_above FROM lineitem " +
      s"WHERE l_extendedprice > (SELECT ${exactMean("l_extendedprice")} FROM lineitem)"

  // ---- O6: exact percentiles (quartiles per group) ------------------------
  // Spark `percentile` and DuckDB `quantile_cont` share the
  // p·(n−1) linear-interpolation definition; on l_quantity's integral
  // values the interpolation stays dyadic-exact, so the hash compare
  // is bit-for-bit. At 100 TB exact percentile sorts per group — the
  // documented scale variant is approx_percentile (t-digest sketch,
  // one pass, mergeable) when rank error is tolerable.
  def o6Percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25)").as("q1"),
        expr("percentile(l_quantity, 0.5)").as("median"),
        expr("percentile(l_quantity, 0.75)").as("q3"))
  val o6Sql =
    "SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS q1, " +
      "quantile_cont(l_quantity, 0.5) AS median, " +
      "quantile_cont(l_quantity, 0.75) AS q3 FROM lineitem GROUP BY l_returnflag"

  // ---- O10: date-spine gap fill + forward fill ----------------------------
  // Per customer, a complete monthly spine from first to last order
  // (explode of a per-key `sequence` — fan-out proportional to span,
  // no shuffle), left-joined with the monthly totals, missing months
  // forward-filled with `last(..., ignoreNulls)` over the key-ordered
  // window. The canonical "regularize an irregular time series"
  // transform (reporting calendars, feature matrices); one shuffle on
  // the key for the window, spine rows never carry document payloads.
  def o10GapFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // monthly feeds BOTH the spine aggregate and the left join, and the
    // plan does recompute it per branch (2 scans, no exchange reuse).
    // Deliberately NOT persisted anyway: A/B at sf0.1/local[32] (r5)
    // measured cachedEager(monthly) at 5.3-5.9 s vs 5.2-5.3 s without —
    // the recomputed branch is a cheap scan+partial-agg, so an eager
    // cache materialization pass costs more than it saves. At 100 TB
    // the same A/B should be re-run: a persist pays off once the
    // orders scan dominates the branch cost.
    val monthly = Tables.orders(s, dir)
      .groupBy(col("o_custkey"), date_trunc("MONTH", col("o_orderdate")).as("m"))
      .agg(Aggregates.exactSum(col("o_totalprice")).as("m_total"))
    val spine = monthly.groupBy(col("o_custkey"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("o_custkey"),
        explode(expr("sequence(m0, m1, interval 1 month)")).as("m"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("m"))
    spine.join(monthly, Seq("o_custkey", "m"), "left")
      .select(col("o_custkey"), col("m"), col("m_total"),
        last(col("m_total"), ignoreNulls = true).over(w).as("filled_total"))
  }
  val o10Sql =
    s"""WITH monthly AS (SELECT o_custkey, date_trunc('month', o_orderdate) AS m,
       |    ${exactSum("o_totalprice")} AS m_total
       |  FROM orders GROUP BY 1, 2),
       |spine AS (SELECT o_custkey, unnest(generate_series(min_m, max_m, INTERVAL 1 MONTH)) AS m
       |  FROM (SELECT o_custkey, min(m) AS min_m, max(m) AS max_m FROM monthly GROUP BY o_custkey)),
       |j AS (SELECT s.o_custkey, s.m, mo.m_total FROM spine s LEFT JOIN monthly mo USING (o_custkey, m))
       |SELECT o_custkey, m, m_total,
       |  last_value(m_total IGNORE NULLS) OVER (PARTITION BY o_custkey ORDER BY m) AS filled_total
       |FROM j""".stripMargin

  // ---- O11: exponentially-weighted moving average (bounded-window) --------
  // Per-user EWMA (half-life = one event, zero-initialized) over the
  // last EwmaWindow events — the time-series smoothing primitive.
  // Cross-engine float determinism WITHOUT decimals: the frame's
  // values are collected in ROW ORDER (a ROWS window — both engines
  // define frame order) and the recursion s' = 0.5·s + 0.5·v runs as
  // the identical left fold; every multiply is by a power of two
  // (exact exponent shift) and the additions happen in the same
  // sequence, so the result is bit-identical by construction. Scale
  // shape: one shuffle on user_id; the fold is a bounded
  // EwmaWindow-element loop per row — no second window pass, no
  // decimal casts, no cross-row carry outside the frame.
  private val EwmaWindow = 20
  def o11Ewma(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-(EwmaWindow - 1), 0)
    Tables.events(s, dir).filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("value"),
        aggregate(collect_list(col("value")).over(w), lit(0.0),
          (acc, v) => acc * lit(0.5) + v * lit(0.5)).as("ewma"))
  }
  val o11Sql =
    s"""SELECT user_id, event_id, value,
       |  ${fold("vs", "(s, v) -> s * 0.5 + v * 0.5")} AS ewma
       |FROM (
       |  SELECT user_id, event_id, value,
       |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN ${EwmaWindow - 1} PRECEDING AND CURRENT ROW) AS vs
       |  FROM events WHERE ts IS NOT NULL) t""".stripMargin

  // ---- O12: cumulative distinct users by day ------------------------------
  // The growth curve: how many unique users has the product EVER
  // seen, by hour (hour grain: the fixture's user base saturates in
  // two days; the shape is grain-independent). Cumulative
  // count-distinct is the op warehouses struggle with; distributed it
  // decomposes into first-touch attribution — min(hour) per user (one
  // shuffle, map-side partial min) → per-bucket new counts (tiny) →
  // running sum over a GLOBAL window that is safe precisely because
  // its input cardinality is |time buckets|, not |events| (the
  // single-partition window never sees more than one row per bucket).
  // All-integer arithmetic end to end.
  def o12CumulativeUsers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstHour = Tables.events(s, dir).filter(col("ts").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(date_trunc("hour", col("ts"))).as("d"))
    firstHour.groupBy(col("d")).agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users",
        sum(col("new_users")).over(
          Window.orderBy(col("d")).rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy(col("d"))
  }
  val o12Sql =
    """WITH f AS (SELECT user_id, min(date_trunc('hour', ts)) AS d
      |  FROM events WHERE ts IS NOT NULL GROUP BY user_id),
      |daily AS (SELECT d, count(*) AS new_users FROM f GROUP BY d)
      |SELECT d, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      |FROM daily ORDER BY d""".stripMargin

  // ---- O14: event-transition matrix (first-order Markov) ------------------
  // "After a view, what happens next?" — the per-user next-event
  // window (lead over ts with the event_id total-order tiebreak for
  // equal timestamps), collapsed into (from, to) transition counts
  // and per-from-state probabilities. The heavy window partitions by
  // user_id — millions of small independent partitions at 100 TB,
  // never a global sort — and everything after it is one
  // partial+final count over ≤ |event types|² rows plus a window
  // over that same tiny frame. The probability is a single
  // bigint÷bigint double division, bit-identical across engines.
  def o14Transitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val pairs = Tables.events(s, dir).filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    pairs.withColumn("p",
      col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
  }
  val o14Sql =
    """WITH seq AS (SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events WHERE ts IS NOT NULL),
      |pairs AS (SELECT event_type AS from_type, to_type, count(*) AS n
      |  FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
      |SELECT from_type, to_type, n,
      |  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
      |FROM pairs""".stripMargin

  // ---- A16: deterministic grouped mode (argmax-by-count) ------------------
  // The most frequent value per group. Native `mode` breaks ties
  // arbitrarily (execution-order-dependent — useless against an
  // oracle and non-reproducible at scale), so this is the explicit
  // argmax: count per (group, value) — one partial+final shuffle —
  // then top-1 per group by (count desc, value asc), which plans as
  // WindowGroupLimit and prunes to one row per group map-side before
  // the window exchange. The argmax-with-total-order-tiebreak recipe
  // is the reusable part; mode is its simplest instance.
  def a16Mode(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("n_rows"))
    Ranking.topKPerGroup(
      counts, Seq("l_returnflag"),
      Seq(col("n_rows").desc, col("l_quantity").asc), 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_quantity"),
        col("n_rows"))
      .orderBy(col("l_returnflag"))
  }
  val a16Sql =
    """SELECT l_returnflag, mode_quantity, n_rows FROM (
      |  SELECT l_returnflag, l_quantity AS mode_quantity, count(*) AS n_rows,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY count(*) DESC, l_quantity) AS rn
      |  FROM lineitem GROUP BY l_returnflag, l_quantity) t
      |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin

  // ---- A15: weighted mean (decimal-exact) ---------------------------------
  // avg price weighted by quantity, the estimator every revenue
  // report needs. Determinism bound: the weighted products stay in
  // decimal with declared precisions whose PRODUCT fits under 38
  // (18,2 × 10,0 → 29,2) — a (28,4)×(28,4) product would overflow
  // Spark's 38-digit cap and round differently than DuckDB. Quantity
  // is integral-valued, so its (10,0) cast is exact. One partial+
  // final agg pass, division in double at the very end.
  def a15WeightedAvg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)")
          * col("l_quantity").cast("decimal(10,0)")).cast("double")
        / sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .as("wavg_price"))
      .orderBy(col("l_returnflag"))
  val a15Sql =
    s"""SELECT l_returnflag,
      |  ${toDouble("SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(10,0)))")}
      |    / ${exactSum("l_quantity", "DECIMAL(18,2)")} AS wavg_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- P7: winsorize (percentile clipping) --------------------------------
  // Outlier control for a numeric feature: clip to [p10, p90]. The
  // bounds are a 1-row aggregate broadcast into a per-row
  // least/greatest — the distributed form of "clip by global
  // quantiles" (never a sort, never a driver round-trip). Percentile
  // on an integral-valued column is dyadic-exact across engines (the
  // o6 recipe).
  def p7Winsorize(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val bounds = li.agg(
      expr("percentile(l_quantity, 0.1)").as("lo"),
      expr("percentile(l_quantity, 0.9)").as("hi"))
    li.crossJoin(broadcast(bounds))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        least(greatest(col("l_quantity"), col("lo")), col("hi")).as("clipped"))
  }
  val p7Sql =
    "WITH b AS (SELECT quantile_cont(l_quantity, 0.1) AS lo, " +
      "quantile_cont(l_quantity, 0.9) AS hi FROM lineitem) " +
      "SELECT l_orderkey, l_linenumber, l_quantity, " +
      "least(greatest(l_quantity, lo), hi) AS clipped FROM lineitem, b"

  // ---- A20: Benford first-digit anomaly screen -------------------------------
  // The forensic intake check for fabricated/corrupt numeric feeds:
  // leading-digit frequencies of o_totalprice against Benford's law.
  // One agg pass; output is the 9 per-digit rows (observed, expected,
  // chi-square term) with NO cross-row float total — a sum of 9
  // doubles is partial-order-dependent and would flake the hash, and
  // the per-digit profile is the actionable artifact anyway. The
  // first digit comes from the INTEGER part's string (integer
  // formatting is engine-identical; double formatting is not), and
  // the Benford probabilities are fixed literals, not log10 calls —
  // libm last-ulp variance never enters.
  private val BenfordP = Seq(
    0.30102999566398120, 0.17609125905568124, 0.12493873660829993,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)
  def a20Benford(s: SparkSession, dir: String): DataFrame = {
    val digitCol = substring(
      floor(col("o_totalprice")).cast("long").cast("string"), 1, 1).cast("int")
    val counts = Tables.orders(s, dir)
      .filter(col("o_totalprice") >= 1.0)
      .select(digitCol.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val total = counts.agg(sum(col("n_obs")).as("n_total"))
    val p = BenfordP.zipWithIndex.foldLeft(lit(0.0)) { case (acc, (pr, i)) =>
      when(col("digit") === (i + 1), lit(pr)).otherwise(acc)
    }
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n_obs"),
        (col("n_total") * p).as("expected"),
        ((col("n_obs") - col("n_total") * p) * (col("n_obs") - col("n_total") * p) /
          (col("n_total") * p)).as("chi_term"))
  }
  val a20Sql: String = {
    // Literals carry an exponent ("…e0") so DuckDB parses them as
    // DOUBLE directly: a bare 17-digit decimal parses as
    // DECIMAL(18,17) whose decimal→double cast DOUBLE-ROUNDS (the
    // mantissa exceeds 2^53), landing one ulp off Spark's literal
    val p = BenfordP.zipWithIndex
      .map { case (pr, i) => s"WHEN digit = ${i + 1} THEN ${pr}e0" }
      .mkString("CASE ", " ", " ELSE 0.0e0 END")
    s"""WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
       |  FROM orders WHERE o_totalprice >= 1.0),
       |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY digit),
       |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM c)
       |SELECT digit, n_obs, n_total * ($p) AS expected,
       |  (n_obs - n_total * ($p)) * (n_obs - n_total * ($p)) / (n_total * ($p)) AS chi_term
       |FROM c CROSS JOIN t""".stripMargin
  }

  // ---- P8: data-profiling intake report ------------------------------------
  // One row per column: null + exact distinct counts over orders —
  // the feed-trust gate before any ETL run. Exact distincts use one
  // pass with an Expand (rows × columns); Cleanse.profileApprox is
  // the no-Expand HLL form for 100 TB (accuracy-asserted in OpsSpec).
  private val ProfileCols = Seq(
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  def p8Profile(s: SparkSession, dir: String): DataFrame =
    graft.ops.Cleanse.profile(Tables.orders(s, dir), ProfileCols)
  val p8Sql: String = ProfileCols.map { c =>
    s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
       |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM orders""".stripMargin
  }.mkString("\nUNION ALL\n")

  // ---- P9: leak-free leave-one-out target encoding -------------------------
  // The categorical→numeric feature transform before model fitting
  // ([[graft.ops.Aggregates.targetEncodeLoo]]): each event's type is
  // encoded as the mean value of every OTHER event of that type —
  // (Σ_g − v)/(n_g − 1) — so no row sees its own label. One
  // category-cardinality aggregation broadcast back over the corpus;
  // exact decimal numerators, singleton categories dropped.
  def p9TargetEncode(s: SparkSession, dir: String): DataFrame =
    graft.ops.Aggregates.targetEncodeLoo(
      Tables.events(s, dir), "event_id", "event_type", "value")
  val p9Sql: String =
    s"""WITH b AS (SELECT event_id, event_type, CAST(value AS $Dec) AS vd
       |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
       |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_g, SUM(vd) AS s_g
       |  FROM b GROUP BY 1)
       |SELECT b.event_id, b.event_type,
       |  ${toDouble("s_g - vd")} / (n_g - 1) AS loo_mean
       |FROM b JOIN g USING (event_type) WHERE n_g > 1""".stripMargin

  // ---- A10: correlation via explicit decimal moments ----------------------
  // Native `corr` accumulates co-moments in floats (order-dependent
  // across engines), so this computes Pearson r from DECIMAL sums —
  // exact, association-free — then one fixed double expression shared
  // verbatim with the oracle.
  //
  // Co-moment trick: the PRODUCT of two doubles must not be cast to
  // decimal (Spark converts doubles via their shortest decimal
  // representation, DuckDB via the exact binary expansion — the
  // scale-10 roundings disagree by 1 ulp on real data, measured on
  // sxy). Instead cast each FACTOR to decimal (terminating 2-decimal
  // data → exact both engines) and multiply in decimal space, which
  // is exact by construction. (8,2)×(8,2) keeps the product at
  // precision 17 — inside BOTH engines' 64-bit decimal fast paths
  // (measured 1.5× vs wider factors, whose per-row BigDecimal math
  // made this the 2nd-slowest bench query). The oracle's final
  // decimal→double goes through VARCHAR: DuckDB's direct cast
  // double-rounds (int128 → double, then ÷10^scale) while Java's
  // BigDecimal converts correctly-rounded — the string bridge gives
  // one correctly-rounded parse on both sides.
  private val MomDec = "decimal(8,2)"
  private def mom(a: Column, b: Column): Column =
    sum(a.cast(MomDec) * b.cast(MomDec)).cast("double")
  /** [[mom]]'s oracle twin. */
  private def momSql(a: String, b: String): String =
    toDouble(s"SUM(CAST($a AS DECIMAL(8,2)) * CAST($b AS DECIMAL(8,2)))")
  def a10Corr(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    Tables.lineitem(s, dir)
      .agg(
        count(lit(1)).cast("double").as("n"),
        Aggregates.exactSum(x).as("sx"),
        Aggregates.exactSum(y).as("sy"),
        mom(x, y).as("sxy"),
        mom(x, x).as("sxx"),
        mom(y, y).as("syy"))
      .select(
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
          .as("corr_qty_price"))
  }
  val a10Sql = {
    s"WITH s AS (SELECT CAST(count(*) AS DOUBLE) AS n, ${exactSum("l_quantity")} AS sx, " +
      s"${exactSum("l_extendedprice")} AS sy, ${momSql("l_quantity", "l_extendedprice")} AS sxy, " +
      s"${momSql("l_quantity", "l_quantity")} AS sxx, ${momSql("l_extendedprice", "l_extendedprice")} AS syy " +
      "FROM lineitem) " +
      "SELECT (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)) AS corr_qty_price FROM s"
  }

  // ---- A14: grouped simple linear regression ------------------------------
  // Per-group least-squares fit (price ~ quantity per return flag)
  // from the SAME decimal-exact moment sums as A10 — the "distributed
  // ML-lite" shape: one partial+final aggregation pass computes every
  // group's model; the closed-form slope/intercept is a fixed double
  // expression shared verbatim with the oracle (IEEE-identical given
  // identical decimal-derived inputs). At 100 TB a grouped model fit
  // from sufficient statistics is one aggregation — never an
  // iterative solver, never a collect.
  def a14GroupRegression(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        Aggregates.exactSum(x).as("sx"),
        Aggregates.exactSum(y).as("sy"),
        mom(x, y).as("sxy"),
        mom(x, x).as("sxx"))
      .select(
        col("l_returnflag"),
        col("n").cast("long").as("n_rows"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        ((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("n"))
          .as("intercept"))
  }
  val a14Sql = {
    s"WITH s AS (SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n, ${exactSum("l_quantity")} AS sx, " +
      s"${exactSum("l_extendedprice")} AS sy, ${momSql("l_quantity", "l_extendedprice")} AS sxy, " +
      s"${momSql("l_quantity", "l_quantity")} AS sxx FROM lineitem GROUP BY l_returnflag) " +
      "SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows, " +
      "(n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope, " +
      "(sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n AS intercept FROM s"
  }

  // ---- A11: histogram (fixed-width binning + count) -----------------------
  // floor(x / width) on doubles is the portable binning primitive
  // (width_bucket's signature differs across engines); partial
  // aggregation makes this one (bucket, count) row per partition at
  // any scale.
  private val HistWidth = 25000.0
  def a11Histogram(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(floor(col("o_totalprice") / lit(HistWidth)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
  val a11Sql =
    s"SELECT CAST(floor(o_totalprice / $HistWidth) AS BIGINT) AS bucket, count(*) AS n " +
      "FROM orders GROUP BY 1"

  // ---- A13: typed custom Aggregator ----------------------------------------
  // The Dataset[T] API tier: a custom Aggregator with a typed (cents,
  // count) buffer ([[graft.functions.ExactCentsMean]]) computing the
  // exact mean of 2-decimal prices via integer accumulation. The
  // oracle replays the identical cents arithmetic.
  def a13TypedMean(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select(col("o_totalprice")).as[Double]
      .select(graft.functions.ExactCentsMean.toColumn.name("mean_price"))
      .toDF("mean_price")
  }
  val a13Sql =
    "SELECT CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / (100.0 * count(*)) AS mean_price FROM orders"

  // ---- A12: cube (all grouping-set combinations) --------------------------
  // rollup's sibling: 2^k grouping sets, still partial+final aggregated
  // per set — the full OLAP subtotal lattice in one pass.
  // (prices sum at their TRUE scale — DECIMAL(28,2) — like q1: at
  // scale 10 the two engines' double→decimal conversions capture
  // different noise digits for magnitudes ≳1e6)
  def a12Cube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(28,2)")).cast("double").as("sum_price"))
  val a12Sql =
    "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
      s"${exactSum("l_extendedprice", "DECIMAL(28,2)")} AS sum_price " +
      "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"

  // ---- O7: ranking-function family -----------------------------------------
  // rank / dense_rank / percent_rank / cume_dist / ntile over a
  // totally-ordered window (price desc, orderkey tiebreak) — formula
  // semantics are identical across engines once the order is total.
  def o7RankFamily(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir).select(
      col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
      rank().over(w).cast("long").as("rnk"),
      dense_rank().over(w).cast("long").as("drnk"),
      percent_rank().over(w).as("prnk"),
      cume_dist().over(w).as("cd"),
      ntile(4).over(w).cast("long").as("quartile"))
  }
  val o7Sql =
    "SELECT o_orderpriority, o_orderkey, o_totalprice, " +
      "CAST(rank() OVER w AS BIGINT) AS rnk, " +
      "CAST(dense_rank() OVER w AS BIGINT) AS drnk, " +
      "percent_rank() OVER w AS prnk, " +
      "cume_dist() OVER w AS cd, " +
      "CAST(ntile(4) OVER w AS BIGINT) AS quartile " +
      "FROM orders WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)"

  // ---- U2: bag semantics (EXCEPT ALL / INTERSECT ALL) ----------------------
  // u1's set ops dedup; the ALL variants preserve multiplicity — the
  // difference that matters when keys legitimately repeat.
  def u2BagOps(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    def keysFor(p: String) =
      orders.filter(col("o_orderpriority") === p).select(col("o_custkey"))
    val urgent = keysFor("1-URGENT")
    val low = keysFor("5-LOW")
    urgent.exceptAll(low).withColumn("which", lit("except_all"))
      .unionByName(urgent.intersectAll(low).withColumn("which", lit("intersect_all")))
      .select(col("which"), col("o_custkey"))
  }
  val u2Sql = {
    def k(p: String) = s"SELECT o_custkey FROM orders WHERE o_orderpriority = '$p'"
    s"SELECT 'except_all' AS which, o_custkey FROM (${k("1-URGENT")} EXCEPT ALL ${k("5-LOW")}) " +
      s"UNION ALL SELECT 'intersect_all', o_custkey FROM (${k("1-URGENT")} INTERSECT ALL ${k("5-LOW")})"
  }

  // ---- Q1: TPC-H-style pricing summary (composed analytical query) -------
  // Multi-aggregate grouped summary with a per-row arithmetic term:
  // the extendedprice·(1-discount) product is IEEE double in both
  // engines, then accumulated through the exact decimal path.
  // Monetary values are summed at the data's TRUE scale (DECIMAL(28,2)
  // for 2-decimal prices, (28,4) for price·discount products) rather
  // than (28,10): Spark's double→decimal cast goes through the
  // shortest round-trip string (BigDecimal.valueOf) while DuckDB
  // expands the exact binary value, so at scale 10 the two capture
  // different noise digits once |value|·2⁻⁵³ crosses the 1e-10 grid
  // (~1e6 magnitudes). At the true scale the noise is far below the
  // rounding threshold and both engines produce the identical decimal.
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).filter(col("l_shipdate") <= lit("1999-12-01"))
    val discPrice = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(28,4)")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Aggregates.exactSum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(28,2)")).cast("double")
          .as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        Aggregates.exactMean(col("l_quantity")).as("avg_qty"),
        Aggregates.exactMean(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag").asc, col("l_linestatus").asc)
  }
  val q1Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${exactSum("l_quantity")} AS sum_qty,
       |  ${exactSum("l_extendedprice", "DECIMAL(28,2)")} AS sum_base_price,
       |  ${exactSum("l_extendedprice * (1.0 - l_discount)", "DECIMAL(28,4)")} AS sum_disc_price,
       |  ${exactMean("l_quantity")} AS avg_qty,
       |  ${exactMean("l_discount")} AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
       |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- Q3: TPC-H-style shipping priority (join + group + top-k) ----------
  // Star join with both dims filtered, grouped revenue, distributed
  // top-10 — the canonical "analytical funnel" composition.
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1998-01-01")
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("o_custkey"))
    val ord = Tables.orders(s, dir).filter(col("o_orderdate") < cut)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables.lineitem(s, dir).filter(col("l_shipdate") > cut)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    // same 4-decimal exactness argument as q1
    val revenue = sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(28,4)")).cast("double").as("revenue")
    val grouped = li
      .join(ord.join(broadcast(cust), Seq("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(revenue)
    Ranking.topK(grouped,
      Seq(col("revenue").desc, col("l_orderkey").asc), 10)
  }
  val q3Sql =
    s"""SELECT l_orderkey, o_orderdate,
       |  ${exactSum("l_extendedprice * (1.0 - l_discount)", "DECIMAL(28,4)")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // ---- Q18: large-volume orders (HAVING subquery + 3-way join + top-k) ---
  // The "group, threshold, rejoin" composition: per-order quantity
  // totals filtered by HAVING, then joined back to orders + customer
  // for the top-100 report. Spark expresses the IN-subquery as a
  // plain inner join against the (already aggregated, small) big-order
  // frame — partial+final agg on l_orderkey, customer broadcast, top-k
  // via TakeOrderedAndProject. The oracle keeps the IN ... HAVING
  // formulation — independent shapes, identical rows.
  private val Q18MinQty = 250.0
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(Aggregates.exactSum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > Q18MinQty)
    val ord = Tables.orders(s, dir).select(
      col("o_orderkey").as("l_orderkey"), col("o_custkey"),
      col("o_orderdate"), col("o_totalprice"))
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_name"))
    Ranking.topK(
      big.join(ord, Seq("l_orderkey")).join(broadcast(cust), Seq("o_custkey"))
        .select(col("c_name"), col("o_custkey"), col("l_orderkey").as("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 100)
  }
  val q18Sql =
    s"""WITH big AS (SELECT l_orderkey, ${exactSum("l_quantity")} AS sum_qty
       |  FROM lineitem GROUP BY l_orderkey HAVING ${exactSum("l_quantity")} > $Q18MinQty)
       |SELECT c_name, o_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
       |FROM orders JOIN big ON o_orderkey = big.l_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE o_orderkey IN (SELECT l_orderkey FROM big)
       |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // ---- Q5: local-supplier volume via the spark.sql(...) API tier -----------
  // The engine's SQL-string entry point: temp views over the sources,
  // then one multi-way-join aggregation authored in SQL. Catalyst
  // plans the string identically to the DataFrame API (same join
  // reorder, pushdown, partial aggregation), so this is API-surface
  // coverage, not a separate execution path. Revenue sums through
  // DECIMAL(28,4) per the house exactness recipe.
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    Seq(
      "customer" -> Tables.customer(s, dir), "orders" -> Tables.orders(s, dir),
      "lineitem" -> Tables.lineitem(s, dir), "supplier" -> Tables.supplier(s, dir),
      "nation" -> Tables.nation(s, dir), "region" -> Tables.region(s, dir))
      .foreach { case (n, df) => df.createOrReplaceTempView(s"graft_$n") }
    s.sql(
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        |FROM graft_customer JOIN graft_orders ON c_custkey = o_custkey
        |JOIN graft_lineitem ON l_orderkey = o_orderkey
        |JOIN graft_supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN graft_nation ON s_nationkey = n_nationkey
        |JOIN graft_region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)
  }
  val q5Sql =
    s"""SELECT n_name,
      |  ${exactSum("l_extendedprice * (1.0 - l_discount)", "DECIMAL(28,4)")} AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // ---- Q6: forecasting-revenue change (pure scan-side aggregation) --------
  // The TPC-H query with NO join at all: three pushable predicates and
  // one product-sum. Its whole value is the plan — every filter must
  // reach the parquet scan (range + between + less-than all appear in
  // PushedFilters) and the sum must partial-aggregate map-side, so the
  // 100 TB form reads only three columns and ships one partial row per
  // task. Discount literals compare exactly: both engines parse 0.05
  // to the same IEEE double the data itself stores.
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(
        col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice") * col("l_discount")).cast("decimal(28,4)"))
        .cast("double").as("revenue"))
  val q6Sql =
    s"""SELECT ${exactSum("l_extendedprice * l_discount", "DECIMAL(28,4)")} AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  // ---- Q10: returned-item reporting (4-way join + grouped top-20) ---------
  // Which customers returned the most revenue in a quarter: lineitem
  // (returnflag filter, pushed) joins quarter-filtered orders on the
  // order key, the per-customer revenue aggregates BEFORE the customer
  // dimension attaches (agg on the narrow key first, then broadcast
  // joins for name/acctbal/nation — at 100 TB the heavy join output
  // never carries dimension strings), and the report is a distributed
  // top-20 (TakeOrderedAndProject) with a total-order tiebreak.
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,4)").as("disc_price"))
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1996-04-01"))
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey").as("c_custkey"))
    val perCust = li.join(ord, Seq("l_orderkey"))
      .groupBy(col("c_custkey"))
      .agg(sum(col("disc_price")).cast("double").as("revenue"))
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    val nat = Tables.nation(s, dir)
      .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
    Ranking.topK(
      perCust.join(broadcast(cust), Seq("c_custkey"))
        .join(broadcast(nat), Seq("c_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name")),
      Seq(col("revenue").desc, col("c_custkey").asc), 20)
  }
  val q10Sql =
    s"""SELECT c_custkey, c_name,
      |  ${exactSum("l_extendedprice * (1.0 - l_discount)", "DECIMAL(28,4)")} AS revenue,
      |  c_acctbal, n_name
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // ---- A18: exact heavy hitters via a Misra–Gries candidate pass ----------
  // The scale-correct form of "which keys dominate the stream": a
  // bounded-state sketch pass ([[graft.functions.MisraGries]], k=128
  // counters per partition, mergeable per PODS'12) yields ≤ k
  // candidate keys with GUARANTEED recall of every key with true
  // frequency > n/(k+1); an exact rescan then counts only those
  // candidates (broadcast left-semi — the fact table never groups on
  // the full key domain) and keeps keys strictly above the bound.
  // The sketch is load-bearing for correctness: if MG ever dropped a
  // true heavy hitter, the semi-join would lose that row and the
  // hash would diverge from the oracle's plain GROUP BY/HAVING.
  // At 100 TB: state is O(k) per partition, one ≤ k-row broadcast,
  // one partial+final count over the semi-joined (tiny) survivor
  // set — no shuffle ever carries the full key cardinality.
  private val HhK = 128
  def a18HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select(col("user_id"))
    val cand = ev.as[Long]
      .select(new graft.functions.MisraGries(HhK).toColumn.name("cand"))
      .toDF("cand")
      .select(explode(col("cand")).as("user_id"))
    val total = ev.agg(count(lit(1)).as("n_total"))
    ev.join(broadcast(cand), Seq("user_id"), "left_semi")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") > expr(s"n_total div ${HhK + 1}"))
      .select(col("user_id"), col("cnt"))
  }
  val a18Sql =
    s"SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id " +
      s"HAVING count(*) > (SELECT count(*) FROM events) // ${HhK + 1}"

  // ---- A19: two-sample Kolmogorov–Smirnov drift gate -----------------------
  // Distribution drift between two event populations ('click' vs
  // 'purchase' spend), the pre-training intake check. Integer-exact:
  // ks_num = max |n2·C1 − n1·C2| over BIGINT cumulative counts, one
  // double division at the end. The ECDF runs as a two-phase prefix
  // sum (the Packing pattern) keyed on floor(value / 8) — no
  // single-partition window over the distinct-value domain, which for
  // a double column is table-sized. Oracle replays the plain
  // window-cumsum form, so the blocked decomposition is proven equal
  // to the serial ECDF every round.
  private val KsBlockWidth = 8.0
  def a19KsDrift(s: SparkSession, dir: String): DataFrame =
    graft.ops.Aggregates.ksDrift(
      Tables.events(s, dir), "event_type", "value", "click", "purchase",
      KsBlockWidth)
  val a19Sql =
    """WITH pv AS (
      |  SELECT value AS v,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
      |  FROM events WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
      |  GROUP BY value),
      |cum AS (SELECT v,
      |    SUM(c1) OVER (ORDER BY v) AS cum1,
      |    SUM(c2) OVER (ORDER BY v) AS cum2 FROM pv),
      |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM pv)
      |SELECT n1, n2,
      |  CAST(MAX(ABS(n2 * cum1 - n1 * cum2)) AS BIGINT) AS ks_num,
      |  CAST(CAST(MAX(ABS(n2 * cum1 - n1 * cum2)) AS BIGINT) AS DOUBLE) / (n1 * n2) AS ks_stat
      |FROM cum CROSS JOIN tot GROUP BY n1, n2""".stripMargin

  // ---- A21: two-sample chi-square drift over value buckets -----------------
  // The bucket-based half of the drift gate beside a19's KS: the
  // engine computes chi² via the BIGINT-exact cross-product identity
  // D_b = c1·n2 − c2·n1 (Aggregates.chiSquareDrift); the oracle
  // replays the identical expansion — per-bucket double terms, the
  // VARCHAR→DECIMAL(28,10) sum, one final double division.
  def a21ChiDrift(s: SparkSession, dir: String): DataFrame =
    graft.ops.Aggregates.chiSquareDrift(
      Tables.events(s, dir), "event_type", "value", "click", "purchase",
      KsBlockWidth)
  val a21Sql =
    s"""WITH pb AS (
       |  SELECT CAST(floor(value / CAST($KsBlockWidth AS DOUBLE)) AS BIGINT) AS bucket,
       |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
       |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
       |  FROM events WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
       |  GROUP BY 1),
       |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM pb),
       |terms AS (SELECT n1, n2,
       |    CAST(CAST(
       |      (CAST(c1 * n2 - c2 * n1 AS DOUBLE) * CAST(c1 * n2 - c2 * n1 AS DOUBLE))
       |        / CAST(c1 + c2 AS DOUBLE) AS VARCHAR) AS $Dec) AS td
       |  FROM pb CROSS JOIN tot)
       |SELECT n1, n2, CAST(count(*) AS BIGINT) AS n_buckets,
       |  ${toDouble("SUM(td)")}
       |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS chi2
       |FROM terms GROUP BY n1, n2""".stripMargin

  // ---- A22: MAD outlier gate (robust per-group anomaly counts) -------------
  // The robust twin of a mean/stddev rule: |x − median| > 3·MAD per
  // event type, with both medians EXACT lower order statistics
  // ([[graft.ops.Aggregates.madOutliers]] — identical total order
  // (value, event_id) in both engines, no interpolation, so the
  // flag boundary is bit-exact).
  def a22MadOutliers(s: SparkSession, dir: String): DataFrame =
    graft.ops.Aggregates.madOutliers(
      Tables.events(s, dir), "event_type", "value", "event_id")
      .withColumnRenamed("g", "event_type")
  val a22Sql =
    s"""WITH b AS (SELECT event_type AS g, value AS v, event_id AS id
       |  FROM events WHERE value IS NOT NULL),
       |m1 AS (SELECT g, v AS med FROM (
       |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v, id) AS rn,
       |    count(*) OVER (PARTITION BY g) AS n FROM b) t WHERE rn = (n + 1) // 2),
       |d AS (SELECT b.g, b.v, b.id, m1.med, abs(b.v - m1.med) AS dv FROM b JOIN m1 USING (g)),
       |m2 AS (SELECT g, dv AS mad FROM (
       |  SELECT g, dv, row_number() OVER (PARTITION BY g ORDER BY dv, id) AS rn,
       |    count(*) OVER (PARTITION BY g) AS n FROM d) t WHERE rn = (n + 1) // 2)
       |SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n, med, mad,
       |  CAST(sum(CASE WHEN dv > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |FROM d JOIN m2 USING (g) GROUP BY g, med, mad""".stripMargin

  // ---- A23: Count-Min Sketch heavy-key frequency estimation ----------------
  // Fixed-size frequency sketch vs exact truth for the top-20 part
  // keys ([[graft.ops.Aggregates.cmsHeavyHitters]]). depth=4 rows ×
  // width=256 counters over 2 000 distinct keys forces real
  // collisions, so the estimate-vs-truth gap the CMS bound promises
  // (cms_n ≥ true_n, overshoot ≤ collisions) is visible in the
  // output and replayed hash-exactly by the oracle (same md5 bucket
  // math on both engines).
  private val CmsDepth = 4
  private val CmsWidth = 256
  private val CmsTopK = 20
  def a23CmsFrequency(s: SparkSession, dir: String): DataFrame =
    graft.ops.Aggregates.cmsHeavyHitters(
      Tables.lineitem(s, dir), "l_partkey", CmsDepth, CmsWidth, CmsTopK)
  val a23Sql = {
    val bkt = md5Int("'cms' || CAST(i AS VARCHAR) || '_' || CAST(l_partkey AS VARCHAR)")
    s"""WITH hs AS (SELECT l_partkey, i, $bkt % $CmsWidth AS b
       |  FROM lineitem CROSS JOIN (SELECT unnest(range($CmsDepth)) AS i)),
       |sk AS (SELECT i AS h, b, count(*) AS c FROM hs GROUP BY 1, 2),
       |top AS (SELECT l_partkey, true_n FROM (
       |  SELECT l_partkey, count(*) AS true_n,
       |    row_number() OVER (ORDER BY count(*) DESC, l_partkey) AS rk
       |  FROM lineitem GROUP BY l_partkey) t WHERE rk <= $CmsTopK),
       |pr AS (SELECT t.l_partkey, t.true_n, i AS h,
       |    ${md5Int("'cms' || CAST(i AS VARCHAR) || '_' || CAST(t.l_partkey AS VARCHAR)")} % $CmsWidth AS b
       |  FROM top t CROSS JOIN (SELECT unnest(range($CmsDepth)) AS i))
       |SELECT pr.l_partkey, pr.true_n, CAST(min(sk.c) AS BIGINT) AS cms_n
       |FROM pr JOIN sk USING (h, b)
       |GROUP BY pr.l_partkey, pr.true_n""".stripMargin
  }

  // ---- A24: CUSUM drift over daily revenue ---------------------------------
  // Sequential change detection beside the distributional gates
  // (A19 KS, A21 chi-square): accumulated positive deviation of
  // daily order revenue from the period mean, integer-cents exact
  // ([[graft.ops.Aggregates.cusumDrift]] — closed-form prefix-sum
  // CUSUM, no sequential fold).
  def a24CusumDrift(s: SparkSession, dir: String): DataFrame =
    graft.ops.Aggregates.cusumDrift(
      Tables.orders(s, dir), "o_orderdate", "o_totalprice")
  val a24Sql =
    s"""WITH d AS (SELECT date_trunc('day', o_orderdate) AS day,
       |    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS r
       |  FROM orders GROUP BY 1),
       |t AS (SELECT count(*) AS n, SUM(r) AS t FROM d),
       |z AS (SELECT day, r * n - t.t AS z, t.t FROM d CROSS JOIN t),
       |c AS (SELECT day, t,
       |    SUM(z) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
       |  FROM z),
       |s AS (SELECT day, t,
       |    cs - MIN(cs) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_cents
       |  FROM c)
       |SELECT day, CAST(s_cents AS BIGINT) AS s_cents, s_cents * 2 > t AS drift FROM s""".stripMargin

  // ---- P10: declarative data-quality expectations --------------------------
  // The Deequ-shaped intake contract ([[graft.ops.Cleanse
  // .expectations]]): five named constraints over orders evaluated in
  // one aggregation pass, emitted as the verdict report a pipeline
  // gates its load on. The uniqueness check is EXPECTED to pass and
  // the rest to pass/fail on the data as-is — the report itself is
  // the oracle-compared artifact, so a silently drifting metric or
  // flipped verdict diverges the hash.
  def p10Expectations(s: SparkSession, dir: String): DataFrame =
    graft.ops.Cleanse.expectations(Tables.orders(s, dir), Seq(
      graft.ops.Cleanse.Complete("o_custkey", 0.95),
      graft.ops.Cleanse.Complete("o_totalprice", 0.99),
      graft.ops.Cleanse.Unique("o_orderkey"),
      graft.ops.Cleanse.InRange("o_totalprice", 0.0, 1000000.0),
      graft.ops.Cleanse.InSet("o_orderstatus", Seq("F", "O", "P"))))
  val p10Sql: String =
    """SELECT 'complete' AS check, 'o_custkey' AS column_name,
      |  CAST(count(o_custkey) AS DOUBLE) / count(*) AS metric,
      |  CAST(0.95 AS DOUBLE) AS threshold,
      |  CAST(count(o_custkey) AS DOUBLE) / count(*) >= 0.95 AS passed FROM orders
      |UNION ALL
      |SELECT 'complete', 'o_totalprice',
      |  CAST(count(o_totalprice) AS DOUBLE) / count(*), CAST(0.99 AS DOUBLE),
      |  CAST(count(o_totalprice) AS DOUBLE) / count(*) >= 0.99 FROM orders
      |UNION ALL
      |SELECT 'unique', 'o_orderkey',
      |  CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS DOUBLE), 0.0,
      |  count(o_orderkey) = count(DISTINCT o_orderkey) FROM orders
      |UNION ALL
      |SELECT 'in_range[0.0,1000000.0]', 'o_totalprice',
      |  CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
      |    AND (o_totalprice < 0.0 OR o_totalprice > 1000000.0) THEN 1 ELSE 0 END) AS DOUBLE),
      |  0.0,
      |  SUM(CASE WHEN o_totalprice IS NOT NULL
      |    AND (o_totalprice < 0.0 OR o_totalprice > 1000000.0) THEN 1 ELSE 0 END) = 0 FROM orders
      |UNION ALL
      |SELECT 'in_set', 'o_orderstatus',
      |  CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
      |    AND o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END) AS DOUBLE),
      |  0.0,
      |  SUM(CASE WHEN o_orderstatus IS NOT NULL
      |    AND o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END) = 0 FROM orders""".stripMargin

  // ---- P13: cross-table referential-integrity audit --------------------------
  // The OTHER half of the intake contract p10 can't see: single-table
  // expectations never catch a fact row pointing at a missing
  // dimension key. One report row per declared relationship —
  // (child rows, orphan rows, distinct orphan keys) — each check a
  // LEFT-ANTI join against the parent's DISTINCT keys: the parent
  // side semi-reduces to key cardinality before it broadcasts (or
  // shuffles, for a billion-key parent), counts partial-agg
  // map-side, and the orphan ROWS are never materialized — at 100 TB
  // each relationship costs one fact scan + one key-sized build, and
  // the checks are independent jobs that interleave. The five real
  // relationships are expected-clean (the all-zero row IS the
  // verdict); the sixth audits a deterministically CORRUPTED parent
  // (customer minus %13 keys — simulated partial dim loss) so the
  // detector's non-zero path is oracle-locked too.
  def p13RefIntegrity(s: SparkSession, dir: String): DataFrame = {
    def check(rel: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame = {
      val childK = child.select(col(key)).filter(col(key).isNotNull)
      val orphans = childK
        .join(parent.select(col(pkey).as(key)).distinct(), Seq(key), "left_anti")
      childK.agg(count(lit(1)).as("n_child")).crossJoin(
        orphans.agg(count(lit(1)).as("n_orphans"),
          countDistinct(col(key)).as("n_orphan_keys")))
        .select(lit(rel).as("relationship"),
          col("n_child"), col("n_orphans"), col("n_orphan_keys"))
    }
    val (li, o, c) = (Tables.lineitem(s, dir), Tables.orders(s, dir),
      Tables.customer(s, dir))
    val n = Tables.nation(s, dir)
    Seq(
      check("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
      check("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
      check("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
      check("supplier.s_nationkey->nation",
        Tables.supplier(s, dir), "s_nationkey", n, "n_nationkey"),
      check("nation.n_regionkey->region",
        n, "n_regionkey", Tables.region(s, dir), "r_regionkey"),
      check("orders.o_custkey->customer[corrupted]",
        o, "o_custkey", c.filter(col("c_custkey") % 13 =!= 0), "c_custkey"))
      .reduce(_ union _)
  }
  val p13Sql: String = {
    def rel(name: String, child: String, key: String,
        parent: String, pkey: String, parentWhere: String = ""): String =
      s"""SELECT '$name' AS relationship,
         |  CAST(count(*) AS BIGINT) AS n_child,
         |  CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM $parent p
         |      WHERE p.$pkey = c.$key $parentWhere) THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
         |  CAST(count(DISTINCT CASE WHEN NOT EXISTS (SELECT 1 FROM $parent p
         |      WHERE p.$pkey = c.$key $parentWhere) THEN c.$key END) AS BIGINT) AS n_orphan_keys
         |FROM $child c WHERE c.$key IS NOT NULL""".stripMargin
    Seq(
      rel("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      rel("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      rel("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      rel("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      rel("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
      rel("orders.o_custkey->customer[corrupted]", "orders", "o_custkey",
        "customer", "c_custkey", "AND p.c_custkey % 13 <> 0"))
      .mkString("\nUNION ALL\n")
  }

  // ---- A25: KMV distinct-count sketch vs exact truth -----------------------
  // The k smallest md5 hash values of l_partkey estimate its NDV
  // ([[graft.ops.Aggregates.kmvDistinct]]): k=256 over ~2 000
  // distinct keys gives a real (visible-error) estimate the oracle
  // replays bit-exactly — the engine-portable cardinality sketch
  // (native HLL internals can never be oracle-paired).
  private val KmvK = 256
  def a25KmvDistinct(s: SparkSession, dir: String): DataFrame =
    graft.ops.Aggregates.kmvDistinct(Tables.lineitem(s, dir), "l_partkey", KmvK)
  val a25Sql: String = {
    val h = md5Int("'kmv_' || CAST(l_partkey AS VARCHAR)")
    s"""WITH h AS (SELECT DISTINCT $h AS h FROM lineitem WHERE l_partkey IS NOT NULL),
       |km AS (SELECT max(h) AS h_k, CAST(count(*) AS BIGINT) AS n_min
       |  FROM (SELECT h FROM h ORDER BY h LIMIT $KmvK)),
       |t AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS true_ndv
       |  FROM lineitem WHERE l_partkey IS NOT NULL)
       |SELECT CAST($KmvK AS BIGINT) AS k, h_k,
       |  CASE WHEN n_min < $KmvK THEN CAST(n_min AS DOUBLE)
       |       ELSE ${(KmvK - 1).toDouble} * 4294967296.0 / h_k END AS est_ndv,
       |  true_ndv
       |FROM km CROSS JOIN t""".stripMargin
  }

  // ---- S19: incremental materialized-rollup maintenance --------------------
  // The refresh shape a 100 TB fact table forces ([[graft.ops
  // .Materialize]]): the standing daily rollup is MATERIALIZED (here:
  // written to scratch parquet and read back — a real storage
  // round-trip, not a cached lineage), and a new slice lands by
  // aggregating ONLY that slice and merging mergeable partial states
  // (count/sum add, min/max reduce) into the stored table. History is
  // never rescanned: the refresh cost is O(|delta|) + O(|rollup
  // keys|), independent of fact-table size. All metrics BIGINT
  // (cents-scaled), so merge ≡ full recompute bit-for-bit — and the
  // oracle IS the full recompute, making the maintenance law itself
  // the driver-gated artifact.
  private[graft] val S19Cutoff = "2001-01-01"
  def s19RollupIncremental(s: SparkSession, dir: String): DataFrame = {
    val facts = Tables.orders(s, dir).select(
      date_trunc("DAY", col("o_orderdate")).as("day"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val cut = lit(S19Cutoff).cast("timestamp")
    val stored = Sink.scratchDir("s19_rollup") + "/daily"
    Materialize.rollup(facts.filter(col("day") < cut), "day", col("cents"))
      .write.mode("overwrite").parquet(stored)
    val base = Ingest.parquet(s, stored)
    val delta = Materialize.rollup(facts.filter(col("day") >= cut), "day", col("cents"))
    Materialize.merge(base, delta, "day")
  }
  val s19Sql =
    """SELECT date_trunc('day', o_orderdate) AS day,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS n_m,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_m,
      |  CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_m,
      |  CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_m
      |FROM orders GROUP BY 1""".stripMargin

  // ---- S21: incremental NDV maintenance via mergeable KMV sketches ---------
  // The stat s19's scaladoc rules OUT of the count/sum/min/max merge
  // law — distinct customers per month — maintained incrementally
  // anyway by swapping exact NDV for its mergeable sketch
  // ([[graft.ops.Materialize.ndvSketch]]): the stored rollup keeps
  // the k smallest distinct key hashes per month (a ≤ k-element
  // array column), a delta slice merges in O(k) per key, and the
  // estimator finishes bit-exactly on both engines (a25's md5 + min-k
  // discipline, per group). Same storage round-trip as s19; the
  // oracle is the full per-month recompute.
  private val S21K = 64
  def s21RollupNdv(s: SparkSession, dir: String): DataFrame = {
    val facts = Tables.orders(s, dir).select(
      date_trunc("MONTH", col("o_orderdate")).as("month"), col("o_custkey"))
    val cut = lit(S19Cutoff).cast("timestamp")
    val stored = Sink.scratchDir("s21_ndv") + "/monthly"
    Materialize.ndvSketch(
      facts.filter(col("month") < cut), "month", "o_custkey", S21K)
      .write.mode("overwrite").parquet(stored)
    val delta = Materialize.ndvSketch(
      facts.filter(col("month") >= cut), "month", "o_custkey", S21K)
    Materialize.ndvEstimate(
      Materialize.mergeNdv(Ingest.parquet(s, stored), delta, "month", S21K),
      "month", S21K)
  }
  val s21Sql =
    s"""WITH hs AS (SELECT DISTINCT date_trunc('month', o_orderdate) AS month,
       |    ${md5Int("'kmv_' || CAST(o_custkey AS VARCHAR)")} AS h
       |  FROM orders WHERE o_custkey IS NOT NULL),
       |mk AS (SELECT month, h FROM (
       |  SELECT month, h, row_number() OVER (PARTITION BY month ORDER BY h) AS rk FROM hs)
       |  WHERE rk <= $S21K),
       |s AS (SELECT month, CAST(count(*) AS BIGINT) AS n_min, max(h) AS h_k
       |  FROM mk GROUP BY month)
       |SELECT month, n_min, h_k,
       |  CASE WHEN n_min < $S21K THEN CAST(n_min AS DOUBLE)
       |       ELSE ${(S21K - 1).toDouble} * 4294967296.0 / h_k END AS est_ndv
       |FROM s""".stripMargin

  // ---- S32: incremental QUANTILE maintenance via mergeable sampled sketches --
  // The LAST stat family with no incremental story (r14 VERDICT Next
  // #7): exact percentiles (o15/p11) are two-pass and non-mergeable —
  // a refresh would rescan history. The mergeable swap is
  // [[graft.ops.Materialize.quantileSketch]]: per month, the k
  // smallest rows under a deterministic (md5(id), value) order — a
  // uniform without-replacement sample whose min-k merges exactly
  // (multiset min-k of a union = min-k of the concatenated sketches),
  // so base ⊕ delta ≡ whole-table rebuild BIT-EXACTLY and the stored
  // sketch refreshes in O(|delta| + k·|keys|), history never
  // rescanned. Quartile estimates are type-1 order statistics of the
  // sample (pure BIGINT ranks, no interpolation) — the oracle replays
  // the whole-table sketch, which only matches if the merge law holds.
  // Accuracy is the sampling bound (~n/√k rank error, law-tested);
  // k dials it without changing the maintenance cost shape.
  private[graft] val S32K = 64
  def s32RollupQuantile(s: SparkSession, dir: String): DataFrame = {
    val facts = Tables.orders(s, dir).select(
      date_trunc("MONTH", col("o_orderdate")).as("month"),
      col("o_orderkey"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val cut = lit(S19Cutoff).cast("timestamp")
    val stored = Sink.scratchDir("s32_quantile") + "/monthly"
    Materialize.quantileSketch(
      facts.filter(col("month") < cut), "month", "o_orderkey", "cents", S32K)
      .write.mode("overwrite").parquet(stored)
    val delta = Materialize.quantileSketch(
      facts.filter(col("month") >= cut), "month", "o_orderkey", "cents", S32K)
    Materialize.quantileEstimate(
      Materialize.mergeQuantile(Ingest.parquet(s, stored), delta, "month", S32K),
      "month")
  }
  val s32Sql =
    s"""WITH hv AS (SELECT date_trunc('month', o_orderdate) AS month,
       |    ${md5Int("'qsk_' || CAST(o_orderkey AS VARCHAR)")} AS h,
       |    CAST(floor(o_totalprice * 100) AS BIGINT) AS v
       |  FROM orders WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL),
       |mk AS (SELECT month, h, v FROM (
       |  SELECT month, h, v, row_number() OVER (PARTITION BY month ORDER BY h, v) AS rk FROM hv)
       |  WHERE rk <= $S32K),
       |s AS (SELECT month, v, row_number() OVER (PARTITION BY month ORDER BY v) AS rk,
       |    count(*) OVER (PARTITION BY month) AS ns FROM mk)
       |SELECT month, CAST(max(ns) AS BIGINT) AS n_s,
       |  CAST(max(CASE WHEN rk = ((ns - 1) * 1) // 4 + 1 THEN v END) AS BIGINT) AS est_p25,
       |  CAST(max(CASE WHEN rk = ((ns - 1) * 2) // 4 + 1 THEN v END) AS BIGINT) AS est_p50,
       |  CAST(max(CASE WHEN rk = ((ns - 1) * 3) // 4 + 1 THEN v END) AS BIGINT) AS est_p75
       |FROM s GROUP BY month""".stripMargin

  // ---- S42: incremental TOP-K (leaderboard) maintenance ----------------------
  // The EXACT sibling of s32's sampled quantiles: extremes survive
  // truncation (top-k of a union = top-k of concatenated top-ks under
  // the (cents desc, orderkey) total order), so the standing
  // per-priority leaderboard refreshes from the delta's top-k alone —
  // O(|delta| + k·|keys|) per refresh, history never rescanned, and
  // the result is EXACT, no sampling bound. Storage round-trip as in
  // s19; the oracle is the whole-table window recompute, which only
  // matches if the merge law holds.
  private[graft] val S42K = 7
  def s42TopkMaintain(s: SparkSession, dir: String): DataFrame = {
    val facts = Tables.orders(s, dir).select(
      col("o_orderpriority"), col("o_orderkey"), col("o_orderdate"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val cut = lit(S19Cutoff).cast("timestamp")
    val stored = Sink.scratchDir("s42_topk") + "/prio"
    Materialize.topkRollup(
      facts.filter(col("o_orderdate") < cut).drop("o_orderdate"),
      "o_orderpriority", "cents", "o_orderkey", S42K)
      .write.mode("overwrite").parquet(stored)
    val delta = Materialize.topkRollup(
      facts.filter(col("o_orderdate") >= cut).drop("o_orderdate"),
      "o_orderpriority", "cents", "o_orderkey", S42K)
    Materialize.mergeTopk(
      Ingest.parquet(s, stored), delta, "o_orderpriority", "cents", "o_orderkey", S42K)
      .select(col("o_orderpriority"), col("o_orderkey"), col("cents"),
        col("rk").cast("long").as("rk"))
  }
  val s42Sql =
    s"""SELECT o_orderpriority, o_orderkey, cents, rk FROM (
       |  SELECT o_orderpriority, o_orderkey,
       |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
       |    CAST(row_number() OVER (PARTITION BY o_orderpriority
       |      ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT) DESC, o_orderkey)
       |      AS BIGINT) AS rk
       |  FROM orders
       |  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL) t
       |WHERE rk <= $S42K""".stripMargin

  // ---- S20: snapshot (time-travel) read over the SCD2 history --------------
  // The consumption side of s14: the dimension AS OF a fixed instant
  // ([[graft.ops.Relational.snapshotAt]]) — one covering version row
  // per key, keys born later absent. A pure interval filter pushed at
  // the history scan: no join, no window, no second shuffle beyond
  // what building the history itself cost.
  private val S20At = "2024-01-20 00:00:00"
  def s20SnapshotRead(s: SparkSession, dir: String): DataFrame =
    Relational.snapshotAt(
      Relational.scd2History(
        Tables.events(s, dir).filter(col("user_id") % 10 === 0),
        "user_id", "event_type", "ts", "event_id"),
      S20At)
  val s20Sql =
    s"""WITH f AS (SELECT user_id, event_type, ts, event_id FROM events WHERE user_id % 10 = 0),
       |o AS (SELECT user_id, event_type, ts, event_id,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM f),
       |chg AS (SELECT user_id, event_type, ts, event_id FROM o
       |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
       |hist AS (SELECT user_id, event_type, ts AS valid_from,
       |    coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
       |      TIMESTAMP '2199-12-31 00:00:00') AS valid_to,
       |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
       |  FROM chg)
       |SELECT user_id, event_type, valid_from, valid_to, is_current FROM hist
       |WHERE valid_from <= TIMESTAMP '$S20At' AND TIMESTAMP '$S20At' < valid_to""".stripMargin

  // ---- P11: equal-frequency (quartile) feature binning ---------------------
  // The discretization primitive feature pipelines apply before
  // one-hot/WoE encoding: bin edges from ONE exact-percentile
  // aggregate over integer cents (quartile fractions are dyadic, so
  // interpolated edges are bit-exact across engines — the o6
  // discipline; decile fractions would NOT be), broadcast back as a
  // 1-row frame, per-row bin = 1 + #(edges strictly below). Never a
  // global ntile window (which would serialize the table through one
  // task): an agg pass plus a map-side comparison — at 100 TB swap
  // the exact percentile for approx_percentile, same two-pass shape.
  // Ties sit in the LOWER bin on both engines by the strict->
  // construction, so bin populations are deterministic even with
  // repeated edge values.
  def p11QuantileBin(s: SparkSession, dir: String): DataFrame = {
    val cents = Tables.orders(s, dir)
      .select(floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val edges = cents.agg(
      expr("percentile(cents, 0.25)").as("e1"),
      expr("percentile(cents, 0.5)").as("e2"),
      expr("percentile(cents, 0.75)").as("e3"))
    cents.crossJoin(broadcast(edges))
      .select(col("cents"),
        (lit(1L) + (col("cents") > col("e1")).cast("long")
          + (col("cents") > col("e2")).cast("long")
          + (col("cents") > col("e3")).cast("long")).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
  }
  val p11Sql =
    """WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |e AS (SELECT quantile_cont(cents, 0.25) AS e1, quantile_cont(cents, 0.5) AS e2,
      |    quantile_cont(cents, 0.75) AS e3 FROM c)
      |SELECT bin, CAST(count(*) AS BIGINT) AS n,
      |  min(cents) AS min_cents, max(cents) AS max_cents
      |FROM (SELECT cents,
      |    1 + CAST(cents > e1 AS BIGINT) + CAST(cents > e2 AS BIGINT)
      |      + CAST(cents > e3 AS BIGINT) AS bin
      |  FROM c CROSS JOIN e)
      |GROUP BY bin""".stripMargin

  // ---- O15: RFM customer segmentation ---------------------------------------
  // The classic warehouse scoring op: per customer, Recency (days
  // since last order, against the corpus max as the anchor),
  // Frequency (order count), Monetary (cents sum), each
  // quartile-scored 1–4 and composed into the 3-digit segment code
  // (recency inverted: 4 = most recent). Shape: ONE grouped pass
  // builds the per-customer frame; the quartile edges are EXACT
  // bracketing order statistics gathered from the distinct-value CDF
  // (cumulative counts over the grouped values), broadcast as one
  // row; scoring is a per-row broadcast compare — no joins on the
  // fact table, and the per-customer rows ARE the hashed artifact so
  // every score is pinned.
  //
  // No float anywhere (r12 driver flake): the continuous quartile at
  // fraction p/4 over n sorted integers sits at position p·(n−1)/4 =
  // k + q/4 with k = (p·(n−1)) div 4, q = (p·(n−1)) mod 4, and
  // v > edge ⟺ 4·v > (4−q)·x[k] + q·x[k+1] — pure BIGINT arithmetic
  // mirrored verbatim in the oracle SQL, immune to any percentile
  // interpolation detail in either engine. x[k] is read off the CDF
  // as the value whose cumulative range covers rank k (the window
  // runs over DISTINCT values — for near-unique metrics such as
  // m_cents that cardinality approaches the customer count, so at
  // 100 TB the real fix is swapping the edge pass to
  // approx_percentile with the same two-pass shape, which removes
  // the single-partition CDF sort entirely).
  //
  // r13 driver-gate forensics: the query is bit-exact across Spark,
  // DuckDB 1.0.0, and the pure-Python replay, yet the driver's box
  // flips the hash. The companion gate queries below bisect WHERE a
  // future flip lives: `o15_edges` (the entire intermediate rank
  // state as one row — red ⇒ the driver's DuckDB evaluates the
  // CDF/rank SQL differently), `o15_scores` (per-metric score split
  // — names the diverging metric), `o15_rowhash` (the same 1500 rows
  // reduced to per-row md5 strings — green-while-o15-red ⇒ the
  // divergence is in the driver's hash canonicalization over int64
  // columns, not in any computed value).
  private def o15Anchored(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(s, dir).groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_ts"),
        count(lit(1)).as("f"),
        sum(floor(col("o_totalprice") * 100).cast("long")).as("m_cents"))
    per.crossJoin(broadcast(per.agg(max(col("last_ts")).as("anchor"))))
      .select(col("o_custkey"),
        datediff(col("anchor"), col("last_ts")).cast("long").as("r_days"),
        col("f"), col("m_cents"))
  }
  // one 1-row frame holding n plus, per metric, x[k] and x[k+1] for
  // the three quartile ranks, via the cumulative-count CDF
  private def o15EdgeFrame(anchored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDf = anchored.agg(count(lit(1)).as("n"))
    def edgeStats(metric: String, pfx: String): DataFrame = {
      val cum = anchored.groupBy(col(metric).as("v"))
        .agg(count(lit(1)).as("c"))
        .withColumn("hi", sum(col("c")).over(Window.orderBy(col("v"))))
        .withColumn("lo", col("hi") - col("c"))
        .crossJoin(broadcast(nDf))
      val aggs = for { p <- 1 to 3; d <- 0 to 1 } yield {
        val k = expr(s"((n - 1) * $p) div 4") + lit(d.toLong)
        max(when(col("lo") <= k && k < col("hi"), col("v"))).as(s"${pfx}_x$p$d")
      }
      cum.agg(aggs.head, aggs.tail: _*)
    }
    edgeStats("r_days", "r").crossJoin(edgeStats("f", "f"))
      .crossJoin(edgeStats("m_cents", "m")).crossJoin(nDf)
  }
  // per-metric 1–4 quartile score against the broadcast edge row
  private def o15Score(v: Column, pfx: String): Column =
    lit(1L) + (1 to 3).map { p =>
      val q = expr(s"((n - 1) * $p) % 4")
      val xk = col(s"${pfx}_x${p}0")
      val xk1 = coalesce(col(s"${pfx}_x${p}1"), xk)
      (v * 4 > (lit(4L) - q) * xk + q * xk1).cast("long")
    }.reduce(_ + _)
  def o15RfmSegments(s: SparkSession, dir: String): DataFrame = {
    val anchored = o15Anchored(s, dir)
    anchored.crossJoin(broadcast(o15EdgeFrame(anchored)))
      .select(col("o_custkey"), col("r_days"), col("f"), col("m_cents"),
        ((lit(5L) - o15Score(col("r_days"), "r")) * 100 +
          o15Score(col("f"), "f") * 10 +
          o15Score(col("m_cents"), "m")).as("segment"))
  }
  /** Driver-gate instrument (r13 VERDICT Next #1a): the full
    * intermediate rank state of o15 as ONE row — n and all 18
    * bracketing order statistics. Red here localizes a driver flip
    * to the CDF/rank SQL layer.
    */
  def o15Edges(s: SparkSession, dir: String): DataFrame =
    o15EdgeFrame(o15Anchored(s, dir))
  /** Driver-gate instrument (r13 VERDICT Next #1b): per-metric score
    * split. Edges green + a red metric column here names which
    * metric's compare diverges.
    */
  def o15Scores(s: SparkSession, dir: String): DataFrame = {
    val anchored = o15Anchored(s, dir)
    anchored.crossJoin(broadcast(o15EdgeFrame(anchored)))
      .select(col("o_custkey"),
        o15Score(col("r_days"), "r").as("r_score"),
        o15Score(col("f"), "f").as("f_score"),
        o15Score(col("m_cents"), "m").as("m_score"))
  }
  /** Driver-gate instrument (r13 VERDICT Next #1, the w9 recipe):
    * the exact o15 rows reduced to per-row md5 strings. If this is
    * green while o15 itself is red, every computed value agrees and
    * the divergence sits in the driver's hash canonicalization over
    * int64 columns — not in the query.
    */
  def o15RowHash(s: SparkSession, dir: String): DataFrame =
    o15RfmSegments(s, dir).select(col("o_custkey"),
      md5(concat_ws("|", col("o_custkey"), col("r_days"), col("f"),
        col("m_cents"), col("segment"))).as("row_md5"))
  // the same rank arithmetic, generated so engine and oracle cannot
  // drift: k = ((n-1)*p)//4, q = ((n-1)*p)%4, edge compare in BIGINT.
  // Shared WITH-block so the o15 family (main query + the three
  // driver-localization companions) evaluates ONE set of CTEs.
  private val o15SqlCtes: String = {
    def cdf(metric: String, pfx: String): String = {
      // CAST(... AS BIGINT): for the m-metric, v derives from a
      // SUM(BIGINT), which DuckDB types HUGEINT; its Python client
      // maps HUGEINT -> float64, and the driver's render-then-hash
      // protocol then sees `...109.0` vs Spark's int64 `...109` and
      // flips (r14 VERDICT root cause — the registry's ONLY two
      // HUGEINT-emitting oracle queries were exactly the two red
      // rows). Values max ~7.4e8 at sf0.1, trivially in BIGINT range.
      val stats = (for { p <- 1 to 3; d <- 0 to 1 } yield
        s"""CAST(max(CASE WHEN lo <= (((n - 1) * $p) // 4) + $d
           |      AND (((n - 1) * $p) // 4) + $d < hi THEN v END) AS BIGINT) AS ${pfx}_x$p$d""".stripMargin)
        .mkString(",\n    ")
      s"""${pfx}cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS hi,
         |    sum(c) OVER (ORDER BY v) - c AS lo
         |  FROM (SELECT $metric AS v, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1)),
         |${pfx}e AS (SELECT
         |    $stats
         |  FROM ${pfx}cum CROSS JOIN n)""".stripMargin
    }
    s"""WITH per AS (SELECT o_custkey, max(o_orderdate) AS last_ts,
       |    CAST(count(*) AS BIGINT) AS f,
       |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m_cents
       |  FROM orders GROUP BY 1),
       |r AS (SELECT o_custkey,
       |    CAST(date_diff('day', CAST(last_ts AS DATE), CAST(a.anchor AS DATE)) AS BIGINT) AS r_days,
       |    f, m_cents
       |  FROM per CROSS JOIN (SELECT max(last_ts) AS anchor FROM per) a),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
       |${cdf("r_days", "r")},
       |${cdf("f", "f")},
       |${cdf("m_cents", "m")}""".stripMargin
  }
  private def o15ScoreSql(v: String, pfx: String): String =
    "1 + " + (1 to 3).map { p =>
      s"""CAST(4 * $v > (4 - (((n - 1) * $p) % 4)) * ${pfx}_x${p}0
         |      + (((n - 1) * $p) % 4) * COALESCE(${pfx}_x${p}1, ${pfx}_x${p}0) AS BIGINT)""".stripMargin
    }.mkString(" + ")
  private val o15SegmentSelect: String =
    s"""SELECT o_custkey, r_days, f, m_cents,
       |  (5 - (${o15ScoreSql("r_days", "r")})) * 100
       |  + (${o15ScoreSql("f", "f")}) * 10
       |  + (${o15ScoreSql("m_cents", "m")}) AS segment
       |FROM r CROSS JOIN re CROSS JOIN fe CROSS JOIN me CROSS JOIN n""".stripMargin
  val o15Sql: String = s"$o15SqlCtes\n$o15SegmentSelect"
  val o15EdgesSql: String = {
    val cols = (for { pfx <- Seq("r", "f", "m"); p <- 1 to 3; d <- 0 to 1 }
      yield s"${pfx}_x$p$d").mkString(", ")
    s"""$o15SqlCtes
       |SELECT n, $cols
       |FROM re CROSS JOIN fe CROSS JOIN me CROSS JOIN n""".stripMargin
  }
  val o15ScoresSql: String =
    s"""$o15SqlCtes
       |SELECT o_custkey,
       |  CAST(${o15ScoreSql("r_days", "r")} AS BIGINT) AS r_score,
       |  CAST(${o15ScoreSql("f", "f")} AS BIGINT) AS f_score,
       |  CAST(${o15ScoreSql("m_cents", "m")} AS BIGINT) AS m_score
       |FROM r CROSS JOIN re CROSS JOIN fe CROSS JOIN me CROSS JOIN n""".stripMargin
  val o15RowHashSql: String =
    s"""$o15SqlCtes,
       |base AS ($o15SegmentSelect)
       |SELECT o_custkey,
       |  md5(concat_ws('|', o_custkey, r_days, f, m_cents, segment)) AS row_md5
       |FROM base""".stripMargin

  // ---- W11: run-length streak detection (gaps-and-islands) -----------------
  // Per-user maximal strictly-increasing runs of `value` in event
  // order — the MATCH_RECOGNIZE-lite sequence pattern (monitoring
  // escalations, engagement streaks) as two window passes over ONE
  // user_id shuffle: a lag comparison flags run breaks, a running sum
  // of breaks numbers the islands, then per-run lengths aggregate to
  // per-user longest streak and the count of streaks spanning >= 3
  // rows. Doubles are only COMPARED (never summed), so floats cannot
  // drift the result; all outputs BIGINT.
  private val W11MinRun = 3
  def w11Streaks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val runs = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("brk",
        when(col("value") > lag(col("value"), 1).over(wOrd), lit(0L)).otherwise(lit(1L)))
      .withColumn("run_id", sum(col("brk")).over(wOrd))
      .groupBy(col("user_id"), col("run_id"))
      .agg(count(lit(1)).as("len"))
    runs.groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        sum(when(col("len") >= W11MinRun, 1L).otherwise(0L)).as("n_long_streaks"))
  }
  val w11Sql =
    s"""WITH b AS (SELECT user_id, ts, event_id,
       |    CASE WHEN value > lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      THEN 0 ELSE 1 END AS brk
       |  FROM events),
       |r AS (SELECT user_id,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run_id
       |  FROM b),
       |lens AS (SELECT user_id, run_id, CAST(count(*) AS BIGINT) AS len
       |  FROM r GROUP BY 1, 2)
       |SELECT user_id, max(len) AS longest_streak,
       |  CAST(sum(CASE WHEN len >= $W11MinRun THEN 1 ELSE 0 END) AS BIGINT) AS n_long_streaks
       |FROM lens GROUP BY user_id""".stripMargin

  // ---- P12: composed training-feature matrix -------------------------------
  // The assembly step after the individual transforms: one frame per
  // training row (order) carrying a leak-free LOO-encoded categorical
  // (p9's discipline on o_orderpriority vs the money target), the
  // quartile price bin (p11's broadcast-edge discipline), and two
  // customer-history features (order count + days since previous
  // order). Composition cost: the category and edge frames are 1-row/
  // k-row broadcasts; BOTH history features ride ONE custkey window
  // exchange (count over the unordered frame, lag over the ordered
  // one — same hash partitioning); the fact table is scanned once per
  // branch and never shuffled except that single window exchange.
  def p12FeatureMatrix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderpriority"), col("o_orderdate"),
      col("o_totalprice").cast("decimal(28,10)").as("vd"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val g = b.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_g"), sum(col("vd")).as("s_g"))
    val edges = b.agg(
      expr("percentile(cents, 0.25)").as("e1"),
      expr("percentile(cents, 0.5)").as("e2"),
      expr("percentile(cents, 0.75)").as("e3"))
    val wCust = Window.partitionBy(col("o_custkey"))
    val wOrd = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    b.join(broadcast(g), Seq("o_orderpriority"), "left")
      .crossJoin(broadcast(edges))
      .select(
        col("o_orderkey"),
        when(col("n_g") > 1,
          (col("s_g") - col("vd")).cast("string").cast("double") / (col("n_g") - 1))
          .as("prio_loo"),
        (lit(1L) + (col("cents") > col("e1")).cast("long")
          + (col("cents") > col("e2")).cast("long")
          + (col("cents") > col("e3")).cast("long")).as("price_bin"),
        when(col("o_custkey").isNotNull, count(lit(1)).over(wCust))
          .as("n_orders_cust"),
        when(col("o_custkey").isNotNull,
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(wOrd)))
          .cast("long").as("days_since_prev"))
  }
  val p12Sql =
    s"""WITH b AS (SELECT o_orderkey, o_custkey, o_orderpriority, o_orderdate,
      |    CAST(o_totalprice AS $Dec) AS vd,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |g AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_g, SUM(vd) AS s_g
      |  FROM b GROUP BY 1),
      |e AS (SELECT quantile_cont(cents, 0.25) AS e1, quantile_cont(cents, 0.5) AS e2,
      |    quantile_cont(cents, 0.75) AS e3 FROM b)
      |SELECT o_orderkey,
      |  CASE WHEN n_g > 1
      |    THEN ${toDouble("s_g - vd")} / (n_g - 1) END AS prio_loo,
      |  1 + CAST(cents > e1 AS BIGINT) + CAST(cents > e2 AS BIGINT)
      |    + CAST(cents > e3 AS BIGINT) AS price_bin,
      |  CASE WHEN o_custkey IS NOT NULL
      |    THEN CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) END AS n_orders_cust,
      |  CASE WHEN o_custkey IS NOT NULL
      |    THEN date_diff('day',
      |      lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |      o_orderdate) END AS days_since_prev
      |FROM b LEFT JOIN g USING (o_orderpriority) CROSS JOIN e""".stripMargin

  // ---- A26: correlation matrix in one pass ---------------------------------
  // a10's decimal-moment Pearson generalized to every pair of four
  // lineitem measures in ONE aggregation (the s16 discipline: a
  // single partial+final agg carries all 14 accumulators — 4 sums +
  // 10 upper-triangle co-moments — then a row-per-pair inline()
  // unpivot of the 1-row frame computes each r with the identical
  // fixed double expression). Corpus scanned once however many pairs;
  // the alternative — one corr() job per pair — rescans per pair and
  // accumulates in floats.
  private val A26Cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  def a26CorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val pairs = for {
      i <- A26Cols.indices; j <- A26Cols.indices if i < j
    } yield (A26Cols(i), A26Cols(j))
    val aggs =
      count(lit(1)).cast("double").as("n") +:
        (A26Cols.map(c => Aggregates.exactSum(col(c)).as(s"s_$c")) ++
          A26Cols.map(c => mom(col(c), col(c)).as(s"m_${c}_$c")) ++
          pairs.map { case (a, b) => mom(col(a), col(b)).as(s"m_${a}_$b") })
    def corrOf(a: String, b: String): Column =
      (col("n") * col(s"m_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
        (sqrt(col("n") * col(s"m_${a}_$a") - col(s"s_$a") * col(s"s_$a")) *
          sqrt(col("n") * col(s"m_${b}_$b") - col(s"s_$b") * col(s"s_$b")))
    Tables.lineitem(s, dir)
      .agg(aggs.head, aggs.tail: _*)
      .select(inline(array(pairs.map { case (a, b) =>
        struct(lit(a).as("col_x"), lit(b).as("col_y"), corrOf(a, b).as("corr"))
      }: _*)))
  }
  val a26Sql: String = {
    val pairs = for {
      i <- A26Cols.indices; j <- A26Cols.indices if i < j
    } yield (A26Cols(i), A26Cols(j))
    val moms =
      (A26Cols.map(c => s"${momSql(c, c)} AS m_${c}_$c") ++
        pairs.map { case (a, b) => s"${momSql(a, b)} AS m_${a}_$b" } ++
        A26Cols.map(c => s"${exactSum(c)} AS s_$c")).mkString(", ")
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y,
         |  (n * m_${a}_$b - s_$a * s_$b) /
         |  (sqrt(n * m_${a}_$a - s_$a * s_$a) * sqrt(n * m_${b}_$b - s_$b * s_$b)) AS corr
         |FROM s""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH s AS (SELECT CAST(count(*) AS DOUBLE) AS n, $moms FROM lineitem)\n$rows"
  }

  // ---- A27: lag-1 autocorrelation per event type ---------------------------
  // The serial-dependence stat behind seasonality checks and
  // sessionization heuristics: Pearson r between consecutive values
  // of each user's event sequence, grouped by event type. Pairing is
  // one lag window per (user, type); the correlation reuses a10's
  // fixed-expression discipline, but the moments accumulate as
  // BIGINT cents products (a24's round(value*100) bridge — the
  // (8,2)-decimal factor trick needs terminating-2-decimal inputs,
  // which event values are not). BIGINT sums are exact to 2^63 and
  // the final double casts are exact to 2^53 — at corpus scales past
  // ~1e9 pair-rows the product sums should widen to DECIMAL(38,0),
  // same shape. One user-shuffle for the lag, partial+final agg after.
  def a27Autocorr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, dir)
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("c"),
        lag(round(col("value") * 100).cast("long"), 1).over(w).as("p"))
      .filter(col("p").isNotNull)
    pairs.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("c")).as("sc"), sum(col("p")).as("sp"),
        sum(col("c") * col("p")).as("scp"),
        sum(col("c") * col("c")).as("scc"),
        sum(col("p") * col("p")).as("spp"))
      .select(col("event_type"), col("n_pairs"),
        ((col("n_pairs") * col("scp") - col("sc") * col("sp")).cast("double") /
          (sqrt((col("n_pairs") * col("scc") - col("sc") * col("sc")).cast("double")) *
            sqrt((col("n_pairs") * col("spp") - col("sp") * col("sp")).cast("double"))))
          .as("autocorr_lag1"))
  }
  val a27Sql =
    """WITH pr AS (SELECT event_type,
      |    CAST(round(value * 100) AS BIGINT) AS c,
      |    lag(CAST(round(value * 100) AS BIGINT)) OVER (
      |      PARTITION BY user_id, event_type ORDER BY ts, event_id) AS p
      |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
      |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
      |    sum(c) AS sc, sum(p) AS sp, sum(c * p) AS scp,
      |    sum(c * c) AS scc, sum(p * p) AS spp
      |  FROM pr WHERE p IS NOT NULL GROUP BY event_type)
      |SELECT event_type, n_pairs,
      |  CAST(n_pairs * scp - sc * sp AS DOUBLE) /
      |  (sqrt(CAST(n_pairs * scc - sc * sc AS DOUBLE)) *
      |   sqrt(CAST(n_pairs * spp - sp * sp AS DOUBLE))) AS autocorr_lag1
      |FROM m""".stripMargin

  // ---- J13: interpolation alignment join -----------------------------------
  // The step past as-of: each click is aligned to its user's purchase
  // series by LINEAR INTERPOLATION between the bracketing purchases —
  // pandas merge_asof + interpolate as one declarative plan (sensor
  // fusion, price marking at trade time). Shape is the j5 union
  // trick doubled: purchases ∪ clicks sort once per user; a
  // carry-forward window (last ignoreNulls) brings the previous
  // purchase's (value, micros), a carry-backward frame (first
  // ignoreNulls over CURRENT..FOLLOWING) the next one's — four
  // window columns, two frames, ONE user_id exchange, no join at
  // all. At-same-instant purchases sort BEFORE the click (is_q
  // tiebreak), so the "previous" bracket includes them and the lerp
  // collapses to that exact value (t = t0); boundary clicks with a
  // missing bracket yield null. The lerp runs in one fixed double
  // expression over exact micros diffs, identical in the oracle.
  def j13InterpJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
    val u = ev.filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("value").as("v"),
        lit(0).as("is_q"))
      .unionByName(
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"),
            lit(null).cast("double").as("v"), lit(1).as("is_q")))
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_q"), col("event_id"))
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val vts = when(col("v").isNotNull, unix_micros(col("ts")))
    val w = u.select(col("user_id"), col("ts"), col("event_id"), col("is_q"),
      last(col("v"), ignoreNulls = true).over(back).as("pv"),
      last(vts, ignoreNulls = true).over(back).as("pt"),
      first(col("v"), ignoreNulls = true).over(fwd).as("nv"),
      first(vts, ignoreNulls = true).over(fwd).as("nt"))
    w.filter(col("is_q") === 1)
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("pt").isNotNull && col("nt").isNotNull,
          col("pv") + (col("nv") - col("pv")) *
            ((unix_micros(col("ts")) - col("pt")).cast("double") /
              (col("nt") - col("pt")).cast("double")))
          .as("v_interp"))
  }
  val j13Sql =
    """WITH u AS (
      |  SELECT user_id, ts, event_id, value AS v, 0 AS is_q FROM events
      |  WHERE event_type = 'purchase' AND value IS NOT NULL AND ts IS NOT NULL
      |  UNION ALL
      |  SELECT user_id, ts, event_id, NULL AS v, 1 AS is_q FROM events
      |  WHERE event_type = 'click' AND ts IS NOT NULL),
      |w AS (SELECT user_id, ts, event_id, is_q,
      |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts, is_q, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    last_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, is_q, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
      |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts, is_q, event_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, is_q, event_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      |  FROM u)
      |SELECT event_id, user_id, ts,
      |  CASE WHEN pt IS NOT NULL AND nt IS NOT NULL
      |    THEN pv + (nv - pv) * (CAST(epoch_us(ts) - pt AS DOUBLE)
      |                           / CAST(nt - pt AS DOUBLE)) END AS v_interp
      |FROM w WHERE is_q = 1""".stripMargin

  // ---- S14: SCD2 dimension history from the event feed ---------------------
  // Type-2 history of each user's event_type "state"
  // ([[graft.ops.Relational.scd2History]]): run-collapse on change,
  // validity intervals from successor timestamps, open current row.
  // Sliced to a deterministic user subset so the history (not just
  // its aggregate) is the oracle-compared artifact.
  def s14Scd2(s: SparkSession, dir: String): DataFrame =
    graft.ops.Relational.scd2History(
      Tables.events(s, dir).filter(col("user_id") % 10 === 0),
      "user_id", "event_type", "ts", "event_id")
  val s14Sql =
    """WITH f AS (SELECT user_id, event_type, ts, event_id FROM events WHERE user_id % 10 = 0),
      |o AS (SELECT user_id, event_type, ts, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM f),
      |chg AS (SELECT user_id, event_type, ts, event_id FROM o
      |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
      |SELECT user_id, event_type, ts AS valid_from,
      |  coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
      |    TIMESTAMP '2199-12-31 00:00:00') AS valid_to,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      |FROM chg""".stripMargin

  // ---- S16: ANALYZE-style per-column statistics ------------------------------
  // The stats a cost-based optimizer (and any data-quality dashboard)
  // feeds on: per column, row count, null count, exact NDV, and
  // min/max — the ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS
  // surface as a first-class query. ONE corpus pass: a single agg
  // carries every column's counters (the multi-distinct agg plans as
  // one Expand + partial/final aggregate — rows × #distinct-columns
  // map-side, collapsing to ONE row before any network move), then a
  // row-per-column inline() unpivot of that 1-row frame. At 100 TB
  // the exact NDVs are the expensive half — a production sweep swaps
  // them for approx_count_distinct (the a2 HLL discipline) without
  // touching the plan shape; exact here so the oracle can check
  // values, not estimates. min/max render through the s11 discipline:
  // integers, strings, and epoch-micros only — double→string
  // formatting is engine-specific and never enters a compared value.
  def s16StatsCollect(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    // (name, canonical TYPED value) per profiled column — min/max run
    // on the typed value (numeric order), then render to string
    val cols: Seq[(String, Column)] = Seq(
      "o_orderkey" -> col("o_orderkey"),
      "o_custkey" -> col("o_custkey"),
      "o_orderstatus" -> col("o_orderstatus"),
      "o_totalprice" -> floor(col("o_totalprice") * 100).cast("long"),
      "o_orderdate" -> unix_micros(col("o_orderdate").cast("timestamp")),
      "o_orderpriority" -> col("o_orderpriority"))
    val aggs =
      count(lit(1)).as("n_rows") +:
        cols.flatMap { case (n, c) =>
          Seq(
            sum(when(c.isNull, 1L).otherwise(0L)).as(s"nulls_$n"),
            countDistinct(c).as(s"ndv_$n"),
            min(c).cast("string").as(s"min_$n"),
            max(c).cast("string").as(s"max_$n"))
        }
    o.agg(aggs.head, aggs.tail: _*)
      .select(inline(array(cols.map { case (n, _) =>
        struct(
          lit(n).as("col_name"),
          col("n_rows"),
          col(s"nulls_$n").as("n_nulls"),
          col(s"ndv_$n").as("ndv"),
          col(s"min_$n").as("min_repr"),
          col(s"max_$n").as("max_repr"))
      }: _*)))
  }
  val s16Sql: String = {
    val reprs = Seq(
      "o_orderkey" -> "o_orderkey",
      "o_custkey" -> "o_custkey",
      "o_orderstatus" -> "o_orderstatus",
      "o_totalprice" -> "CAST(floor(o_totalprice * 100) AS BIGINT)",
      "o_orderdate" -> "epoch_us(o_orderdate)",
      "o_orderpriority" -> "o_orderpriority")
    reprs.map { case (n, r) =>
      s"""SELECT '$n' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN $r IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT $r) AS BIGINT) AS ndv,
         |  CAST(min($r) AS VARCHAR) AS min_repr,
         |  CAST(max($r) AS VARCHAR) AS max_repr FROM orders""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  // ---- S9: partitioned sink → partition-pruned scan ------------------------
  // The layout HALF of the scale story the roundtrip queries don't
  // cover: write events hive-partitioned by a low-cardinality column
  // (`partitionBy("event_type")`), read back with a partition
  // predicate, and the scan must enumerate only the matching
  // directories — at 100 TB the difference between reading 2/5 of
  // the lake and listing all of it. PlanGuardSpec pins the physical
  // evidence (PartitionFilters on the scan, 2 of 5 partition dirs
  // selected); the oracle only ever sees the unpartitioned parquet
  // truth, so any round-trip corruption (types, partition-column
  // string mangling, row loss) diverges the hash.
  def s9PartitionedPrune(s: SparkSession, dir: String): DataFrame = {
    val out = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("value"), col("event_type"))
    val path = Sink.scratchDir(s"part_prune_${Sink.pathTag(dir)}")
    out.write.mode("overwrite").partitionBy("event_type").parquet(path)
    Ingest.parquet(s, path)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
  }
  val s9Sql =
    "SELECT event_id, user_id, value, event_type FROM events " +
      "WHERE event_type IN ('click', 'purchase')"

  // ---- S10: Z-order (Morton) clustering key ---------------------------------
  // The multi-dimensional half of the layout story (s9 prunes on ONE
  // partition column): interleave the bits of two keys so one sort
  // order bounds every output file in BOTH dimensions — the
  // Delta/Iceberg ZORDER BY technique, here from pure codegen'd
  // built-in bit ops ([[graft.ops.Layout]]). The registered query is
  // the locality profile itself: per coarse Z-bucket, the bounding
  // rectangle in (partkey, suppkey) — each bucket's min-max spans
  // stay small, which is exactly the file-skipping contract. The
  // physical write + per-file bounding-box evidence (Z-clustered
  // files vs natural order) is asserted in LayoutSpec; the oracle
  // replays the mask-shift ladder bit for bit.
  def s10Zorder(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Layout
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .withColumn("zbucket",
        shiftright(Layout.zorder2(col("l_partkey"), col("l_suppkey")), 16))
      .groupBy(col("zbucket"))
      .agg(
        count(lit(1)).as("n"),
        min(col("l_partkey")).as("p_min"), max(col("l_partkey")).as("p_max"),
        min(col("l_suppkey")).as("s_min"), max(col("l_suppkey")).as("s_max"))
  }
  val s10Sql: String = {
    def spread(e: String): String = {
      val a = s"(($e) & 65535)"
      val b = s"(($a | ($a << 8)) & 16711935)"
      val c = s"(($b | ($b << 4)) & 252645135)"
      val d = s"(($c | ($c << 2)) & 858993459)"
      s"(($d | ($d << 1)) & 1431655765)"
    }
    s"""SELECT ((${spread("l_partkey")} | (${spread("l_suppkey")} << 1)) >> 16) AS zbucket,
       |  CAST(count(*) AS BIGINT) AS n,
       |  min(l_partkey) AS p_min, max(l_partkey) AS p_max,
       |  min(l_suppkey) AS s_min, max(l_suppkey) AS s_max
       |FROM lineitem GROUP BY 1""".stripMargin
  }

  // ---- S11: distributed table checksum ---------------------------------------
  // The replication-integrity primitive (pt-table-checksum's shape):
  // 64 key-hash buckets, each with a row count and an
  // order-independent content checksum — SUM of a 32-bit md5 of the
  // canonical row representation. Compare source vs replica per
  // bucket to LOCALIZE corruption instead of re-reading the table.
  // One partial+final agg, map-side combined; the repr uses only
  // integers/strings (price in floored cents, date in epoch micros) —
  // double→string formatting is engine-specific and never enters a
  // checksum. Order-independence (SUM) is what makes it valid across
  // engines and partitionings.
  private val ChecksumBuckets = 64
  def s11TableChecksum(s: SparkSession, dir: String): DataFrame = {
    val repr = concat_ws("|",
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      floor(col("o_totalprice") * 100).cast("long"),
      unix_micros(col("o_orderdate").cast("timestamp")), col("o_orderpriority"))
    Tables.orders(s, dir)
      .select(
        (graft.ext.TextOps.md5Int32(col("o_orderkey").cast("string"))
          % ChecksumBuckets).as("bucket"),
        graft.ext.TextOps.md5Int32(repr).as("h"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))
  }
  val s11Sql: String = {
    val repr = "o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|' || " +
      "CAST(floor(o_totalprice * 100) AS BIGINT) || '|' || " +
      "epoch_us(o_orderdate) || '|' || o_orderpriority"
    s"""SELECT ${md5Int("CAST(o_orderkey AS VARCHAR)")} % $ChecksumBuckets AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(${md5Int(s"($repr)")}) AS BIGINT) AS checksum
       |FROM orders GROUP BY 1""".stripMargin
  }

  // ---- S12: small-file compaction round-trip ---------------------------------
  // The lake-maintenance op itself, driver-verified: fragment events
  // into 64 files (the accumulation every incremental sink suffers),
  // compact to 4 via shuffle-free coalesce, read back. The oracle
  // only ever sees the original table, so any row loss/dup or type
  // mangling across the two layout hops diverges the hash; the
  // 64 → 4 file-count evidence is asserted in LayoutSpec.
  def s12Compact(s: SparkSession, dir: String): DataFrame = {
    val tag = Sink.pathTag(dir)
    val small = Sink.scratchDir(s"compact_small_$tag")
    val big = Sink.scratchDir(s"compact_big_$tag")
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .repartition(64)
      .write.mode("overwrite").parquet(small)
    graft.ops.Layout.compact(s, small, big, 4)
  }
  val s12Sql =
    "SELECT event_id, user_id, value, event_type FROM events"

  // ---- S17: schema evolution across parquet generations ----------------------
  // The lake-operational read path every long-lived table hits: an old
  // producer wrote files WITHOUT a column, a new producer adds it, and
  // one read must union both generations with the missing column
  // null-filled (`mergeSchema` — Spark unions the footers per file
  // group). Generations are split by an o_orderkey parity, so the
  // oracle can reconstruct the exact expected frame from the
  // un-evolved truth table: priority present on odd keys, NULL on
  // even. At 100 TB one evolves the schema in a catalog instead of
  // paying mergeSchema's footer sweep per read — but the read-side
  // union-by-name semantics this verifies are identical.
  def s17SchemaMerge(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val base = Sink.scratchDir(s"schema_evo_${Sink.pathTag(dir)}")
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$base/gen1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$base/gen2")
    Ingest.parquetMergedSchema(s, s"$base/gen1", s"$base/gen2")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
  }
  val s17Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority ELSE NULL END AS o_orderpriority
      |FROM orders""".stripMargin

  // ---- S18: bucketed tables — the shuffle-free co-located join ---------------
  // The third leg of the layout story (s9 prunes directories, s10
  // orders within files): BUCKETING pre-shuffles a table ONCE at
  // write into N hash buckets of the join key, so every later join
  // or aggregation on that key reads co-located buckets and skips
  // the exchange entirely — at 100 TB the difference between one
  // shuffle per write and one shuffle per QUERY. Both fact tables
  // are bucketed 8-way on the order key (sortBy makes the
  // sort-merge's sort a no-op too); the hint pins SMJ so the
  // plan-shape evidence (SortMergeJoin with ZERO shuffle under it —
  // PlanGuardSpec) doesn't flip to broadcast at toy scale. The
  // oracle only ever sees the plain parquet truth, so bucket-write
  // round-trip corruption (row loss, hash-vs-range mixups) diverges
  // the hash; cents-integer sums keep the aggregate portable.
  def s18BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    // PID-qualified like Sink.scratchDir: two concurrent runners over
    // the same sf dir (Bench + Verify) share spark.sql.warehouse.dir,
    // and a dir-hash-only tag would let them drop/delete each other's
    // table directories mid-query
    val tag = s"${Sink.pathTag(dir)}_${ProcessHandle.current.pid}"
    val lt = s"li_bkt_$tag"
    val ot = s"ord_bkt_$tag"
    // a fresh JVM's in-memory catalog has forgotten these managed
    // tables, but their warehouse directories survive the process —
    // reclaim the locations or CREATE fails (LOCATION_ALREADY_EXISTS);
    // registering cleanup also reclaims the disk at JVM exit
    val wh = s.conf.get("spark.sql.warehouse.dir")
    Seq(lt, ot).foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      Sink.clearLocalPath(s"$wh/$t")
      Sink.cleanupAtExit(s"$wh/$t")
    }
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
    s.table(lt).hint("merge")
      .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(floor(col("l_extendedprice") * 100)).cast("long").as("cents"))
  }
  val s18Sql =
    """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_custkey""".stripMargin

  // ---- S22: zone-map (min/max manifest) file skipping ------------------------
  // The FOURTH leg of the layout story (s9 prunes partition DIRS, s10
  // orders rows WITHIN files, s18 co-locates joins): a standing
  // per-file min/max MANIFEST — the Delta/Iceberg "data skipping"
  // structure — lets a range predicate select files from METADATA
  // alone, never touching the data. Build: range-partition orders by
  // o_orderdate into 8 date-clustered files, derive one manifest row
  // per file (`_metadata.file_path` + min/max/count of the clustering
  // column) and persist the manifest as the artifact. Probe:
  // overlap-filter the MANIFEST — the only thing ever collected, and
  // it is file-count-sized (at 100 TB with 1 GiB files that is ~1e5
  // metadata rows, not data) — then scan ONLY the candidate files
  // with the residual predicate re-applied (zone maps are a
  // may-contain filter, not an exact one). LayoutSpec pins the skip
  // evidence (candidates ≪ total files); the oracle sees only the
  // plain truth table, so any skip unsoundness — a pruned file that
  // actually held a matching row — diverges rows+hash.
  def s22ZonemapSkip(s: SparkSession, dir: String): DataFrame = {
    val tag = Sink.pathTag(dir)
    val data = Sink.scratchDir(s"zm_data_$tag")
    val man = Sink.scratchDir(s"zm_manifest_$tag")
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
      .repartitionByRange(8, col("o_orderdate"))
      .sortWithinPartitions(col("o_orderdate"))
      .write.mode("overwrite").parquet(data)
    Layout.manifestRows(s, data, "o_orderdate")
      .write.mode("overwrite").parquet(man)
    // interval-overlap probe of the manifest (shared with s24 and
    // LayoutSpec): keep a file unless it provably cannot match
    Layout.zonemapProbe(s, man, Ingest.parquet(s, data).schema,
      "o_orderdate", Layout.ZonemapLo, Layout.ZonemapHi,
      Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"))
  }

  // ---- S26: compaction refreshes the zone-map manifest -----------------------
  // The metadata-layer closure of the skipping story (s22 builds the
  // manifest, s24 maintains it per landing file): small-file
  // compaction REWRITES data files, so the standing manifest must be
  // refreshed from the rewritten bytes or every later probe is
  // stale — missing files at best, silently unsound skipping at
  // worst. [[Layout.compactWithManifest]] re-derives each compacted
  // file's (min, max, count) honestly (merged files get their wider
  // true ranges, never carried-over narrower ones), and the probe of
  // the refreshed manifest shares s22's truth-table oracle — an
  // unsound refresh diverges rows+hash. LayoutSpec additionally pins
  // manifest rows ≡ recomputed stats and the file-count drop.
  def s26ZonemapCompact(s: SparkSession, dir: String): DataFrame = {
    val tag = Sink.pathTag(dir)
    val data = Sink.scratchDir(s"zmc_data_$tag")
    val cdata = Sink.scratchDir(s"zmc_cdata_$tag")
    val man = Sink.scratchDir(s"zmc_man_$tag")
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
      .repartitionByRange(8, col("o_orderdate"))
      .sortWithinPartitions(col("o_orderdate"))
      .write.mode("overwrite").parquet(data)
    Layout.compactWithManifest(s, data, cdata, man,
      targetFiles = 3, zCol = "o_orderdate")
    Layout.zonemapProbe(s, man, Ingest.parquet(s, cdata).schema,
      "o_orderdate", Layout.ZonemapLo, Layout.ZonemapHi,
      Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"))
  }
  val s22Sql =
    s"""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
       |WHERE o_orderdate >= TIMESTAMP '${Layout.ZonemapLo} 00:00:00'
       |  AND o_orderdate < TIMESTAMP '${Layout.ZonemapHi} 00:00:00'""".stripMargin

  // ---- S27: file-level Bloom index — equality skipping off the layout key ----
  // The FIFTH leg of the layout story, and the one zone maps cannot
  // carry: the files below are date-clustered (s22's layout), so a
  // point lookup on o_custkey finds every file's custkey min/max
  // spanning the whole domain — min/max prunes NOTHING. A per-file
  // Bloom bitmask over the key ([[Layout.bloomManifestRows]]) prunes
  // from metadata alone: a customer's ~10 orders touch a handful of
  // the date files, and every file missing a needed bit is PROVABLY
  // key-free. The probed key is the table's min custkey — derived,
  // not hardcoded, so the query is SF-invariant — and the oracle is
  // the plain equality truth table: a single false negative (a pruned
  // file that held a matching row) diverges rows+hash. LayoutSpec
  // pins the no-false-negative law over every key and the skip
  // evidence (candidates < total files).
  def s27BloomSkip(s: SparkSession, dir: String): DataFrame = {
    val tag = Sink.pathTag(dir)
    val data = Sink.scratchDir(s"bf_data_$tag")
    val man = Sink.scratchDir(s"bf_man_$tag")
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
      .repartitionByRange(8, col("o_orderdate"))
      .sortWithinPartitions(col("o_orderdate"))
      .write.mode("overwrite").parquet(data)
    Layout.bloomManifestRows(s, data, "o_custkey")
      .write.mode("overwrite").parquet(man)
    // probed key: min custkey (1-row metadata collect, SF-invariant)
    val key = Ingest.parquet(s, data)
      .agg(min(col("o_custkey"))).collect()(0).getLong(0)
    Layout.bloomProbe(s, man, Ingest.parquet(s, data).schema,
      "o_custkey", key,
      Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"))
  }
  val s27Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
      |WHERE o_custkey = (SELECT min(o_custkey) FROM orders)""".stripMargin

  // ---- S28: compound skipping — zone-map ∩ Bloom from metadata alone ---------
  // The realistic 100 TB point-lookup carries BOTH predicate shapes
  // ("this customer, this quarter"): the zone-map manifest prunes the
  // date range (the layout key), the Bloom manifest prunes the
  // customer equality (the non-layout key), and the candidate set is
  // their INTERSECTION — each manifest is consulted independently,
  // both are file-count-sized metadata, and soundness composes
  // because each is individually false-negative-free. The probed key
  // is the min custkey WITH an order inside the window (derived, so
  // the result is non-empty at every SF); the oracle is the plain
  // compound truth table.
  def s28CompoundSkip(s: SparkSession, dir: String): DataFrame = {
    val tag = Sink.pathTag(dir)
    val data = Sink.scratchDir(s"cs_data_$tag")
    val zman = Sink.scratchDir(s"cs_zman_$tag")
    val bman = Sink.scratchDir(s"cs_bman_$tag")
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
      .repartitionByRange(8, col("o_orderdate"))
      .sortWithinPartitions(col("o_orderdate"))
      .write.mode("overwrite").parquet(data)
    Layout.manifestRows(s, data, "o_orderdate")
      .write.mode("overwrite").parquet(zman)
    Layout.bloomManifestRows(s, data, "o_custkey")
      .write.mode("overwrite").parquet(bman)
    val key = Ingest.parquet(s, data)
      .filter(col("o_orderdate") >= lit(Layout.ZonemapLo) &&
        col("o_orderdate") < lit(Layout.ZonemapHi))
      .agg(min(col("o_custkey"))).collect()(0).getLong(0)
    val files =
      Layout.zonemapCandidateFiles(s, zman, Layout.ZonemapLo, Layout.ZonemapHi)
        .toSet.intersect(Layout.bloomCandidateFiles(s, bman, key).toSet)
    Layout.readFilesOrEmpty(s, files.toIndexedSeq.sorted,
        Ingest.parquet(s, data).schema)
      .filter(col("o_custkey") === lit(key) &&
        col("o_orderdate") >= lit(Layout.ZonemapLo) &&
        col("o_orderdate") < lit(Layout.ZonemapHi))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
  }
  val s28Sql =
    s"""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
       |WHERE o_custkey = (
       |    SELECT min(o_custkey) FROM orders
       |    WHERE o_orderdate >= TIMESTAMP '${Layout.ZonemapLo} 00:00:00'
       |      AND o_orderdate < TIMESTAMP '${Layout.ZonemapHi} 00:00:00')
       |  AND o_orderdate >= TIMESTAMP '${Layout.ZonemapLo} 00:00:00'
       |  AND o_orderdate < TIMESTAMP '${Layout.ZonemapHi} 00:00:00'""".stripMargin

  // ---- S23: snapshot diff — CDC between two table versions -------------------
  // The change-data-capture primitive every incremental consumer needs
  // when the upstream publishes full snapshots: diff version N against
  // N+1 into an I/U/D changelog. Shape: ONE full-outer join keyed on
  // the primary key — both sides shuffle once on o_orderkey (zero
  // shuffles if the snapshots are bucket-laid-out on the key, s18),
  // change detection is a per-row comparison, nothing global. At
  // 100 TB the wide-column compare collapses to comparing one
  // precomputed row hash per side (s11's canonical-repr checksum);
  // here the payload is two columns so the direct compare IS the
  // cheap form. Versions are derived deterministically from the truth
  // table (v1 drops %97 keys = later inserts; v2 drops %101 keys =
  // deletes, and bumps %89 prices = updates) so the DuckDB oracle
  // replays the whole construction exactly.
  /** The two deterministic snapshot versions s23 diffs and s25
    * applies against: v1 drops %97 keys (later inserts), v2 drops
    * %101 keys (deletes) and bumps %89 prices (updates). Columns
    * (o_orderkey, o_custkey, cents) on both.
    */
  private[graft] def cdcVersions(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val v1 = o.filter(col("o_orderkey") % 97 =!= 0)
    val v2 = o.filter(col("o_orderkey") % 101 =!= 0)
      .withColumn("cents",
        when(col("o_orderkey") % 89 === 0, col("cents") + 100)
          .otherwise(col("cents")))
    (v1, v2)
  }

  /** Full-image I/U/D diff of the two versions: key, op, and both row
    * images — s23 projects the op/old/new view, s25 feeds the new
    * image to [[Relational.cdcApply]].
    */
  private[graft] def cdcChangelog(s: SparkSession, dir: String): DataFrame = {
    val (v1, v2) = cdcVersions(s, dir)
    v1.select(col("o_orderkey"), col("o_custkey").as("ck1"), col("cents").as("c1"))
      .join(
        v2.select(col("o_orderkey"), col("o_custkey").as("ck2"), col("cents").as("c2")),
        Seq("o_orderkey"), "full_outer")
      .filter(col("c1").isNull || col("c2").isNull ||
        col("c1") =!= col("c2") || col("ck1") =!= col("ck2"))
      .select(col("o_orderkey"),
        when(col("c1").isNull, lit("I"))
          .when(col("c2").isNull, lit("D"))
          .otherwise(lit("U")).as("op"),
        col("ck1"), col("c1"), col("ck2"), col("c2"))
  }

  def s23SnapshotDiff(s: SparkSession, dir: String): DataFrame =
    cdcChangelog(s, dir)
      .select(col("o_orderkey"), col("op"),
        col("c1").as("old_cents"), col("c2").as("new_cents"))
  val s23Sql =
    """WITH o AS (SELECT o_orderkey, o_custkey,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |v1 AS (SELECT o_orderkey, o_custkey AS ck1, cents AS c1
      |       FROM o WHERE o_orderkey % 97 <> 0),
      |v2 AS (SELECT o_orderkey, o_custkey AS ck2,
      |         CASE WHEN o_orderkey % 89 = 0 THEN cents + 100 ELSE cents END AS c2
      |       FROM o WHERE o_orderkey % 101 <> 0)
      |SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
      |  CASE WHEN c1 IS NULL THEN 'I' WHEN c2 IS NULL THEN 'D' ELSE 'U' END AS op,
      |  c1 AS old_cents, c2 AS new_cents
      |FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
      |WHERE c1 IS NULL OR c2 IS NULL OR c1 <> c2 OR ck1 <> ck2""".stripMargin

  // ---- S25: CDC apply — changelog merged onto the base snapshot --------------
  // The consumer side s23 was missing (r12 verdict #4): the I/U/D
  // changelog MERGEs onto the v1 base via [[Relational.cdcApply]]
  // (union + one key-partitioned precedence window — never a second
  // table-sized outer join; deletes drop after winning precedence),
  // and the law that makes incremental CDC trustworthy is the oracle
  // itself: base ⊕ changelog ≡ the v2 snapshot, bit for bit. At
  // 100 TB this is the nightly pattern — apply the day's feed, never
  // rewrite the table; with the base bucket-laid-out on the key
  // (s18) even the merge shuffle disappears.
  def s25CdcApply(s: SparkSession, dir: String): DataFrame = {
    val (v1, _) = cdcVersions(s, dir)
    val feed = cdcChangelog(s, dir)
      .select(col("o_orderkey"), col("op"),
        coalesce(col("ck2"), col("ck1")).as("o_custkey"),
        coalesce(col("c2"), col("c1")).as("cents"))
    Relational.cdcApply(v1, feed, Seq("o_orderkey"), "op")
  }
  val s25Sql =
    """WITH o AS (SELECT o_orderkey, o_custkey,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
      |SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 89 = 0 THEN cents + 100 ELSE cents END AS cents
      |FROM o WHERE o_orderkey % 101 <> 0""".stripMargin

  // ---- J14: runtime Bloom-filter join (row-level runtime pruning) ------------
  // The ROW-level sibling of j10's dynamic partition pruning: when the
  // dimension side carries a selective non-partition predicate,
  // Catalyst's InjectRuntimeFilter builds a Bloom filter over the dim
  // join keys (bloom_filter_agg on a one-row subplan) and pushes
  // might_contain(l_orderkey) into the FACT scan — at 100 TB the
  // difference between shuffling the whole fact table into the join
  // and shuffling only the ~selectivity fraction that can possibly
  // match. Broadcast is disabled for this query (a broadcast join
  // already prunes at the probe; the runtime filter exists precisely
  // for the shuffle-join regime a 100 TB fact side forces), and the
  // application-side size threshold is dropped to 0 because the toy
  // fixture can't reach the 10 GiB production default. The frame is
  // built on the j14 profile session, so it executes under these confs
  // wherever it runs; PlanGuardSpec asserts its executed plan carries
  // the bloom probe. The oracle is the plain join — Bloom false
  // positives only forward extra rows to the exact join, never change
  // the result.

  private val j14Confs = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")

  def j14BloomJoin(s: SparkSession, dir: String): DataFrame = {
    val ps = GraftSession.scoped(s, j14Confs)
    val dim = Tables.orders(ps, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.lineitem(ps, dir)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(floor(col("l_extendedprice") * 100)).cast("long").as("cents"))
  }

  // ---- J17: AQE skew-join split (runtime re-plan) ---------------------------
  // The seventh planning leg, and the RUNTIME one: j4 handles skew by
  // construction (salting), j15 diagnoses it, this demonstrates the
  // platform path — Adaptive Query Execution observing the actual
  // shuffle sizes and SPLITTING oversized partitions at runtime. The
  // join key is l_returnflag (3 values, sizes wildly uneven), the
  // regime is a forced shuffle join (broadcast off — a 100 TB fact
  // side forces exactly that), and the skew thresholds are scaled to
  // the toy fixture the way j14 scales the bloom thresholds.
  // PlanGuardSpec asserts the executed plan carries skewed
  // AQEShuffleRead nodes; the oracle is the plain join semantics —
  // partition splitting replays the other side's matching partition,
  // never changes the result.
  private val j17Confs = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
    // thresholds scaled to the fixture's COMPRESSED shuffle-block
    // sizes (a few KB at sf0.001) the way j14 scales the bloom
    // thresholds; production keeps the 256 MB default
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4096",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4096",
    // the downstream per-(flag, status) aggregate could reuse the
    // join's flag-partitioning, and AQE refuses a split that breaks a
    // reusable partitioning unless forced — forcing is exactly the
    // 100 TB trade: one extra exchange of the (small) aggregate input
    // against a straggler task holding half the fact table
    "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
  def j17AqeSkew(s: SparkSession, dir: String): DataFrame = {
    // Both join inputs are STAGED as a standing artifact first (built
    // once per JVM and dir), for two structural reasons the toy
    // fixture would otherwise hide: (a) skew splitting regroups MAP-side shuffle
    // blocks, so a reduce partition fed by a single map task — all a
    // one-file parquet scan produces — can never split regardless of
    // size (the fact stage writes 16 files to emulate a production
    // scan's many map tasks); (b) OptimizeSkewedJoin only matches a
    // join whose children are sort-directly-over-shuffle — an
    // aggregate between them (the dim built in-query) opts the join
    // out, so the dim is materialized and re-scanned, which is what a
    // real pipeline's dimension table is anyway.
    val staged = Sink.standing("aqe_skew_stage", dir) { p =>
      val f0 = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      f0.repartition(16).write.mode("overwrite").parquet(s"$p/fact")
      f0.groupBy(col("l_returnflag"))
        .agg(sum(col("cents")).as("flag_cents"))
        .write.mode("overwrite").parquet(s"$p/dim")
    }
    val ps = GraftSession.scoped(s, j17Confs)
    val f = Ingest.parquet(ps, s"$staged/fact")
    val d = Ingest.parquet(ps, s"$staged/dim")
    f.join(d, Seq("l_returnflag"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("cents"),
        max(col("flag_cents")).as("flag_cents"))
  }
  val j17Sql =
    """WITH f AS (SELECT l_returnflag, l_linestatus,
      |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
      |d AS (SELECT l_returnflag, CAST(SUM(cents) AS BIGINT) AS flag_cents
      |      FROM f GROUP BY 1)
      |SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(cents) AS BIGINT) AS cents, max(flag_cents) AS flag_cents
      |FROM f JOIN d USING (l_returnflag)
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---- J16: cost-based join reorder fed by persisted ANALYZE stats ---------
  // The sixth planning leg (r13 VERDICT Next #6): s16 computes
  // ANALYZE-style statistics as a QUERY RESULT; this one closes the
  // loop by persisting real catalog statistics (`ANALYZE TABLE ...
  // COMPUTE STATISTICS FOR ALL COLUMNS` — row counts + per-column
  // NDV/min/max/null counts on catalog tables) and letting the
  // cost-based optimizer CONSUME them: with CBO + join reorder
  // enabled in its profile session (the j14 recipe), a 3-way join
  // written worst-first — the two fact-sized tables joined before
  // the 1-row-selective nation filter — is re-ordered by estimated
  // cost so the selective dimension applies first. PlanGuardSpec
  // proves the reorder by diffing the optimized join tree with and
  // without statistics. At 100 TB the same leg is nightly ANALYZE on
  // the warehouse catalog; the result itself is plain SQL, so the
  // oracle checks values while the plan guard checks planning.
  private[graft] def j16Tables(s: SparkSession, dir: String): (String, String, String) = {
    // A standing artifact: built once per (JVM, dir). The table names
    // carry its scratch name, so two dirs never share tables and two
    // concurrent runners never drop each other's warehouse dirs.
    def names(p: String) = {
      val tag = new java.io.File(p).getName
      (s"${tag}_ord", s"${tag}_cust", s"${tag}_nat")
    }
    names(Sink.standing("cbo_stats", dir) { p =>
      val (ot, ct, nt) = names(p)
      val wh = s.conf.get("spark.sql.warehouse.dir")
      Seq(ot, ct, nt).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        Sink.clearLocalPath(s"$wh/$t")
        Sink.cleanupAtExit(s"$wh/$t")
      }
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").format("parquet").saveAsTable(ot)
      Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
        .write.mode("overwrite").format("parquet").saveAsTable(ct)
      Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
        .write.mode("overwrite").format("parquet").saveAsTable(nt)
      Seq(ot, ct, nt).foreach(t =>
        s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
    })
  }
  private[graft] val j16Confs = Seq(
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true")
  private[graft] def j16JoinPlan(s: SparkSession, dir: String): DataFrame = {
    val (ot, ct, nt) = j16Tables(s, dir)
    // written WORST-FIRST on purpose: orders ⋈ customer (the two big
    // sides) textually precedes the 1-row nation filter — the order
    // a cost-blind planner executes as written
    s.table(ot)
      .join(s.table(ct), col("o_custkey") === col("c_custkey"))
      .join(s.table(nt).filter(col("n_name") === "NATION_7"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
  }
  def j16CboReorder(s: SparkSession, dir: String): DataFrame =
    j16JoinPlan(GraftSession.scoped(s, j16Confs), dir)
  val j16Sql =
    """SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE n_name = 'NATION_7'
      |GROUP BY n_name""".stripMargin

  // ---- J18: FK join elimination (validated RELY constraints) -----------------
  // The classic star-schema rewrite BI tools force engines to ship:
  // generated SQL joins every dimension whether the query uses it or
  // not, and under a validated foreign key (child key non-null, every
  // child key has exactly ONE parent row) an inner equi-join
  // preserves child rows 1:1 — so a join whose parent columns are
  // never referenced is dead weight. FkCatalog.register VALIDATES the
  // three facts with one-time jobs (null/orphan/duplicate probes —
  // p13's referential-integrity checks as a registration gate), then
  // JoinEliminationRule (opt-in conf) removes the join and the parent
  // scan. The oracle RUNS the join — values can only match because
  // the constraint actually holds, which is the soundness argument
  // made bit-exact. At 100 TB: the largest shuffle in the plan is
  // deleted outright. The registered FK is a standing artifact shared
  // with j19 and j21.
  /** The conf profiles of the rewrite tier: each rule is injected
    * everywhere but fires only in a session that opts in.
    */
  private val FkElim = Seq(graft.plans.JoinEliminationRule.EnabledKey -> "true")
  private val MvRewrite = Seq(graft.plans.MvRewriteRule.EnabledKey -> "true")
  /** `q`, once its optimized plan is proven rewritten: it scans a path
    * containing each of `reads` and none containing any of `gone`. A
    * silently dead rewrite errs the row instead of quietly re-scanning
    * the base tables; scan locations are checked structurally (a
    * Relation's toString omits its path).
    */
  private def provenRewrite(q: DataFrame, reads: Seq[String], gone: Seq[String]): DataFrame = {
    val scans = graft.plans.MvRewriteRule.scanPaths(q.queryExecution.optimizedPlan)
    require(reads.forall(r => scans.exists(_.contains(r))),
      s"the rewrite did not reach ${reads.mkString(" and ")}; plan scans: $scans")
    require(!scans.exists(p => gone.exists(p.contains)),
      s"the rewrite left a scan of ${gone.mkString(" or ")}; plan scans: $scans")
    q
  }
  private def ordersCustomerFk(s: SparkSession, dir: String): Unit = {
    Sink.standing("orders_customer_fk", dir) { p =>
      graft.plans.FkCatalog.register(
        s, Sink.artifactName(p),
        Tables.orders(s, dir), col("o_custkey"),
        Tables.customer(s, dir), col("c_custkey"))
    }
    ()
  }
  def j18JoinElim(s: SparkSession, dir: String): DataFrame = {
    ordersCustomerFk(s, dir)
    val ps = GraftSession.scoped(s, FkElim)
    val q = Tables.orders(ps, dir)
      .join(Tables.customer(ps, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(s30Cents).as("sum_cents"))
    provenRewrite(q, reads = Seq("orders.parquet"), gone = Seq("customer.parquet"))
  }
  val j18Sql =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  // ---- J21: SNOWFLAKE-CHAIN join elimination ----------------------------------
  // BI-generated star queries stack fact→dim→dim chains (orders →
  // customer → nation here), referencing none of them. One validated
  // FK per hop and the eliminations COMPOSE across the optimizer's
  // fixed point: nation drops first (the keep side — orders⋈customer —
  // decomposes as an inner-join tree, through which non-null/
  // orphan-free/unique provably carry), and the survivor is exactly
  // j18's shape, so the second pass drops customer too. The in-query
  // requires prove BOTH parent scans are gone; the oracle runs the
  // real two-join chain, so green means the constraints actually
  // hold. At 100 TB the plan's two largest shuffles are deleted
  // outright — the dim chain costs zero whether it is 2 or 5 hops.
  def j21ChainElim(s: SparkSession, dir: String): DataFrame = {
    ordersCustomerFk(s, dir)
    Sink.standing("customer_nation_fk", dir) { p =>
      graft.plans.FkCatalog.register(
        s, Sink.artifactName(p),
        Tables.customer(s, dir), col("c_nationkey"),
        Tables.nation(s, dir), col("n_nationkey"))
    }
    val ps = GraftSession.scoped(s, FkElim)
    val q = Tables.orders(ps, dir)
      .join(Tables.customer(ps, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(ps, dir), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(s30Cents).as("sum_cents"))
    provenRewrite(q, reads = Seq("orders.parquet"),
      gone = Seq("customer.parquet", "nation.parquet"))
  }
  val j21Sql =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1""".stripMargin

  // ---- S46: deletion vectors (merge-on-read deletes) --------------------------
  // The lakehouse DELETE that never rewrites a data file: the delete
  // persists only (file, row_position) pairs — Delta/Iceberg deletion
  // vectors — and every read applies them positionally. Here the DV
  // is built once from the predicate, but the READ path never sees
  // the predicate: it anti-joins `_metadata.file_path` +
  // `_metadata.row_index` against the DV table, so the oracle (the
  // predicate applied to rows) matches only if positional delete
  // application is sound. In-query requires prove the delete was real
  // and partial. At 100 TB: a delete costs one DV write instead of
  // rewriting terabytes of parquet; reads pay a broadcast-sized
  // anti-join (per-file bitmaps once DVs outgrow a broadcast).
  def s46DeletionVectors(s: SparkSession, dir: String): DataFrame = {
    val base = Sink.scratchDir(s"s46_dv_${Sink.pathTag(dir)}")
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .repartition(8)
      .write.mode("overwrite").parquet(base + "/data")
    def withPos = Ingest.parquet(s, base + "/data")
      .withColumn("__f", col("_metadata.file_path"))
      .withColumn("__p", col("_metadata.row_index"))
    withPos.filter(col("o_custkey") % 10 === 3).select(col("__f"), col("__p"))
      .write.mode("overwrite").parquet(base + "/dv")
    val dv = Ingest.parquet(s, base + "/dv")
    val nDel = dv.count()
    val nAll = Ingest.parquet(s, base + "/data").count()
    require(nDel > 0 && nDel < nAll,
      s"deletion vector is trivial: $nDel deleted of $nAll")
    withPos.join(broadcast(dv), Seq("__f", "__p"), "left_anti")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_live"), sum(col("cents")).as("sum_cents"))
  }
  val s46Sql =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_live,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders WHERE NOT (o_custkey % 10 = 3)
      |GROUP BY 1""".stripMargin

  // ---- O16: first/last-touch attribution ---------------------------------------
  // The marketing-analytics primitive: every purchase is attributed to
  // the FIRST and LAST click of the same user within the preceding
  // 7 days. The join is PRE-BINNED by (user, week) through the j6
  // bin-explode recipe (r15 VERDICT Next #4): bin width = the window
  // length, so a purchase's 7-day lookback spans at most two bins —
  // the purchase side explodes to (wk, wk−1), the click side carries
  // its single bin, and the equi-join key becomes (user_id, bin) with
  // the exact window predicate applied as a residual. Each (p, c)
  // pair matches in EXACTLY one bin (the click's), so multiplicity is
  // untouched and the oracle is the plain unbinned semantics. Then
  // per-purchase lexicographic struct min/max — min(struct(ts, id))
  // IS "first by (ts, id)" with deterministic ties, no window
  // operator: one shuffle on (user, bin) plus a purchase-keyed
  // partial aggregate. At 100 TB the binning is what bounds a
  // bot-grade hot user: the join fans out per (user, week-pair)
  // activity instead of per whole-history activity — quadratic in a
  // fortnight's clicks, never in a year's (law-tested ≡ the unbinned
  // join on a planted hot user).
  private val O16WindowUs = 7L * 24 * 3600 * 1000000
  private[graft] def o16Binned(ev: DataFrame): DataFrame = {
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pt"), col("event_id").as("pid"))
      .withColumn("bin", explode(array(
        floor(unix_micros(col("pt")) / O16WindowUs) - 1,
        floor(unix_micros(col("pt")) / O16WindowUs))))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("ct"), col("event_id").as("cid"))
      .withColumn("cbin", floor(unix_micros(col("ct")) / O16WindowUs))
    p.join(c, col("user_id") === col("cu") && col("bin") === col("cbin") &&
        col("ct") <= col("pt") &&
        unix_micros(col("pt")) - unix_micros(col("ct")) <= O16WindowUs)
      .groupBy(col("pid"))
      .agg(
        min(struct(col("ct"), col("cid"))).getField("cid").as("first_click"),
        max(struct(col("ct"), col("cid"))).getField("cid").as("last_click"),
        count(lit(1)).as("n_touches"))
  }
  /** The unbinned reference join — the law test's second algorithm. */
  private[graft] def o16Unbinned(ev: DataFrame): DataFrame = {
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pt"), col("event_id").as("pid"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("ct"), col("event_id").as("cid"))
    p.join(c, col("user_id") === col("cu") &&
        col("ct") <= col("pt") &&
        unix_micros(col("pt")) - unix_micros(col("ct")) <= O16WindowUs)
      .groupBy(col("pid"))
      .agg(
        min(struct(col("ct"), col("cid"))).getField("cid").as("first_click"),
        max(struct(col("ct"), col("cid"))).getField("cid").as("last_click"),
        count(lit(1)).as("n_touches"))
  }
  def o16Attribution(s: SparkSession, dir: String): DataFrame =
    o16Binned(Tables.events(s, dir))
  val o16Sql =
    s"""WITH p AS (SELECT user_id, ts AS pt, event_id AS pid FROM events
       |  WHERE event_type = 'purchase'),
       |c AS (SELECT user_id, ts AS ct, event_id AS cid FROM events
       |  WHERE event_type = 'click'),
       |j AS (SELECT pid, cid, ct FROM p JOIN c ON p.user_id = c.user_id
       |  AND ct <= pt AND epoch_us(pt) - epoch_us(ct) <= $O16WindowUs),
       |r AS (SELECT pid, cid,
       |    row_number() OVER (PARTITION BY pid ORDER BY ct ASC, cid ASC) AS fr,
       |    row_number() OVER (PARTITION BY pid ORDER BY ct DESC, cid DESC) AS lr
       |  FROM j)
       |SELECT pid, CAST(max(CASE WHEN fr = 1 THEN cid END) AS BIGINT) AS first_click,
       |  CAST(max(CASE WHEN lr = 1 THEN cid END) AS BIGINT) AS last_click,
       |  CAST(count(*) AS BIGINT) AS n_touches
       |FROM r GROUP BY pid""".stripMargin

  // ---- O17: position-based (U-shaped) MULTI-TOUCH attribution ----------------
  // o16 answers WHO gets the credit under single-touch rules; this is
  // the multi-touch ledger marketing actually budgets from: each
  // purchase's value splits across ALL its window clicks — 40% to the
  // first touch, 40% to the last, 20% spread over the middles — and
  // rolls up per click CHANNEL (the props.k field bucketed mod 8).
  // Exactness discipline: weights are integer BASIS POINTS (n=1 →
  // 10000; n=2 → 5000/5000; n≥3 → 4000/4000 + per-middle
  // 2000 div (n−2), remainder to the earliest middles), credit is
  // (cents × bp) div 10000 — all-BIGINT, both engines bit-agree, and
  // per purchase the bp sum is exactly 10000 by construction (the
  // conservation law OpsSpec pins). Scale shape: the same (user,
  // week-bin) pre-binned join as o16 (hot users bounded per bin), one
  // pid-keyed window pass for the position ranks, one channel-keyed
  // reduce — no fact self-join, no per-channel rescan.
  private[graft] def o17Credits(ev: DataFrame): DataFrame = {
    val p = ev.filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("user_id"), col("ts").as("pt"), col("event_id").as("pid"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("bin", explode(array(
        floor(unix_micros(col("pt")) / O16WindowUs) - 1,
        floor(unix_micros(col("pt")) / O16WindowUs))))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("ct"), col("event_id").as("cid"),
        (get_json_object(col("props"), "$.k").cast("long") % 8).as("channel"))
      .withColumn("cbin", floor(unix_micros(col("ct")) / O16WindowUs))
    val j = p.join(c, col("user_id") === col("cu") && col("bin") === col("cbin") &&
      col("ct") <= col("pt") &&
      unix_micros(col("pt")) - unix_micros(col("ct")) <= O16WindowUs)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
    val r = j
      .withColumn("fr", row_number().over(w.orderBy(col("ct").asc, col("cid").asc)))
      .withColumn("lr", row_number().over(w.orderBy(col("ct").desc, col("cid").desc)))
      .withColumn("n", count(lit(1)).over(w))
    val bp = when(col("n") === 1, lit(10000L))
      .when(col("n") === 2, lit(5000L))
      .when(col("fr") === 1 || col("lr") === 1, lit(4000L))
      .otherwise(expr("2000 div (n - 2)") +
        when(col("fr") - 1 <= expr("2000 % (n - 2)"), 1L).otherwise(0L))
    r.select(col("pid"), col("cid"), col("channel"), col("cents"),
      bp.cast("long").as("bp"))
      .withColumn("credit_cents", expr("(cents * bp) div 10000"))
  }
  def o17MultiTouch(s: SparkSession, dir: String): DataFrame =
    o17Credits(Tables.events(s, dir))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit_cents")).as("credit_cents"))
  val o17Sql =
    s"""WITH p AS (SELECT user_id, ts AS pt, event_id AS pid,
       |    CAST(round(value * 100) AS BIGINT) AS cents FROM events
       |  WHERE event_type = 'purchase' AND value IS NOT NULL),
       |c AS (SELECT user_id, ts AS ct, event_id AS cid,
       |    CAST(props->>'$$.k' AS BIGINT) % 8 AS channel FROM events
       |  WHERE event_type = 'click'),
       |j AS (SELECT pid, cents, cid, ct, channel FROM p
       |  JOIN c ON p.user_id = c.user_id
       |  AND ct <= pt AND epoch_us(pt) - epoch_us(ct) <= $O16WindowUs),
       |r AS (SELECT pid, cents, cid, channel,
       |    row_number() OVER (PARTITION BY pid ORDER BY ct ASC, cid ASC) AS fr,
       |    row_number() OVER (PARTITION BY pid ORDER BY ct DESC, cid DESC) AS lr,
       |    count(*) OVER (PARTITION BY pid) AS n
       |  FROM j),
       |b AS (SELECT channel, cents,
       |    CASE WHEN n = 1 THEN 10000
       |         WHEN n = 2 THEN 5000
       |         WHEN fr = 1 OR lr = 1 THEN 4000
       |         ELSE 2000 // (n - 2)
       |           + CASE WHEN fr - 1 <= 2000 % (n - 2) THEN 1 ELSE 0 END
       |    END AS bp
       |  FROM r)
       |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
       |  CAST(sum((cents * bp) // 10000) AS BIGINT) AS credit_cents
       |FROM b GROUP BY 1""".stripMargin

  // ---- J20: LEFT-join elimination under parent uniqueness --------------------
  // BI tools emit LEFT joins defensively precisely because the FK
  // might not hold — and that is what makes this leg strictly more
  // applicable than j18: a left join never drops a child row, so
  // DUPLICATION is the only hazard and a validated UNIQUE key on the
  // parent side alone proves the elimination (orphans and null child
  // keys are fine — unmatched rows null-extend, which nothing above
  // observes; the law suite drives exactly that data shape). The
  // oracle runs the real LEFT JOIN.
  def j20LeftElim(s: SparkSession, dir: String): DataFrame = {
    customerPk(s, dir)
    val ps = GraftSession.scoped(s, FkElim)
    val q = Tables.orders(ps, dir)
      .join(Tables.customer(ps, dir),
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(s30Cents).as("sum_cents"))
    provenRewrite(q, reads = Seq("orders.parquet"), gone = Seq("customer.parquet"))
  }
  val j20Sql =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  // ---- S48: count(DISTINCT unique_key) loses its DISTINCT ---------------------
  // The distinct aggregation costs an Expand plus an extra exchange —
  // and is a no-op when the argument is a validated unique key.
  // JoinEliminationRule strips the DISTINCT (resultId preserved) so
  // the plan runs as a plain count; the in-query require proves no
  // distinct aggregate survived, and the oracle computes the REAL
  // count(DISTINCT), so the rewrite is sound only because uniqueness
  // actually holds.
  def s48CountDistinctElim(s: SparkSession, dir: String): DataFrame = {
    customerPk(s, dir)
    val ps = GraftSession.scoped(s, FkElim)
    val q = Tables.customer(ps, dir)
      .groupBy(col("c_nationkey"))
      .agg(count_distinct(col("c_custkey")).as("n_cust"),
        count(lit(1)).as("n_rows"))
    val distincts = q.queryExecution.optimizedPlan.collect {
      case ag: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        ag.aggregateExpressions.flatMap(_.collect {
          case ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
              if ae.isDistinct => ae
        })
    }.flatten
    require(distincts.isEmpty,
      s"count(DISTINCT pk) kept its distinct aggregation: $distincts")
    q
  }
  val s48Sql =
    """SELECT c_nationkey, CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_cust,
      |  CAST(count(*) AS BIGINT) AS n_rows
      |FROM customer GROUP BY 1""".stripMargin

  // ---- J19: join elimination ∘ MV rewrite (two-step plan collapse) -----------
  // The planner legs COMPOSE inside one fixed-point batch: the star
  // query below joins the dimension (unused → j18's elimination
  // deletes the join, leaving a bare fact aggregate on the child key)
  // and THEN s30's MV substitution answers that aggregate from the
  // registered custkey rollup — so the optimized plan reads NEITHER
  // base table. The join-inferred IsNotNull(o_custkey) residual is a
  // KEY filter, which the MV rewrite pushes onto the rollup; both
  // requires below prove the full two-step collapse structurally. At
  // 100 TB a BI-generated star query becomes an O(|rollup|) scan with
  // no human rewriting anything.
  def j19ElimThenMv(s: SparkSession, dir: String): DataFrame = {
    ordersCustomerFk(s, dir)
    s30MvDir(s, dir)
    val ps = GraftSession.scoped(s, FkElim ++ MvRewrite)
    val q = Tables.orders(ps, dir)
      .join(Tables.customer(ps, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sum(s30Cents).as("sum_cents"),
        min(s30Cents).as("min_cents"), max(s30Cents).as("max_cents"))
    provenRewrite(q, reads = Seq("mv_orders"), gone = Seq("orders.parquet", "customer.parquet"))
  }
  val j19Sql =
    """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_cents,
      |  CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  // ---- S50: exactness-gated count-DISTINCT from the NDV-sketch rollup --------
  // The one dashboard tile the MV tier couldn't answer (r15 VERDICT
  // Next #2): count(DISTINCT custkey) GROUP BY month is not derivable
  // from count/sum/min/max partials — exact NDV does not merge. The
  // mergeable swap is the s21 KMV discipline hardened into a PROOF:
  // [[graft.plans.NdvCatalog]] stores the per-month min-k distinct id
  // hashes ([[graft.ops.Materialize.ndvSketchExact]]), and when every
  // group is UNSATURATED (|hashes| < k) the sketch IS the complete
  // per-group hash set, so size(hs) is the exact distinct count —
  // registration validates unsaturation AND hash collision-freedom
  // (one pass each, the FkCatalog discipline) and snapshots the fact's
  // file list, so a drifted fact disqualifies instead of estimating.
  // The in-query requires prove the substitution fired (fact scan
  // gone); the oracle computes the REAL count(DISTINCT), so the row is
  // green only because the exactness gate is sound. At 100 TB the tile
  // costs O(#months) sketch rows instead of a fact-wide Expand +
  // double exchange. k = 4096 bounds the artifact at 32 KiB per month
  // and holds ~2x headroom over sf0.1's densest month (1 914 distinct
  // custkeys); saturation at any scale flips exactOk and the gate row
  // fails STRUCTURALLY (require), never numerically.
  private val S50K = 4096
  private[graft] def s50NdvDir(s: SparkSession, dir: String): String =
    Sink.standing("ndv_mv", dir) { p =>
      graft.plans.NdvCatalog.create(
        s, Sink.artifactName(p),
        Tables.orders(s, dir),
        Seq(date_trunc("MONTH", col("o_orderdate")) -> "month"),
        col("o_custkey"), S50K, s"$p/month_cust")
    }

  // ---- S51: NDV metastore round-trip -----------------------------------------
  // s43's survival story for the NDV tier: definitions die with the
  // JVM, artifacts don't. save() persists the canonical definition;
  // load() replays the FULL registration — both exactness validations
  // (unsaturation + collision-freedom) and a fresh fact-file snapshot
  // run again, so a reload never trusts a proof from before the
  // outage. The requires prove dead-then-alive-again; the oracle is
  // s50's true count(DISTINCT).
  private val S51K = 8192 // sf0.1 densest quarter holds 4 878 distinct custkeys
  def s51NdvMetastore(s: SparkSession, dir: String): DataFrame = {
    val base = Sink.scratchDir(s"ndv_meta_${Sink.pathTag(dir)}")
    val name = s"orders_quarter_ndvm_${Sink.pathTag(dir)}"
    // QUARTER grain, not s50's month: definitions match by (fact,
    // keys, id) canon, so a month-grain twin would let s50's standing
    // registration answer this query and break the dead-then-alive
    // proof whenever s50 happens to run first
    graft.plans.NdvCatalog.create(
      s, name, Tables.orders(s, dir),
      Seq(date_trunc("QUARTER", col("o_orderdate")) -> "quarter"),
      col("o_custkey"), S51K, base + "/mv")
    graft.plans.NdvCatalog.save(s, base + "/catalog")
    graft.plans.NdvCatalog.unregister(name)
    val ps = GraftSession.scoped(s, MvRewrite)
    def q = Tables.orders(ps, dir)
      .groupBy(date_trunc("QUARTER", col("o_orderdate")).as("quarter"))
      .agg(count_distinct(col("o_custkey")).as("n_cust"))
    val pre = graft.plans.MvRewriteRule.scanPaths(q.queryExecution.optimizedPlan)
    require(pre.exists(_.contains("orders.parquet")),
      s"NDV definition still live after unregister; plan scans: $pre")
    graft.plans.NdvCatalog.load(ps, base + "/catalog")
    provenRewrite(q, reads = Seq("ndv_meta"), gone = Seq("orders.parquet"))
  }

  def s50NdvRewrite(s: SparkSession, dir: String): DataFrame = {
    s50NdvDir(s, dir)
    val ps = GraftSession.scoped(s, MvRewrite)
    val q = Tables.orders(ps, dir)
      .groupBy(date_trunc("MONTH", col("o_orderdate")).as("month"))
      .agg(count_distinct(col("o_custkey")).as("n_cust"))
    provenRewrite(q, reads = Seq("ndv_mv"), gone = Seq("orders.parquet"))
  }
  val s50Sql =
    """SELECT date_trunc('month', o_orderdate) AS month,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
      |FROM orders GROUP BY 1""".stripMargin
  val s51Sql =
    """SELECT date_trunc('quarter', o_orderdate) AS quarter,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
      |FROM orders GROUP BY 1""".stripMargin

  // ---- S52: incremental EXACT NDV maintenance via compressed id-set bitmaps --
  // s21 closes the NDV maintenance gap with an ESTIMATE (KMV min-k);
  // s50 makes the estimate exact but only while every group is
  // unsaturated. This is the third point on the curve — the one
  // warehouse engines standardize on for count-distinct tiles: the
  // rollup stores each group's distinct id set ITSELF, compressed
  // ([[graft.functions.Bitmap64]] sorted-delta varints, ~1 byte/id on
  // dense domains), so the statistic merges by streaming set union
  // (O(bytes) per key, no explode — cheaper shape than s21's
  // explode-distinct-recollect) and the finished count is EXACT at
  // ANY cardinality, no saturation clause anywhere. Storage is
  // O(group NDV) instead of O(k) — the explicit trade, documented in
  // [[graft.ops.Materialize.bitmapSketch]], taken exactly when the
  // tile must stay exact. Same split-build-merge discipline as s19/
  // s21: pre-cutoff slice materialized to parquet (a real storage
  // round-trip), post-cutoff delta merged in, history never
  // rescanned; the oracle is the whole-table recompute, so the green
  // row IS the merge law.
  def s52BitmapNdv(s: SparkSession, dir: String): DataFrame = {
    val facts = Tables.orders(s, dir).select(
      date_trunc("MONTH", col("o_orderdate")).as("month"), col("o_custkey"))
    val cut = lit(S19Cutoff).cast("timestamp")
    val stored = Sink.scratchDir(s"s52_bm_${Sink.pathTag(dir)}") + "/monthly"
    graft.ops.Materialize
      .bitmapSketch(facts.filter(col("month") < cut), Seq("month"), "o_custkey")
      .write.mode("overwrite").parquet(stored)
    val delta = graft.ops.Materialize
      .bitmapSketch(facts.filter(col("month") >= cut), Seq("month"), "o_custkey")
    graft.ops.Materialize.bitmapCounts(
      graft.ops.Materialize.mergeBitmap(Ingest.parquet(s, stored), delta, Seq("month")),
      Seq("month"))
  }
  val s52Sql =
    """SELECT date_trunc('month', o_orderdate) AS month,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
      |FROM orders GROUP BY 1""".stripMargin

  // ---- S53: count-DISTINCT rewrite from the bitmap artifact ----------------
  // The consumption half of s52, and the structural upgrade over
  // s50's KMV leg: the bitmap NDV MV has NO saturation clause, so the
  // rewrite stays live at grains where the KMV definition must
  // disqualify itself. The gate stages exactly that contrast — the
  // PRIORITY grain packs ~every customer into each of 5 groups, far
  // past any reasonable k: a k=64 KMV definition registers with
  // exactOk=false (validation refuses, in-query require proves the
  // fact scan SURVIVES), then the bitmap definition registers on the
  // same fact and the same query plans against the bitmap artifact
  // with the fact scan GONE (sum of a 1-row-group graft_bitmap_card
  // per group — plan shape preserved). Exactness needs no collision
  // argument: the artifact stores the ids themselves.
  def s53BitmapRewrite(s: SparkSession, dir: String): DataFrame = {
    val base = Sink.scratchDir(s"s53_bm_${Sink.pathTag(dir)}")
    val ps = GraftSession.scoped(s, MvRewrite)
    val fact = Tables.orders(ps, dir)
    val keys = Seq(col("o_orderpriority") -> "prio")
    def q = fact
      .groupBy(col("o_orderpriority").as("prio"))
      .agg(count_distinct(col("o_custkey")).as("n_cust"))
    // EVERY definition this gate registers is unregistered on EVERY exit
    // path: the gate's first require asserts the saturated KMV leg does
    // NOT rewrite, so a bitmap definition left live from a previous
    // execution of this very query (Bench runs the registry twice per
    // archive) would rewrite the probe and make the gate throw on its
    // own leftovers. try/finally makes the gate idempotent — a
    // registry-wide run-twice regression test (IdempotenceSpec) holds
    // the whole rewrite-gate class to this. So this rewrite row keeps
    // its write: its definitions are gone once it returns, and a
    // returned lazy frame would re-plan against the fact scan.
    try {
      // KMV at k=64 SATURATES on this grain: registration's validation
      // refuses exactness and the rewrite must leave the fact scan alone
      graft.plans.NdvCatalog.create(
        ps, s"s53_kmv_${Sink.pathTag(dir)}", fact, keys,
        col("o_custkey"), 64, base + "/kmv")
      val kmvScans = graft.plans.MvRewriteRule.scanPaths(q.queryExecution.optimizedPlan)
      require(kmvScans.exists(_.contains("orders.parquet")),
        s"saturated KMV definition must NOT rewrite; plan scans: $kmvScans")
      graft.plans.NdvCatalog.unregister(s"s53_kmv_${Sink.pathTag(dir)}")
      // the bitmap artifact has no saturation concept: same fact, same
      // grain, rewrite fires and the fact scan disappears
      graft.plans.NdvCatalog.createBitmap(
        ps, s"s53_bm_${Sink.pathTag(dir)}", fact, keys,
        col("o_custkey"), base + "/bm")
      val scans = graft.plans.MvRewriteRule.scanPaths(q.queryExecution.optimizedPlan)
      require(scans.exists(_.contains("s53_bm")),
        s"count-DISTINCT rewrite did not reach the bitmap artifact; scans: $scans")
      require(!scans.exists(_.contains("orders.parquet")),
        s"the fact scan survived the bitmap count-DISTINCT rewrite; scans: $scans")
      val out = Sink.scratchDir(s"s53_out_${Sink.pathTag(dir)}")
      q.write.mode("overwrite").parquet(out)
      Ingest.parquet(s, out)
    } finally {
      graft.plans.NdvCatalog.unregister(s"s53_kmv_${Sink.pathTag(dir)}")
      graft.plans.NdvCatalog.unregister(s"s53_bm_${Sink.pathTag(dir)}")
    }
  }
  val s53Sql =
    """SELECT o_orderpriority AS prio,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
      |FROM orders GROUP BY 1""".stripMargin

  // ---- A29: month-over-month retention off the bitmap rollup ---------------
  // The second derived tile the stored id sets unlock (a28 is the
  // pairwise overlap matrix; this is the RETENTION curve): customers
  // active in month m AND m+1, exactly, per consecutive month pair —
  // one streaming intersection of two rollup-row bitmaps per pair.
  // The naive plan self-joins the fact per month pair; here the fact
  // is scanned once at rollup build (or never, when s52's standing
  // artifact is current) and the whole curve is rollup-row work. The
  // event-based w6_retention answers sessions-style cohorts; this is
  // the warehouse-side twin over the fact table's key sets.
  def a29RetentionBitmap(s: SparkSession, dir: String): DataFrame = {
    val sk = graft.ops.Materialize.bitmapSketch(
      Tables.orders(s, dir).select(
        date_trunc("MONTH", col("o_orderdate")).as("month"), col("o_custkey")),
      Seq("month"), "o_custkey")
    val a = sk.select(col("month"), col("bm").as("bm_a"))
    val b = sk.select(col("month").as("next_month"), col("bm").as("bm_b"))
    a.join(b, col("next_month") === add_months(col("month"), 1).cast("timestamp"))
      .select(col("month"),
        graft.ops.Materialize.bitmapCard(col("bm_a")).as("n_month"),
        graft.ops.Materialize.bitmapCard(col("bm_b")).as("n_next"),
        graft.ops.Materialize.bitmapIntersectCard(col("bm_a"), col("bm_b"))
          .as("n_retained"))
  }
  val a29Sql =
    """WITH s AS (SELECT DISTINCT date_trunc('month', o_orderdate) AS month,
      |    o_custkey AS c FROM orders WHERE o_custkey IS NOT NULL),
      |n AS (SELECT month, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
      |r AS (SELECT a.month AS month, CAST(count(*) AS BIGINT) AS n_retained
      |  FROM s a JOIN s b ON b.month = a.month + INTERVAL 1 MONTH AND a.c = b.c
      |  GROUP BY 1)
      |SELECT na.month, na.n AS n_month, nb.n AS n_next,
      |  COALESCE(r.n_retained, 0) AS n_retained
      |FROM n na JOIN n nb ON nb.month = na.month + INTERVAL 1 MONTH
      |LEFT JOIN r ON r.month = na.month""".stripMargin

  // ---- S55: count-DISTINCT COARSENING from the bitmap lattice --------------
  // The capability boundary between the two exact-NDV artifacts, made
  // a gate: the KMV-exact rollup is grain-LOCKED (per-group sizes
  // double-count ids shared across groups — its coarser-grouping
  // disqualification is law-tested), but the bitmap rollup is a true
  // LATTICE node: id sets union losslessly, so ONE fine-grained
  // (month, priority) artifact answers the per-priority tile AND the
  // global distinct-customer count by re-aggregating with
  // graft_bitmap_union_agg and counting the union — both rewritten
  // here with the fact scan gone (in-query requires). At 100 TB this
  // is one stored rollup serving the whole drill-up hierarchy of
  // count-distinct tiles, where the KMV tier would need one artifact
  // per grain and the naive plan one fact scan per tile.
  def s55BitmapCoarsen(s: SparkSession, dir: String): DataFrame = {
    val base = Sink.scratchDir(s"s55_bm_${Sink.pathTag(dir)}")
    // stage a PRIVATE fact copy: NdvCatalog definitions match on fact
    // paths, and this gate's requires must prove the LATTICE path
    // specifically — on the shared orders scan, whichever bitmap/KMV
    // definition another gate registered first (registry order is
    // JVM-history-dependent) could legitimately serve these queries
    // at its own grain and turn the requires into an ordering lottery
    Tables.orders(s, dir)
      .select(col("o_orderdate"), col("o_orderpriority"), col("o_custkey"))
      .write.mode("overwrite").parquet(base + "/fact")
    val fact = Ingest.parquet(s, base + "/fact")
    graft.plans.NdvCatalog.createBitmap(
      s, s"s55_bm_${Sink.pathTag(dir)}", fact,
      Seq(date_trunc("MONTH", col("o_orderdate")) -> "month",
        col("o_orderpriority") -> "prio"),
      col("o_custkey"), base + "/bm")
    val rewritten = GraftSession.rebind(fact, GraftSession.scoped(s, MvRewrite))
    // the per-priority tile and the GLOBAL count (lattice bottom) both
    // ride the bitmap lattice
    def lattice(q: DataFrame) = provenRewrite(q, reads = Seq("/bm"), gone = Seq("/fact"))
    lattice(rewritten.groupBy(col("o_orderpriority").as("prio"))
      .agg(count_distinct(col("o_custkey")).as("n_cust")))
      .crossJoin(lattice(rewritten.agg(count_distinct(col("o_custkey")).as("n_total"))))
  }
  val s55Sql =
    """SELECT o_orderpriority AS prio,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
      |  (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders) AS n_total
      |FROM orders GROUP BY 1""".stripMargin

  // ---- S54: FD-based GROUP BY key pruning on a validated PRIMARY key -------
  // The BI-emitted shape `GROUP BY cust_id, cust_name, cust_segment`
  // drags wide string columns through the exchange key for nothing:
  // under a validated PRIMARY key (unique + non-null —
  // FkCatalog.registerUnique(nonNull = true)) every other column of
  // that dim scan is row-wise a FUNCTION of the key, so
  // JoinEliminationRule narrows the grouping to the key alone and
  // recovers each pruned column as first(col) — constant per group by
  // the dependency, so the aggregate values and the output are
  // bit-identical (the oracle runs the real wide grouping). The
  // in-query require proves the optimized Aggregate groups on ONE
  // expression. At 100 TB the shuffle key of every such dashboard
  // query shrinks from (int + 2 strings) to the bare int — less
  // hashing, less comparison, less exchange volume, same rows.
  // NULL-extension is why uniqueness alone is NOT enough (a nullable
  // unique key would let a real null-key group merge with outer-join
  // null-extended rows); the nonNull validation closes it.
  def s54FdPrune(s: SparkSession, dir: String): DataFrame = {
    Sink.standing("customer_pknn", dir) { p =>
      graft.plans.FkCatalog.registerUnique(
        s, Sink.artifactName(p),
        Tables.customer(s, dir), col("c_custkey"), validate = true, nonNull = true)
    }
    val ps = GraftSession.scoped(s, FkElim)
    val q = Tables.orders(ps, dir)
      .join(Tables.customer(ps, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), sum(s30Cents).as("sum_cents"))
    val aggs = q.queryExecution.optimizedPlan.collect {
      case ag: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        ag.groupingExpressions.length
    }
    require(aggs.nonEmpty && aggs.forall(_ == 1),
      s"FD prune did not narrow the grouping to the key; grouping arities: $aggs")
    q
  }
  val s54Sql =
    """SELECT c_custkey, c_name, c_mktsegment,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2, 3""".stripMargin

  // ---- A28: exact segment-overlap matrix from stored id-set bitmaps --------
  // The audience-overlap tile: how many distinct customers do every
  // two order-priority segments SHARE? Naively that is a per-pair
  // fact self-join (10 shuffles of the fact at 5 segments — and the
  // pair count grows quadratically). With s52's bitmap rollup the
  // fact is scanned ONCE to build 5 rollup rows, and every pairwise
  // |A∩B| / |A∪B| is a streaming merge-join over two compressed id
  // streams ([[graft.functions.Bitmap64.intersectCardinality]]) —
  // sketch-side work bounded by |segments|² pairs of O(bytes)
  // scans, the fact never rejoined. At 100 TB the rollup is KB-scale
  // per segment while the fact self-join alternative is 10 full
  // shuffles; this is why engines store the bitmap, not the count.
  def a28SegmentOverlap(s: SparkSession, dir: String): DataFrame = {
    val seg = graft.ops.Materialize.bitmapSketch(
      Tables.orders(s, dir).select(col("o_orderpriority").as("seg"), col("o_custkey")),
      Seq("seg"), "o_custkey")
    val a = seg.select(col("seg").as("seg_a"), col("bm").as("bm_a"))
    val b = seg.select(col("seg").as("seg_b"), col("bm").as("bm_b"))
    // |segments|² pair enumeration over the 5-row rollup — broadcast
    // nested-loop on sketch rows by construction, never fact rows
    a.join(b, col("seg_a") < col("seg_b"))
      .select(col("seg_a"), col("seg_b"),
        graft.ops.Materialize.bitmapCard(col("bm_a")).as("n_a"),
        graft.ops.Materialize.bitmapCard(col("bm_b")).as("n_b"),
        graft.ops.Materialize.bitmapIntersectCard(col("bm_a"), col("bm_b")).as("n_common"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_common"))
  }
  val a28Sql =
    """WITH s AS (SELECT DISTINCT o_orderpriority AS seg, o_custkey AS c
      |    FROM orders WHERE o_custkey IS NOT NULL),
      |n AS (SELECT seg, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY seg),
      |p AS (SELECT a.seg AS seg_a, b.seg AS seg_b, a.n AS n_a, b.n AS n_b
      |    FROM n a JOIN n b ON a.seg < b.seg),
      |ov AS (SELECT a.seg AS seg_a, b.seg AS seg_b,
      |      CAST(count(*) AS BIGINT) AS n_common
      |    FROM s a JOIN s b ON a.c = b.c AND a.seg < b.seg GROUP BY 1, 2)
      |SELECT p.seg_a, p.seg_b, p.n_a, p.n_b,
      |  COALESCE(ov.n_common, 0) AS n_common,
      |  p.n_a + p.n_b - COALESCE(ov.n_common, 0) AS n_union
      |FROM p LEFT JOIN ov ON ov.seg_a = p.seg_a AND ov.seg_b = p.seg_b""".stripMargin

  // ---- S47: merge-on-read UPSERT (deletion vector + append) -------------------
  // The full Iceberg-v2/Delta-DV write path for an UPDATE: the old row
  // versions are position-deleted (s46's DV) and the post-image rows
  // land as an appended delta file — no base file is ever rewritten.
  // The read is (base ⊳ DV) ∪ delta. As in s46 the read path is
  // predicate-blind (positions + appended rows only), so matching the
  // oracle's post-image SQL proves positional delete + append compose
  // to exactly one current version per row. Compaction, when the DV
  // outgrows its usefulness, is s12's rewrite recipe applied to the
  // live frame. At 100 TB an update batch costs O(|batch|) writes.
  def s47MorUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = Sink.scratchDir(s"s47_mor_${Sink.pathTag(dir)}")
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .repartition(8)
      .write.mode("overwrite").parquet(base + "/data")
    val hit = col("o_custkey") % 7 === 2
    def withPos = Ingest.parquet(s, base + "/data")
      .withColumn("__f", col("_metadata.file_path"))
      .withColumn("__p", col("_metadata.row_index"))
    // UPDATE ... SET cents = cents + 100 WHERE o_custkey % 7 = 2, as a
    // position-delete of the old versions plus an appended post-image
    withPos.filter(hit).select(col("__f"), col("__p"))
      .write.mode("overwrite").parquet(base + "/dv")
    Ingest.parquet(s, base + "/data").filter(hit)
      .withColumn("cents", col("cents") + 100)
      .write.mode("overwrite").parquet(base + "/delta")
    val dv = Ingest.parquet(s, base + "/dv")
    val nDel = dv.count()
    require(nDel > 0 && nDel < withPos.count(),
      s"upsert batch is trivial: $nDel of ${withPos.count()} rows")
    withPos.join(broadcast(dv), Seq("__f", "__p"), "left_anti")
      .drop("__f", "__p")
      .unionByName(Ingest.parquet(s, base + "/delta"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        max(col("cents")).as("max_cents"))
  }
  val s47Sql =
    """WITH post AS (SELECT o_orderpriority,
      |    CAST(floor(o_totalprice * 100) AS BIGINT)
      |      + CASE WHEN o_custkey % 7 = 2 THEN 100 ELSE 0 END AS cents
      |  FROM orders)
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(max(cents) AS BIGINT) AS max_cents
      |FROM post GROUP BY 1""".stripMargin

  // ---- S45: DISTINCT elimination on a validated unique key --------------------
  // The defensive dropDuplicates BI tools emit on primary keys is a
  // whole-table shuffle that does nothing. FkCatalog.registerUnique
  // VALIDATES the key (duplicate probe, or RELY mode), and
  // JoinEliminationRule collapses the Aggregate that Catalyst rewrote
  // the Deduplicate into (grouping keys must COVER the unique key;
  // every output a grouped attribute or a first(attr) alias) to a
  // bare Project — the in-query require proves no Aggregate remains.
  // The oracle is the table itself: under uniqueness, dedup-by-key is
  // the identity, which the bit-exact match proves. The registered key
  // is a standing artifact shared with j20 and s48.
  private def customerPk(s: SparkSession, dir: String): Unit = {
    Sink.standing("customer_pk", dir) { p =>
      graft.plans.FkCatalog.registerUnique(
        s, Sink.artifactName(p), Tables.customer(s, dir), col("c_custkey"))
    }
    ()
  }
  def s45DistinctElim(s: SparkSession, dir: String): DataFrame = {
    customerPk(s, dir)
    val ps = GraftSession.scoped(s, FkElim)
    val q = Tables.customer(ps, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .dropDuplicates("c_custkey")
    val aggs = q.queryExecution.optimizedPlan.collect {
      case ag: org.apache.spark.sql.catalyst.plans.logical.Aggregate => ag
    }
    require(aggs.isEmpty,
      s"distinct elimination left an aggregate in the plan:\n${q.queryExecution.optimizedPlan}")
    q
  }
  val s45Sql =
    "SELECT c_custkey, c_nationkey, c_acctbal FROM customer"

  // ---- S44: metadata-only aggregate pushdown (parquet footer statistics) -----
  // The cheapest possible plan for whole-table count/min/max: every
  // parquet footer already stores row counts and per-column min/max,
  // so the scan can answer the aggregate WITHOUT decoding a single
  // data page — Spark's DSv2 aggregate pushdown
  // (spark.sql.parquet.aggregatePushdown; the parquet V2 path must be
  // enabled for the window since V1 does not implement it). At 100 TB
  // this turns a full-table statistics query into a footer-metadata
  // sweep — the same class of win as s22's zone-map pruning, applied
  // to aggregation instead of filtering. The in-query require proves
  // the aggregate reached the scan (PushedAggregation in the plan);
  // the oracle recomputes from rows, so a stale/wrong footer would
  // diverge.
  def s44CountPushdown(s: SparkSession, dir: String): DataFrame = {
    val ps = GraftSession.scoped(s, Seq(
      "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> ""))
    val q = Ingest.parquet(ps, s"$dir/orders.parquet")
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
    val plan = q.queryExecution.executedPlan.toString
    require(plan.contains("PushedAggregation: [COUNT(*)"),
      s"aggregate was not pushed to the parquet scan:\n$plan")
    q
  }
  val s44Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
      |  CAST(max(o_orderkey) AS BIGINT) AS max_key
      |FROM orders""".stripMargin

  // ---- S30: materialized-view rewrite (automatic rollup substitution) -------
  // The CONSUMPTION half of the s19 story, and the eighth planning
  // leg: s19 proves a stored rollup can be maintained in O(delta);
  // this proves queries can be ANSWERED from it without anyone
  // rewriting their code — graft.plans.MvRewriteRule (injected by
  // GraftExtensions, opt-in via spark.graft.mv.enabled) matches a
  // grouped fact aggregate against the registered MV definition and
  // substitutes sum(n)/sum(sum_m)/min(min_m)/max(max_m) over the
  // rollup scan. At 100 TB the fact scan disappears from the plan:
  // the query below is written against `orders` verbatim, and the
  // in-query require proves the OPTIMIZED plan reads only the MV
  // (the fact relation is gone). AVG needs no aggregate rewrite —
  // it derives after aggregation as two exact BIGINTs dividing,
  // bit-identical in every engine. The MV is a standing artifact;
  // refreshes would ride Materialize.refreshInto without
  // re-registration (path identity).
  private val s30Cents = floor(col("o_totalprice") * 100).cast("long")
  private[graft] def s30MvDir(s: SparkSession, dir: String): String =
    Sink.standing("mv_orders", dir) { p =>
      graft.plans.MvCatalog.create(
        s, Sink.artifactName(p),
        Tables.orders(s, dir), col("o_custkey"), "o_custkey", s30Cents, s"$p/cust_cents")
    }

  private[graft] def s30UserQuery(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(s30Cents).as("sum_cents"),
        min(s30Cents).as("min_cents"),
        max(s30Cents).as("max_cents"))
      .withColumn("avg_cents",
        col("sum_cents").cast("double") / col("n_orders").cast("double"))

  def s30MvRewrite(s: SparkSession, dir: String): DataFrame = {
    s30MvDir(s, dir)
    // The j14/j16 recipe: the frame is built on the rewrite profile's
    // session, so the runner's own action re-optimizes it with the
    // rewrite on and executes the rewritten plan end to end.
    val q = s30UserQuery(GraftSession.scoped(s, MvRewrite), dir)
    provenRewrite(q, reads = Seq("mv_orders"), gone = Seq("orders.parquet"))
  }
  // ---- S31: incremental refresh ⊕ MV rewrite, end-to-end --------------------
  // s19 proves the rollup refreshes in O(delta); s30 proves queries
  // substitute a rollup; this row composes them: the DAY-keyed rollup
  // is BUILT from the pre-cutoff slice only, REFRESHED in place with
  // the post-cutoff delta (Materialize.refreshInto — rewrite-then-swap,
  // history never rescanned), then REGISTERED, and the gate query is
  // the plain full-table groupBy-day over `orders` — answered entirely
  // from the refreshed artifact (fact scan proven gone). Registration
  // survives refreshes by construction (the path is the identity and
  // refreshInto swaps content under it), which this row exercises:
  // the registered definition describes the FULL fact table, and the
  // oracle (s19's full-recompute SQL, reused verbatim) only matches if
  // base ⊕ delta ≡ whole-table rollup bit-for-bit. Day is a COMPUTED
  // key (date_trunc), so this also gates expression-key matching in
  // the rewrite. A distinct key from s30's custkey MV keeps the two
  // registered MVs unambiguous on the shared fact scan.
  private val s31Day = date_trunc("DAY", col("o_orderdate"))
  private[graft] def s31MvDir(s: SparkSession, dir: String): String =
    Sink.standing("mv_daily", dir) { p =>
      val stored = s"$p/daily"
      val facts = Tables.orders(s, dir).select(
        s31Day.as("day"), s30Cents.as("m"))
      val cut = lit(S19Cutoff).cast("timestamp")
      Materialize.rollup(facts.filter(col("day") < cut), "day", col("m"))
        .write.mode("overwrite").parquet(stored)
      Materialize.refreshInto(s, stored,
        Materialize.rollup(facts.filter(col("day") >= cut), "day", col("m")), "day")
      graft.plans.MvCatalog.register(
        s, Sink.artifactName(p),
        Tables.orders(s, dir), s31Day, "day", s30Cents, stored)
    }

  def s31MvRefresh(s: SparkSession, dir: String): DataFrame = {
    s31MvDir(s, dir)
    val ps = GraftSession.scoped(s, MvRewrite)
    val q = Tables.orders(ps, dir)
      .groupBy(s31Day.as("day"))
      .agg(
        count(lit(1)).as("n"),
        // count(metric) — derives from the rollup's n_m column, so
        // this row also gates the non-null-count derivation against
        // a REFRESHED artifact
        count(s30Cents).as("n_m"),
        sum(s30Cents).as("sum_m"),
        min(s30Cents).as("min_m"),
        max(s30Cents).as("max_m"))
    provenRewrite(q, reads = Seq("mv_daily"), gone = Seq("orders.parquet"))
  }

  // ---- S33/S34: multi-key MV + lattice coarsening ---------------------------
  // r14 VERDICT Next #4/#5: the common dashboard rollup is keyed on a
  // TUPLE (day × custkey here), and the payoff of storing the finer
  // grain is that ONE artifact answers the whole lattice below it —
  // the exact-grain query (s33) AND every coarser group-by (s34's
  // day-only cut, down to the global aggregate) — because all four
  // kept statistics are mergeable, so re-aggregating rollup rows at a
  // coarser grain is provably the fact aggregate. At 100 TB: one fact
  // scan at build, O(|rollup|) for every query in the lattice after.
  // s34 additionally filters on the NON-grouped key (a custkey
  // predicate selects whole rollup groups, so it commutes with the
  // coarser re-aggregation) — which also makes the gate row
  // deterministic against s31's registered day-keyed MV on the same
  // fact scan: that MV cannot answer a custkey filter, so the rule
  // must prove and pick the tuple-keyed one.
  private[graft] def s33MvDir(s: SparkSession, dir: String): String =
    Sink.standing("mv_daycust", dir) { p =>
      graft.plans.MvCatalog.create(
        s, Sink.artifactName(p),
        Tables.orders(s, dir),
        Seq(s31Day -> "day", col("o_custkey") -> "o_custkey"), s30Cents, s"$p/day_cust")
    }

  def s33MvMultikey(s: SparkSession, dir: String): DataFrame = {
    s33MvDir(s, dir)
    val ps = GraftSession.scoped(s, MvRewrite)
    val q = Tables.orders(ps, dir)
      .groupBy(s31Day.as("day"), col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(s30Cents).as("sum_cents"),
        min(s30Cents).as("min_cents"),
        max(s30Cents).as("max_cents"))
    provenRewrite(q, reads = Seq("mv_daycust"), gone = Seq("orders.parquet"))
  }

  def s34MvCoarsen(s: SparkSession, dir: String): DataFrame = {
    s33MvDir(s, dir)
    val ps = GraftSession.scoped(s, MvRewrite)
    val q = Tables.orders(ps, dir)
      .filter(col("o_custkey") % 2 === 0)
      .groupBy(s31Day.as("day"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(s30Cents).as("sum_cents"),
        min(s30Cents).as("min_cents"),
        max(s30Cents).as("max_cents"))
    provenRewrite(q, reads = Seq("mv_daycust"), gone = Seq("orders.parquet"))
  }

  // ---- S41: cost-based MV choice across the lattice --------------------------
  // With BOTH the day-keyed rollup (s31, ~|days| rows) and the
  // (day × custkey) rollup (s33, ~|orders| rows at this SF) registered
  // over the same fact scan, a group-by-day query is PROVABLE from
  // either — the rule must now choose, and it chooses by COST: the
  // smallest stored artifact (file-relation statistics, no extra
  // scan), so the plan reads the ~2400-row daily rollup, not the
  // ~150k-row tuple one it would have to re-aggregate. At 100 TB the
  // gap is a few KB vs a billion-row coarsening pass. Name order
  // happens to agree here, so the NAME-independence of the choice is
  // law-tested in MvRewriteSpec with names arranged to favor the big
  // MV; this row gates the end-to-end outcome: daily chosen, tuple MV
  // and fact scan both absent from the optimized plan.
  def s41MvChoose(s: SparkSession, dir: String): DataFrame = {
    s31MvDir(s, dir)
    s33MvDir(s, dir)
    val ps = GraftSession.scoped(s, MvRewrite)
    val q = Tables.orders(ps, dir)
      .groupBy(s31Day.as("day"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(s30Cents).as("sum_cents"),
        min(s30Cents).as("min_cents"),
        max(s30Cents).as("max_cents"))
    provenRewrite(q, reads = Seq("mv_daily"), gone = Seq("mv_daycust", "orders.parquet"))
  }

  // ---- S43: MV catalog persistence (metastore round-trip) --------------------
  // Registrations so far lived only in the JVM while the rollup
  // artifacts live on disk — a restarted session would stop rewriting
  // until someone re-registered by hand. MvCatalog.save persists every
  // definition (canonical key/metric expressions as SQL text) to a
  // parquet metastore table; load re-parses and replays the FULL
  // registration probe. This row proves the round-trip end-to-end:
  // create → save → UNREGISTER (and structurally verify the rewrite is
  // dead — the plan scans the fact again) → load → the same user query
  // substitutes the rollup with the fact scan gone, values matching
  // the whole-table oracle. o_orderpriority is a key no other
  // registered MV carries, so only the LOADED definition can answer.
  def s43MvMetastore(s: SparkSession, dir: String): DataFrame = {
    val base = Sink.scratchDir(s"mv_meta_${Sink.pathTag(dir)}")
    val name = s"orders_prio_cents_${Sink.pathTag(dir)}"
    graft.plans.MvCatalog.create(
      s, name, Tables.orders(s, dir), col("o_orderpriority"), "o_orderpriority",
      s30Cents, base + "/prio")
    graft.plans.MvCatalog.save(s, base + "/catalog")
    graft.plans.MvCatalog.unregister(name)
    val ps = GraftSession.scoped(s, MvRewrite)
    def q = Tables.orders(ps, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(s30Cents).as("sum_cents"),
        min(s30Cents).as("min_cents"), max(s30Cents).as("max_cents"))
    val pre = graft.plans.MvRewriteRule.scanPaths(q.queryExecution.optimizedPlan)
    require(pre.exists(_.contains("orders.parquet")),
      s"definition still live after unregister; plan scans: $pre")
    graft.plans.MvCatalog.load(ps, base + "/catalog")
    provenRewrite(q, reads = Seq("mv_meta"), gone = Seq("orders.parquet"))
  }
  val s43Sql =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_cents,
      |  CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
      |FROM orders GROUP BY 1""".stripMargin

  // ---- S35: MV rewrite of avg() and count(metric) ---------------------------
  // The aggregate-algebra completion of s30: avg(metric) is NOT one
  // mergeable statistic — it is the quotient of two (sum_m and the
  // NON-NULL metric count n_m the rollup now stores; count(*) would
  // be wrong exactly when the metric has nulls). MvRewriteRule
  // substitutes ONE post-aggregation divide of the two exact BIGINTs
  // (sum(sum_m)/sum(n_m), LEGACY divide so an all-null group stays
  // NULL), and count(metric) → sum(n_m) directly. The query below is
  // written against `orders` with plain avg()/count() calls — no
  // manual sum/count decomposition — and the in-query require proves
  // the fact scan left the optimized plan. Bit-exactness window:
  // Average itself accumulates in a double, so rewritten ≡ plain
  // (≡ the DuckDB AVG) while per-group cent sums stay below 2^53 —
  // ~90 quadrillion dollars per group before a bit can drift.
  def s35MvAvg(s: SparkSession, dir: String): DataFrame = {
    s30MvDir(s, dir)
    val ps = GraftSession.scoped(s, MvRewrite)
    val q = Tables.orders(ps, dir)
      .groupBy(col("o_custkey"))
      .agg(
        avg(s30Cents).as("avg_cents"),
        count(s30Cents).as("n_priced"),
        sum(s30Cents).as("sum_cents"))
    provenRewrite(q, reads = Seq("mv_orders"), gone = Seq("orders.parquet"))
  }

  val s35Sql =
    """SELECT o_custkey,
      |  AVG(CAST(floor(o_totalprice * 100) AS BIGINT)) AS avg_cents,
      |  CAST(count(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS n_priced,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders GROUP BY 1""".stripMargin

  // ---- S36: CDC-driven MV maintenance (updates + deletes, not just appends) -
  // s19/s31 maintain the rollup under APPEND-ONLY deltas (merge of
  // mergeable partials). Real warehouses also mutate: a CDC batch
  // carries inserts, metric updates, KEY-MOVING updates, and deletes
  // — and min/max are not differentiable under removal (deleting the
  // current extremum needs the runner-up the rollup no longer has).
  // [[graft.ops.Materialize.maintainKeys]] is the sound general
  // recipe: recompute ONLY the key groups the changelog touches (on
  // EITHER image — a key-move affects its old and its new day) from
  // the post-image fact, pass every untouched group through from the
  // stored rollup. The CDC batch here is confined to 1997 orders
  // (insert: %13==3, delete: %17==5, price update: %19==7, re-date
  // +7d: %23==11, classified in that precedence), so affected days
  // are a strict slice of the key space — the in-query require
  // proves the maintenance really was partial, and the oracle (the
  // full post-image rollup) only matches if maintained ≡ rebuilt
  // bit-for-bit.
  def s36MvCdc(s: SparkSession, dir: String): DataFrame = {
    val year = org.apache.spark.sql.functions.year(col("o_orderdate")) === 1997
    val ins = year && col("o_orderkey") % 13 === 3
    val del = year && !ins && col("o_orderkey") % 17 === 5
    val upd = year && !ins && !del && col("o_orderkey") % 19 === 7
    val mov = year && !ins && !del && !upd && col("o_orderkey") % 23 === 11
    val facts = Tables.orders(s, dir).select(
      col("o_orderkey"),
      date_trunc("DAY", col("o_orderdate")).as("day"),
      s30Cents.as("cents"),
      ins.as("is_ins"), del.as("is_del"), upd.as("is_upd"), mov.as("is_mov"))
    // stored rollup over the PRE-image (inserts absent, originals live)
    val stored = Sink.scratchDir("s36_mv_cdc") + "/daily"
    Materialize.rollup(facts.filter(!col("is_ins")), "day", col("cents"))
      .write.mode("overwrite").parquet(stored)
    // post-image fact: deletes gone, updates re-priced, moves re-dated
    val post = facts.filter(!col("is_del")).select(
      when(col("is_mov"), col("day") + expr("INTERVAL 7 DAYS"))
        .otherwise(col("day")).as("day"),
      when(col("is_upd"), col("cents") + col("o_orderkey") % 1000)
        .otherwise(col("cents")).as("cents"))
    // affected key tuples: both images of every changed row
    val affected = facts.filter(col("is_ins") || col("is_del") || col("is_upd"))
      .select(col("day"))
      .unionByName(facts.filter(col("is_mov"))
        .select(col("day"))
        .unionByName(facts.filter(col("is_mov"))
          .select((col("day") + expr("INTERVAL 7 DAYS")).as("day"))))
      .distinct()
    val affN = affected.count()
    val allN = Ingest.parquet(s, stored).count()
    require(affN > 0 && affN.toDouble < 0.25 * allN,
      s"CDC maintenance was not partial: $affN affected of $allN groups")
    Materialize.maintainKeys(
      Ingest.parquet(s, stored), post, Seq("day"), col("cents"), affected)
  }

  val s36Sql =
    """WITH f AS (
      |  SELECT o_orderkey, date_trunc('day', o_orderdate) AS day,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |    (year(o_orderdate) = 1997) AS yr
      |  FROM orders),
      |c AS (
      |  SELECT day, cents,
      |    (yr AND o_orderkey % 13 = 3) AS is_ins,
      |    (yr AND o_orderkey % 13 <> 3 AND o_orderkey % 17 = 5) AS is_del,
      |    (yr AND o_orderkey % 13 <> 3 AND o_orderkey % 17 <> 5
      |        AND o_orderkey % 19 = 7) AS is_upd,
      |    (yr AND o_orderkey % 13 <> 3 AND o_orderkey % 17 <> 5
      |        AND o_orderkey % 19 <> 7 AND o_orderkey % 23 = 11) AS is_mov,
      |    o_orderkey
      |  FROM f),
      |post AS (
      |  SELECT CASE WHEN is_mov THEN day + INTERVAL 7 DAY ELSE day END AS day,
      |    CASE WHEN is_upd THEN cents + o_orderkey % 1000 ELSE cents END AS cents
      |  FROM c WHERE NOT is_del)
      |SELECT day, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(cents) AS BIGINT) AS n_m,
      |  CAST(sum(cents) AS BIGINT) AS sum_m,
      |  CAST(min(cents) AS BIGINT) AS min_m,
      |  CAST(max(cents) AS BIGINT) AS max_m
      |FROM post GROUP BY 1""".stripMargin

  // ---- S37/S38: JOINED materialized view (denormalized rollup) --------------
  // The dashboard query that motivates MVs in the first place is
  // rarely a single-table rollup — it is "revenue by dimension
  // attribute": fact ⋈ dim ⋈ group-by. s37 registers a rollup
  // materialized over orders INNER JOIN customer ON o_custkey =
  // c_custkey, keyed by the DIM attribute c_nationkey, and the gate
  // query is the plain join+aggregate written against both base
  // tables — MvRewriteRule matches the whole join subtree (same two
  // file scans, same key pair, either orientation, IsNotNull
  // join-key constraints discarded as join-implied) and substitutes
  // the rollup: BOTH scans and the join leave the plan, proven
  // in-query. At 100 TB that is a fact-sized shuffle join replaced by
  // an O(|nations|) scan. s38 proves the maintenance half: the join
  // distributes over fact slices ((pre ∪ delta) ⋈ dim = (pre ⋈ dim)
  // ∪ (delta ⋈ dim)), so a fact-append delta refreshes the joined
  // rollup as rollup(delta ⋈ dim) merged in via refreshInto — the
  // fact's history is never rescanned and the dim is joined only
  // against the delta. Oracle: the full join aggregate, so
  // maintained ≡ rebuilt or the row flips.
  private[graft] def s37MvDir(s: SparkSession, dir: String): String =
    Sink.standing("mv_joined", dir) { p =>
      graft.plans.MvCatalog.createJoined(
        s, Sink.artifactName(p),
        Tables.orders(s, dir), Tables.customer(s, dir),
        col("o_custkey"), col("c_custkey"),
        Seq(col("c_nationkey") -> "c_nationkey"), s30Cents, s"$p/nation_cents")
    }

  def s37MvJoin(s: SparkSession, dir: String): DataFrame = {
    s37MvDir(s, dir)
    val ps = GraftSession.scoped(s, MvRewrite)
    val q = Tables.orders(ps, dir)
      .join(Tables.customer(ps, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(s30Cents).as("sum_cents"),
        min(s30Cents).as("min_cents"),
        max(s30Cents).as("max_cents"),
        avg(s30Cents).as("avg_cents"))
    provenRewrite(q, reads = Seq("mv_joined"), gone = Seq("orders.parquet", "customer.parquet"))
  }

  val s37Sql =
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_cents,
      |  CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents,
      |  AVG(CAST(floor(o_totalprice * 100) AS BIGINT)) AS avg_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  private[graft] def s38MvDir(s: SparkSession, dir: String): String =
    Sink.standing("mv_joinedref", dir) { p =>
      val stored = s"$p/nation_cents"
      val cut = lit(S19Cutoff).cast("timestamp")
      val dim = Tables.customer(s, dir)
      def slice(pred: Column) = Tables.orders(s, dir).filter(pred)
        .join(dim, col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), s30Cents.as("m"))
      Materialize.rollup(slice(col("o_orderdate") < cut), "c_mktsegment", col("m"))
        .write.mode("overwrite").parquet(stored)
      Materialize.refreshInto(s, stored,
        Materialize.rollup(slice(col("o_orderdate") >= cut), "c_mktsegment", col("m")),
        "c_mktsegment")
      graft.plans.MvCatalog.registerJoined(
        s, Sink.artifactName(p),
        Tables.orders(s, dir), dim,
        col("o_custkey"), col("c_custkey"),
        Seq(col("c_mktsegment") -> "c_mktsegment"), s30Cents, stored)
    }

  def s38MvJoinRefresh(s: SparkSession, dir: String): DataFrame = {
    s38MvDir(s, dir)
    val ps = GraftSession.scoped(s, MvRewrite)
    val q = Tables.orders(ps, dir)
      .join(Tables.customer(ps, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        count(s30Cents).as("n_m"),
        sum(s30Cents).as("sum_m"),
        min(s30Cents).as("min_m"),
        max(s30Cents).as("max_m"))
    provenRewrite(q, reads = Seq("mv_joinedref"), gone = Seq("orders.parquet", "customer.parquet"))
  }

  val s38Sql =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS n_m,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_m,
      |  CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_m,
      |  CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_m
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  // ---- S40: DIM-side CDC maintenance of a joined MV -------------------------
  // Completes the joined-MV maintenance matrix: fact-append (s38),
  // fact-CDC (s36's recipe on the fact), streaming (s39) — and now
  // the dimension mutating under a denormalized rollup. A customer
  // changing nation moves ALL its orders between rollup groups, so
  // the affected key set is {old nation, new nation} of every
  // changed customer, and [[graft.ops.Materialize.maintainKeys]]
  // applies unchanged with the post-image JOIN as the recompute
  // source: untouched nations pass through from the stored rollup,
  // affected nations re-aggregate fact ⋈ post-dim restricted to
  // those nations (semi-join — at scale the fact side of that
  // recompute is bounded by the moved customers' orders via the
  // join, never the whole fact). The CDC batch re-homes a slice of
  // NATION_3's customers (c_custkey % 5 == 4) to nation 10, so the
  // affected set is exactly {3, 10} of 25 groups — the in-query
  // require proves the maintenance was partial and the oracle is the
  // full post-image join rollup.
  def s40MvJoinDimCdc(s: SparkSession, dir: String): DataFrame = {
    val moved = col("c_nationkey") === 3 && col("c_custkey") % 5 === 4
    val newNation = lit(10)
    val dimPre = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val dimPost = Tables.customer(s, dir).select(col("c_custkey"),
      when(moved, newNation).otherwise(col("c_nationkey")).as("c_nationkey"))
    val facts = Tables.orders(s, dir).select(col("o_custkey"), s30Cents.as("m"))
    def joined(dim: DataFrame) = facts
      .join(dim, col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey"), col("m"))
    val stored = Sink.scratchDir("s40_mv_dimcdc") + "/nation"
    Materialize.rollup(joined(dimPre), "c_nationkey", col("m"))
      .write.mode("overwrite").parquet(stored)
    val affected = Tables.customer(s, dir).filter(moved)
      .select(col("c_nationkey"))
      .unionByName(Tables.customer(s, dir).filter(moved)
        .select(newNation.as("c_nationkey")))
      .distinct()
    val affN = affected.count()
    val allN = Ingest.parquet(s, stored).count()
    require(affN > 0 && affN < allN,
      s"dim-CDC maintenance was not partial: $affN affected of $allN groups")
    Materialize.maintainKeys(
      Ingest.parquet(s, stored), joined(dimPost), Seq("c_nationkey"), col("m"), affected)
  }

  val s40Sql =
    """WITH post AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_nationkey = 3 AND c_custkey % 5 = 4 THEN 10
      |         ELSE c_nationkey END AS c_nationkey
      |  FROM customer)
      |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS n_m,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_m,
      |  CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_m,
      |  CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_m
      |FROM orders JOIN post ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  val s33Sql =
    """SELECT date_trunc('day', o_orderdate) AS day, o_custkey,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_cents,
      |  CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
      |FROM orders GROUP BY 1, 2""".stripMargin

  val s34Sql =
    """SELECT date_trunc('day', o_orderdate) AS day,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_cents,
      |  CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
      |FROM orders WHERE o_custkey % 2 = 0 GROUP BY 1""".stripMargin

  val s41Sql =
    """SELECT date_trunc('day', o_orderdate) AS day,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_cents,
      |  CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
      |FROM orders GROUP BY 1""".stripMargin

  val s30Sql =
    """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_cents,
      |  CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS avg_cents
      |FROM orders GROUP BY 1""".stripMargin

  val j14Sql =
    """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY o_custkey""".stripMargin

  // ---- J15: join size / skew profile (plan WITHOUT running the join) ---------
  // The diagnostic that decides BETWEEN j4's salting, AQE skew splits,
  // or doing nothing: per-key join contribution |L_k|·|R_k| computed
  // from the two sides' key histograms — two partial-agg'd counts and
  // one histogram-to-histogram join (key-cardinality-sized, NEVER the
  // join output) — then rolled into a log2-bucketed skew histogram:
  // (bucket, #keys, output rows from those keys). The whole profile
  // costs two scans + one small shuffle regardless of how explosive
  // the real join would be; floor(log2)+1 is length(bin(x)) in BOTH
  // engines, so the bucketing is integer-exact (a double log2 at a
  // power-of-two boundary is not).
  def j15JoinSizeProfile(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.events(s, dir).filter(col("user_id").isNotNull)
      .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("lc"))
    val r = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("rc"))
    l.join(r, Seq("k"))
      .select((col("lc") * col("rc")).as("contrib"))
      .groupBy(length(bin(col("contrib"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_keys"), sum(col("contrib")).as("rows_in_bucket"))
  }
  val j15Sql =
    """WITH l AS (SELECT user_id AS k, count(*) AS lc FROM events
      |           WHERE user_id IS NOT NULL GROUP BY 1),
      |r AS (SELECT o_custkey AS k, count(*) AS rc FROM orders GROUP BY 1),
      |p AS (SELECT lc * rc AS contrib FROM l JOIN r USING (k))
      |SELECT CAST(length(bin(contrib)) AS BIGINT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_keys,
      |  CAST(sum(contrib) AS BIGINT) AS rows_in_bucket
      |FROM p GROUP BY 1""".stripMargin

  // ---- J10: dynamic partition pruning ---------------------------------------
  // The RUNTIME half of the partition-pruning story (s9 is the static
  // half): the fact side is hive-partitioned on event_type, but which
  // types survive the dim filter (odd event count — an arbitrary
  // DATA-dependent predicate) cannot be known at plan time, so no
  // static partition filter exists. Catalyst's dynamic partition
  // pruning plants a DynamicPruningExpression subquery into the
  // scan's PartitionFilters: the dim side runs first (broadcast), and
  // only the partition directories whose keys it produced are ever
  // listed and read. At 100 TB this is the difference between
  // scanning the whole lake and scanning the joined slice — with zero
  // user-visible predicate on the partition column. PlanGuardSpec
  // pins the DynamicPruningExpression. (The dim deliberately avoids
  // the crossJoin-scalar idiom here: cartesian size estimates defeat
  // DPP's benefit heuristic, so the predicate is self-contained.)
  def j10Dpp(s: SparkSession, dir: String): DataFrame = {
    val out = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("value"), col("event_type"))
    val path = Sink.scratchDir(s"dpp_${Sink.pathTag(dir)}")
    out.write.mode("overwrite").partitionBy("event_type").parquet(path)
    val fact = Ingest.parquet(s, path)
    val dim = Tables.events(s, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_type"))
      .filter(col("n_type") % 2 === 1)
    fact.join(broadcast(dim), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("n_type")).as("n_type"))
  }
  val j10Sql =
    """WITH dim AS (SELECT event_type, count(*) AS n_type FROM events
      |  GROUP BY event_type HAVING count(*) % 2 = 1)
      |SELECT e.event_type, count(*) AS n, max(d.n_type) AS n_type
      |FROM events e JOIN dim d ON e.event_type = d.event_type
      |GROUP BY e.event_type""".stripMargin

  // ---- W7: time-weighted average (TWAP) ------------------------------------
  // The metric-over-irregular-samples aggregate: each observation
  // carries weight = seconds until the user's next event (lead over
  // the per-user timeline; the last observation has no duration and
  // drops), so a value that HELD for an hour outweighs one replaced
  // after a second — the standard TWAP/uptime-metric shape. The
  // window partitions by user (never global); weights are exact
  // microsecond bigints; the weighted sum accumulates in
  // DECIMAL(28,10)·weight (order-free), and the single final
  // division happens in double — bit-identical across engines.
  def w7Twap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val weighted = Tables.events(s, dir).filter(col("ts").isNotNull)
      .select(col("user_id"), col("value"), col("ts"), col("event_id"))
      .withColumn("w_us",
        unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
      .filter(col("w_us").isNotNull)
    weighted.groupBy(col("user_id"))
      .agg(
        sum(col("value").cast("decimal(28,10)") * col("w_us")).as("vw"),
        sum(col("w_us")).as("w_total"))
      .select(col("user_id"),
        (col("vw").cast("double") / col("w_total").cast("double")).as("twap"),
        col("w_total"))
  }
  val w7Sql =
    s"""WITH seq AS (SELECT user_id, value, ts, event_id,
      |    epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) - epoch_us(ts) AS w_us
      |  FROM events WHERE ts IS NOT NULL),
      |g AS (SELECT user_id,
      |    sum(CAST(value AS $Dec) * w_us) AS vw,
      |    CAST(sum(w_us) AS BIGINT) AS w_total
      |  FROM seq WHERE w_us IS NOT NULL GROUP BY user_id)
      |SELECT user_id,
      |  ${toDouble("vw")} / CAST(w_total AS DOUBLE) AS twap,
      |  w_total FROM g""".stripMargin

  // ---- W10: OHLC bar downsampling ------------------------------------------
  // The candlestick resample ([[graft.ops.Aggregates.ohlc]]): per
  // 6-hour bucket the open/high/low/close of the event value stream,
  // endpoints deterministic under duplicate timestamps (min value at
  // the earliest ts / max value at the latest — the tie rule
  // arg_min/arg_max leaves unspecified on both engines).
  def w10Ohlc(s: SparkSession, dir: String): DataFrame =
    graft.ops.Aggregates.ohlc(Tables.events(s, dir), "ts", "value", "6 hours")
  val w10Sql: String =
    """WITH b AS (SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket,
      |    epoch_us(ts) AS tu, value AS v
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |sp AS (SELECT bucket, min(tu) AS mn, max(tu) AS mx,
      |    min(v) AS low, max(v) AS high, CAST(count(*) AS BIGINT) AS n
      |  FROM b GROUP BY 1),
      |op AS (SELECT b.bucket, min(b.v) AS open
      |  FROM b JOIN sp USING (bucket) WHERE b.tu = sp.mn GROUP BY 1),
      |cl AS (SELECT b.bucket, max(b.v) AS close
      |  FROM b JOIN sp USING (bucket) WHERE b.tu = sp.mx GROUP BY 1)
      |SELECT bucket, open, high, low, close, n
      |FROM sp JOIN op USING (bucket) JOIN cl USING (bucket)""".stripMargin

  // ---- W8: interval union (merge overlapping time ranges) ------------------
  // The "union of busy spans" primitive (ad sessions, maintenance
  // windows, GPU occupancy): each event opens an interval
  // [ts, ts + value seconds]; overlapping-or-touching intervals per
  // user merge. Island detection = start beyond the running MAX of
  // prior ends — one per-user window chain on a single (user, start)
  // sort, one agg; epoch-microsecond arithmetic so both engines
  // compare exact integers (floor before the BIGINT cast: Spark's
  // double→long cast truncates where DuckDB's rounds).
  def w8IntervalMerge(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("start_us").asc, col("end_us").asc, col("event_id").asc)
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("start_us"),
        (unix_micros(col("ts")) +
          floor(col("value") * lit(1000000d)).cast("long")).as("end_us"))
      .withColumn("_max_end", max(col("end_us")).over(prior))
      .withColumn("_new",
        when(col("_max_end").isNull || col("start_us") > col("_max_end"), 1)
          .otherwise(0))
      .withColumn("interval_id",
        sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
      .groupBy(col("user_id"), col("interval_id"))
      .agg(count(lit(1)).as("n_merged"),
        min(col("start_us")).as("start_us"), max(col("end_us")).as("end_us"))
  }
  val w8Sql =
    """WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS start_us,
      |    epoch_us(ts) + CAST(floor(value * 1000000) AS BIGINT) AS end_us
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL),
      |m AS (SELECT *, MAX(end_us) OVER (PARTITION BY user_id ORDER BY start_us, end_us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_end FROM t),
      |n AS (SELECT *, CASE WHEN max_end IS NULL OR start_us > max_end THEN 1 ELSE 0 END AS nw FROM m),
      |s AS (SELECT *, CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY start_us, end_us, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS interval_id FROM n)
      |SELECT user_id, interval_id, CAST(count(*) AS BIGINT) AS n_merged,
      |  min(start_us) AS start_us, max(end_us) AS end_us
      |FROM s GROUP BY user_id, interval_id""".stripMargin

  /** Flagship query (SparkEntry.entry): the reference dashboard's
    * "average metric by geography, ranked" question (dashboard_app/
    * app.py:57,74) over testdata — star join, grouped mean, ordered.
    */
  def flagship(s: SparkSession, dir: String): DataFrame =
    starJoin(s, dir)
      .groupBy(col("r_name"), col("n_name"))
      .agg(Aggregates.exactMean(col("c_acctbal")).as("avg_acctbal"),
        count(lit(1)).as("n_customers"))
      .orderBy(col("avg_acctbal").desc_nulls_last, col("r_name").asc, col("n_name").asc)

  val all: Map[String, Row] = Map(
    "p1_normalize_names" -> Row(p1NormalizeNames, p1Sql),
    "p2_coerce_cast" -> Row(p2CoerceCast, p2Sql),
    "p3_null_drop" -> Row(p3NullDrop, p3Sql),
    "p4_filter" -> Row(p4Filter, p4Sql),
    "p5_project" -> Row(p5Project, p5Sql),
    "p6_drop" -> Row(p6Drop, p6Sql),
    "p7_winsorize" -> Row(p7Winsorize, p7Sql),
    "p8_profile" -> Row(p8Profile, p8Sql),
    "p9_target_encode" -> Row(p9TargetEncode, p9Sql),
    "p10_expectations" -> Row(p10Expectations, p10Sql),
    "j1_join_inner" -> Row(j1Join, j1Sql),
    "j1_join_3way" -> Row(j1Join3Way, j1bSql),
    "j2_left_join" -> Row(j2LeftJoin, j2Sql),
    "j3_semi_anti" -> Row(j3SemiAnti, j3Sql),
    "j4_salted_join" -> Row(j4SaltedJoin, j4Sql),
    "j5_asof_join" -> Row(j5AsofJoin, j5Sql),
    "j5_asof_native" -> Row(j5AsofNative, j5Sql),
    "j12_asof_tolerance" -> Row(j12AsofTolerance, j12Sql),
    "j6_range_join" -> Row(j6RangeJoin, j6Sql),
    "j7_interval_overlap" -> Row(j7IntervalOverlap, j7Sql),
    "j8_range_auto" -> Row(j8RangeAuto, j8Sql),
    "j9_basket_pairs" -> Row(j9BasketPairs, j9Sql),
    "f5_json" -> Row(f5Json, f5Sql),
    "f6_math_toolkit" -> Row(f6MathToolkit, f6Sql),
    "f7_string_toolkit" -> Row(f7StringToolkit, f7Sql),
    "o8_window_frames" -> Row(o8WindowFrames, o8Sql),
    "f8_null_toolkit" -> Row(f8NullToolkit, f8Sql),
    "u1_set_ops" -> Row(u1SetOps, u1Sql),
    "a6_rollup" -> Row(a6Rollup, a6Sql),
    "o5_window_analytics" -> Row(o5WindowAnalytics, o5Sql),
    "a1_count" -> Row(a1Count, a1Sql),
    "a2_count_distinct" -> Row(a2CountDistinct, a2Sql),
    "a3_mean" -> Row(a3Mean, a3Sql),
    "a4_group_mean" -> Row(a4GroupMean, a4Sql),
    "a5_group_mean_sort" -> Row(a5GroupMeanSort, a5Sql),
    "o1_sort_desc" -> Row(o1SortDesc, o1Sql),
    "o2_sort_asc" -> Row(o2SortAsc, o2Sql),
    "o3_topk" -> Row(o3TopK, o3Sql),
    "o4_topk_per_group" -> Row(o4TopKPerGroup, o4Sql),
    "f1_string_funcs" -> Row(f1StringFuncs, f1Sql),
    "s7_cached_fanout" -> Row(s7CachedFanout, s7Sql),
    "s1_csv_roundtrip" -> Row(s1CsvRoundtrip, s1Sql),
    "s2_json_roundtrip" -> Row(s2JsonRoundtrip, s2Sql),
    "s3_orc_roundtrip" -> Row(s3OrcRoundtrip, s3oSql),
    "s13_xml_roundtrip" -> Row(s13XmlRoundtrip, s13Sql),
    "s8_upsert" -> Row(s8Upsert, s8Sql),
    "f2_f3_format" -> Row(f2f3Format, f2f3Sql),
    "w1_window_agg" -> Row(w1WindowAgg, w1Sql),
    "w4_hopping_window" -> Row(w4HoppingWindow, w4Sql),
    "w5_funnel" -> Row(w5Funnel, w5Sql),
    "w6_retention" -> Row(w6Retention, w6Sql),
    "w2_sessionize" -> Row(w2Sessionize, w2Sql),
    "w3_session_window" -> Row(w3SessionWindow, w3Sql),
    "f4_datetime" -> Row(f4Datetime, f4Sql),
    "a7_conditional_agg" -> Row(a7ConditionalAgg, a7Sql),
    "a8_pivot" -> Row(a8Pivot, a8Sql),
    "a9_above_avg" -> Row(a9AboveAvg, a9Sql),
    "o6_percentiles" -> Row(o6Percentiles, o6Sql),
    "a10_corr" -> Row(a10Corr, a10Sql),
    "a11_histogram" -> Row(a11Histogram, a11Sql),
    "a12_cube" -> Row(a12Cube, a12Sql),
    "a13_typed_mean" -> Row(a13TypedMean, a13Sql),
    "a14_group_regression" -> Row(a14GroupRegression, a14Sql),
    "o7_rank_family" -> Row(o7RankFamily, o7Sql),
    "o9_moving_median" -> Row(o9MovingMedian, o9Sql),
    "o10_gap_fill" -> Row(o10GapFill, o10Sql),
    "o11_ewma" -> Row(o11Ewma, o11Sql),
    "o12_cumulative_users" -> Row(o12CumulativeUsers, o12Sql),
    "a15_weighted_avg" -> Row(a15WeightedAvg, a15Sql),
    "a16_mode" -> Row(a16Mode, a16Sql),
    "a17_grouping_id" -> Row(a17GroupingId, a17Sql),
    "a18_heavy_hitters" -> Row(a18HeavyHitters, a18Sql),
    "a19_ks_drift" -> Row(a19KsDrift, a19Sql),
    "a21_chi_drift" -> Row(a21ChiDrift, a21Sql),
    "a22_mad_outliers" -> Row(a22MadOutliers, a22Sql),
    "a23_cms_frequency" -> Row(a23CmsFrequency, a23Sql),
    "a24_cusum_drift" -> Row(a24CusumDrift, a24Sql),
    "a25_kmv_distinct" -> Row(a25KmvDistinct, a25Sql),
    "a20_benford" -> Row(a20Benford, a20Sql),
    "s9_partitioned_prune" -> Row(s9PartitionedPrune, s9Sql),
    "s10_zorder" -> Row(s10Zorder, s10Sql),
    "s11_table_checksum" -> Row(s11TableChecksum, s11Sql),
    "s12_compact" -> Row(s12Compact, s12Sql),
    "s14_scd2" -> Row(s14Scd2, s14Sql),
    "s19_rollup_incremental" -> Row(s19RollupIncremental, s19Sql),
    "s21_rollup_ndv" -> Row(s21RollupNdv, s21Sql),
    "s32_rollup_quantile" -> Row(s32RollupQuantile, s32Sql),
    "s42_topk_maintain" -> Row(s42TopkMaintain, s42Sql),
    "s20_snapshot_read" -> Row(s20SnapshotRead, s20Sql),
    "p11_quantile_bin" -> Row(p11QuantileBin, p11Sql),
    "p12_feature_matrix" -> Row(p12FeatureMatrix, p12Sql),
    "w11_streaks" -> Row(w11Streaks, w11Sql),
    "a26_corr_matrix" -> Row(a26CorrMatrix, a26Sql),
    "a27_autocorr" -> Row(a27Autocorr, a27Sql),
    "j13_interp_join" -> Row(j13InterpJoin, j13Sql),
    "s16_stats_collect" -> Row(s16StatsCollect, s16Sql),
    "s17_schema_merge" -> Row(s17SchemaMerge, s17Sql),
    "s18_bucketed_join" -> Row(s18BucketedJoin, s18Sql),
    "s22_zonemap_skip" -> Row(s22ZonemapSkip, s22Sql),
    "s23_snapshot_diff" -> Row(s23SnapshotDiff, s23Sql),
    "s25_cdc_apply" -> Row(s25CdcApply, s25Sql),
    "s26_zonemap_compact" -> Row(s26ZonemapCompact, s22Sql),
    "s27_bloom_skip" -> Row(s27BloomSkip, s27Sql),
    "s28_compound_skip" -> Row(s28CompoundSkip, s28Sql),
    "j14_bloom_join" -> Row(j14BloomJoin, j14Sql),
    "j16_cbo_reorder" -> Row(j16CboReorder, j16Sql),
    "j18_join_elim" -> Row(j18JoinElim, j18Sql),
    "s44_count_pushdown" -> Row(s44CountPushdown, s44Sql),
    "s45_distinct_elim" -> Row(s45DistinctElim, s45Sql),
    "j19_elim_then_mv" -> Row(j19ElimThenMv, j19Sql),
    "j20_left_elim" -> Row(j20LeftElim, j20Sql),
    "j21_chain_elim" -> Row(j21ChainElim, j21Sql),
    "o16_attribution" -> Row(o16Attribution, o16Sql),
    "s48_count_distinct_elim" -> Row(s48CountDistinctElim, s48Sql),
    "s50_ndv_rewrite" -> Row(s50NdvRewrite, s50Sql),
    "s51_ndv_metastore" -> Row(s51NdvMetastore, s51Sql),
    "s52_bitmap_ndv" -> Row(s52BitmapNdv, s52Sql),
    "s53_bitmap_rewrite" -> Row(s53BitmapRewrite, s53Sql),
    "s54_fd_prune" -> Row(s54FdPrune, s54Sql),
    "s55_bitmap_coarsen" -> Row(s55BitmapCoarsen, s55Sql),
    "o17_multi_touch" -> Row(o17MultiTouch, o17Sql),
    "a29_retention_bitmap" -> Row(a29RetentionBitmap, a29Sql),
    "a28_segment_overlap" -> Row(a28SegmentOverlap, a28Sql),
    "s46_deletion_vectors" -> Row(s46DeletionVectors, s46Sql),
    "s47_mor_upsert" -> Row(s47MorUpsert, s47Sql),
    "j17_aqe_skew" -> Row(j17AqeSkew, j17Sql),
    "s30_mv_rewrite" -> Row(s30MvRewrite, s30Sql),
    "s31_mv_refresh" -> Row(s31MvRefresh, s19Sql),
    "s33_mv_multikey" -> Row(s33MvMultikey, s33Sql),
    "s34_mv_coarsen" -> Row(s34MvCoarsen, s34Sql),
    "s35_mv_avg" -> Row(s35MvAvg, s35Sql),
    "s36_mv_cdc" -> Row(s36MvCdc, s36Sql),
    "s37_mv_join" -> Row(s37MvJoin, s37Sql),
    "s38_mv_join_refresh" -> Row(s38MvJoinRefresh, s38Sql),
    "s40_mv_join_dimcdc" -> Row(s40MvJoinDimCdc, s40Sql),
    "s41_mv_choose" -> Row(s41MvChoose, s41Sql),
    "s43_mv_metastore" -> Row(s43MvMetastore, s43Sql),
    "j15_join_size_profile" -> Row(j15JoinSizeProfile, j15Sql),
    "p13_ref_integrity" -> Row(p13RefIntegrity, p13Sql),
    "o15_rfm_segments" -> Row(o15RfmSegments, o15Sql),
    "o15_edges" -> Row(o15Edges, o15EdgesSql),
    "o15_scores" -> Row(o15Scores, o15ScoresSql),
    "o15_rowhash" -> Row(o15RowHash, o15RowHashSql),
    "j10_dpp" -> Row(j10Dpp, j10Sql),
    "w7_twap" -> Row(w7Twap, w7Sql),
    "w10_ohlc" -> Row(w10Ohlc, w10Sql),
    "w8_interval_merge" -> Row(w8IntervalMerge, w8Sql),
    "o13_pareto" -> Row(o13Pareto, o13Sql),
    "o14_transitions" -> Row(o14Transitions, o14Sql),
    "u2_bag_ops" -> Row(u2BagOps, u2Sql),
    "q1_pricing_summary" -> Row(q1PricingSummary, q1Sql),
    "q3_shipping_priority" -> Row(q3ShippingPriority, q3Sql),
    "q5_local_supplier" -> Row(q5LocalSupplier, q5Sql),
    "q6_forecast_revenue" -> Row(q6ForecastRevenue, q6Sql),
    "q10_returned_items" -> Row(q10ReturnedItems, q10Sql),
    "q18_large_orders" -> Row(q18LargeOrders, q18Sql)
  )
}
