package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.{DefCatalog, MvCatalog, MvRewriteRule, NdvCatalog}

/** Laws for the materialized-view substitution (s30): the rewrite
  * must change the PLAN (fact scan → rollup scan) and must not change
  * one bit of the RESULT — and it must refuse every query it cannot
  * prove, leaving the fact scan in place.
  */
class MvRewriteSpec extends SparkSpec {

  import spark.implicits._

  private val dir = privateSf0001()
  private val cents = floor(col("o_totalprice") * 100).cast("long")

  /** `df` with the rule's opt-in conf on. */
  private def mv(df: DataFrame): DataFrame = under(Seq(MvRewriteRule.EnabledKey -> "true"))(df)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  private def scans(df: DataFrame): Set[String] =
    DefCatalog.scanPaths(df.queryExecution.optimizedPlan)

  private def mvReady(): Unit = ParityQueries.s30MvDir(spark, dir)

  test("s30 MV rewrite: rollup scan substituted, results bit-identical") {
    mvReady()
    val unrewritten = rows(ParityQueries.s30UserQuery(spark, dir))
    val (rewritten, paths) = {
      val q = mv(ParityQueries.s30UserQuery(spark, dir))
      (rows(q), scans(q))
    }
    assert(paths.exists(_.contains("mv_orders")), paths)
    assert(!paths.exists(_.contains("orders.parquet")), paths)
    assert(rewritten == unrewritten)
  }

  test("filter on the group key pushes onto the rollup and stays exact") {
    mvReady()
    def q: DataFrame = Tables.orders(spark, dir)
      .filter(col("o_custkey") % 7 === 0)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sum(cents).as("sum_cents"))
    val plain = rows(q)
    val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
    assert(paths.exists(_.contains("mv_orders")), paths)
    assert(!paths.exists(_.contains("orders.parquet")), paths)
    assert(rewritten == plain)
  }

  test("non-derivable aggregate (count_distinct) leaves the fact scan") {
    mvReady()
    val q = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(countDistinct(col("o_orderpriority")).as("nd"))
    val paths = scans(mv(q))
    assert(paths.exists(_.contains("orders.parquet")), paths)
  }

  test("a different metric expression leaves the fact scan") {
    mvReady()
    val q = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 200).cast("long")).as("x"))
    val paths = scans(mv(q))
    assert(paths.exists(_.contains("orders.parquet")), paths)
  }

  test("a filter on a non-key column leaves the fact scan") {
    mvReady()
    val q = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(cents).as("s"))
    val paths = scans(mv(q))
    assert(paths.exists(_.contains("orders.parquet")), paths)
  }

  test("computed-key MV: grouping by the key EXPRESSION rewrites") {
    val day = date_trunc("DAY", col("o_orderdate"))
    val path = graft.ops.Sink.scratchDir("mv_orders_day_test") + "/daily"
    MvCatalog.create(spark, "test_orders_daily",
      Tables.orders(spark, dir), Seq(day -> "day"), cents, path)
    try {
      def q: DataFrame = Tables.orders(spark, dir)
        .groupBy(day.as("day"))
        .agg(count(lit(1)).as("n_orders"),
          min(cents).as("min_cents"), max(cents).as("max_cents"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.contains("mv_orders_day_test")), paths)
      assert(!paths.exists(_.contains("orders.parquet")), paths)
      assert(rewritten == plain)
    } finally MvCatalog.unregister("test_orders_daily")
  }

  // ---- multi-key + lattice coarsening (r14 VERDICT Next #4/#5) ----
  private val day = date_trunc("DAY", col("o_orderdate"))

  private def withTupleMv[T](body: String => T): T = {
    val path = graft.ops.Sink.scratchDir("mv_tuple_test") + "/day_cust"
    MvCatalog.create(spark, "test_orders_day_cust",
      Tables.orders(spark, dir),
      Seq(day -> "day", col("o_custkey") -> "o_custkey"), cents, path)
    try body(path)
    finally MvCatalog.unregister("test_orders_day_cust")
  }

  test("multi-key MV: exact-grain 2-key group-by rewrites bit-identically") {
    withTupleMv { _ =>
      def q: DataFrame = Tables.orders(spark, dir)
        .groupBy(day.as("day"), col("o_custkey"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"),
          min(cents).as("lo"), max(cents).as("hi"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.contains("mv_tuple_test")), paths)
      assert(!paths.exists(_.contains("orders.parquet")), paths)
      assert(rewritten == plain)
    }
  }

  test("coarsening: group-by on a strict key subset re-aggregates the rollup") {
    // day is NOT a key of any other MV registered in this suite (s30's
    // is custkey-keyed), so only the tuple MV's coarsening can answer.
    withTupleMv { _ =>
      def q: DataFrame = Tables.orders(spark, dir)
        .groupBy(day.as("day"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"),
          min(cents).as("lo"), max(cents).as("hi"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.contains("mv_tuple_test")), paths)
      assert(!paths.exists(_.contains("orders.parquet")), paths)
      assert(rewritten == plain)
    }
  }

  test("coarsening: the GLOBAL aggregate (empty group-by) is the lattice bottom") {
    withTupleMv { _ =>
      def q: DataFrame = Tables.orders(spark, dir)
        .agg(count(lit(1)).as("n"), sum(cents).as("s"),
          min(cents).as("lo"), max(cents).as("hi"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      // ANY registered rollup over this fact can answer the lattice
      // bottom (the cheapest stored one wins when several are live) —
      // the law is that the FACT scan is gone and the result is
      // bit-identical, whichever rollup answered.
      assert(!paths.exists(_.contains("orders.parquet")), paths)
      assert(paths.nonEmpty, "expected a rollup scan in the plan")
      assert(rewritten == plain)
    }
  }

  test("empty-slice GLOBAL aggregate: derived counts coalesce to 0, not NULL") {
    // a pushed key-filter matching no rollup rows still yields ONE
    // output row on a global aggregate; count(*)/count(metric) must be
    // 0 there while sum-over-empty is NULL — the ADVICE r15 finding:
    // an uncoalesced sum(n) would return NULL where count returns 0
    withTupleMv { _ =>
      def q: DataFrame = Tables.orders(spark, dir)
        .filter(col("o_custkey") === -12345) // matches nothing
        .agg(count(lit(1)).as("n"), count(cents).as("n_m"),
          sum(cents).as("s"), min(cents).as("lo"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(!paths.exists(_.contains("orders.parquet")), paths)
      assert(rewritten == plain)
      assert(rewritten == Seq(Seq(0L, 0L, null, null)), rewritten)
    }
  }

  test("coarsening: a filter on the NON-grouped key pushes onto the rollup") {
    withTupleMv { _ =>
      def q: DataFrame = Tables.orders(spark, dir)
        .filter(col("o_custkey") % 3 === 1)
        .groupBy(day.as("day"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.contains("mv_tuple_test")), paths)
      assert(!paths.exists(_.contains("orders.parquet")), paths)
      assert(rewritten == plain)
    }
  }

  test("a group-by mixing a key with a NON-key column leaves the fact scan") {
    withTupleMv { _ =>
      val q = Tables.orders(spark, dir)
        .groupBy(day.as("day"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"))
      val paths = scans(mv(q))
      assert(paths.exists(_.contains("orders.parquet")), paths)
    }
  }

  test("multi-key rollup merge law: base ⊕ delta ≡ whole-table rollup") {
    import graft.ops.Materialize
    val facts = Tables.orders(spark, dir)
      .select(day.as("day"), col("o_custkey"), cents.as("m"))
    val keys = Seq("day", "o_custkey")
    val base = Materialize.rollup(facts.filter(col("o_custkey") % 2 === 0), keys, col("m"))
    val delta = Materialize.rollup(facts.filter(col("o_custkey") % 2 =!= 0), keys, col("m"))
    val merged = rows(Materialize.merge(base, delta, keys))
    val whole = rows(Materialize.rollup(facts, keys, col("m")))
    assert(merged == whole)
  }

  // ---- avg / count(metric) derivation (s35) ----

  test("avg(metric) and count(metric) rewrite bit-identically") {
    mvReady()
    def q: DataFrame = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(avg(cents).as("a"), count(cents).as("nm"), sum(cents).as("s"))
    val plain = rows(q)
    val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
    assert(paths.exists(_.contains("mv_orders")), paths)
    assert(!paths.exists(_.contains("orders.parquet")), paths)
    assert(rewritten == plain)
  }

  test("avg/count(metric) with NULL metrics: n_m (not n) is the divisor") {
    // a fact with nulls in the metric is exactly where avg ≠ sum/count(*)
    // and count(metric) ≠ count(*) — the rewrite must stay bit-identical
    // anyway, including the all-null group (avg NULL, count 0)
    val path = graft.ops.Sink.scratchDir("mv_nulls_test")
    val fact = path + "/fact"
    spark.range(0, 300)
      .select(
        (col("id") % 7).as("k"),
        when(col("id") % 3 === 0, lit(null).cast("long")) // every group: mixed nulls
          .otherwise(col("id") * 11).as("m0"))
      // group 6 entirely null
      .select(col("k"), when(col("k") === 6, lit(null).cast("long"))
        .otherwise(col("m0")).as("m"))
      .write.mode("overwrite").parquet(fact)
    val f = spark.read.parquet(fact)
    MvCatalog.create(spark, "test_nulls_mv", f, Seq(col("k") -> "k"), col("m"), path + "/mv")
    try {
      def q: DataFrame = spark.read.parquet(fact)
        .groupBy(col("k"))
        .agg(avg(col("m")).as("a"), count(col("m")).as("nm"),
          count(lit(1)).as("n"), sum(col("m")).as("s"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(p => p.contains("mv_nulls_test") && p.endsWith("/mv")), paths)
      assert(!paths.exists(_.endsWith("/fact")), paths)
      assert(rewritten == plain)
      // the law has teeth only if the fixture really diverges n from n_m
      val g = q.collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      assert(g.exists { case (_, (nm, n)) => nm != n }, "fixture lost its nulls")
    } finally MvCatalog.unregister("test_nulls_mv")
  }

  test("avg under coarsening re-aggregates sum_m/n_m, not an avg of avgs") {
    withTupleMv { _ =>
      def q: DataFrame = Tables.orders(spark, dir)
        .groupBy(day.as("day"))
        .agg(avg(cents).as("a"), count(lit(1)).as("n"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.contains("mv_tuple_test")), paths)
      assert(!paths.exists(_.contains("orders.parquet")), paths)
      assert(rewritten == plain)
    }
  }

  test("avg(DISTINCT metric) is not derivable and leaves the fact scan") {
    mvReady()
    val q = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(expr("avg(DISTINCT CAST(floor(o_totalprice * 100) AS LONG))").as("a"))
    val paths = scans(mv(q))
    assert(paths.exists(_.contains("orders.parquet")), paths)
  }

  // ---- joined MV (s37/s38) ----

  private def withJoinedMv[T](body: String => T): T = {
    val path = graft.ops.Sink.scratchDir("mv_joined_law") + "/nation"
    MvCatalog.createJoined(spark, "test_joined_mv",
      Tables.orders(spark, dir), Tables.customer(spark, dir),
      col("o_custkey"), col("c_custkey"),
      Seq(col("c_nationkey") -> "c_nationkey"), cents, path)
    try body(path)
    finally MvCatalog.unregister("test_joined_mv")
  }

  test("joined MV: the fact ⋈ dim aggregate rewrites, both base scans gone") {
    withJoinedMv { _ =>
      def q: DataFrame = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"),
          min(cents).as("lo"), max(cents).as("hi"), avg(cents).as("a"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.contains("mv_joined_law")), paths)
      assert(!paths.exists(p =>
        p.contains("orders.parquet") || p.contains("customer.parquet")), paths)
      assert(rewritten == plain)
    }
  }

  test("joined MV: swapped join sides still rewrite (dim ⋈ fact)") {
    withJoinedMv { _ =>
      def q: DataFrame = Tables.customer(spark, dir)
        .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.contains("mv_joined_law")), paths)
      assert(!paths.exists(p =>
        p.contains("orders.parquet") || p.contains("customer.parquet")), paths)
      assert(rewritten == plain)
    }
  }

  test("joined MV: a key filter pushes; the global aggregate coarsens") {
    withJoinedMv { _ =>
      def q: DataFrame = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
        .filter(col("c_nationkey") % 5 === 2)
        .agg(count(lit(1)).as("n"), sum(cents).as("s"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.contains("mv_joined_law")), paths)
      assert(!paths.exists(p =>
        p.contains("orders.parquet") || p.contains("customer.parquet")), paths)
      assert(rewritten == plain)
    }
  }

  test("joined MV: a DIFFERENT join key pair leaves the base scans") {
    withJoinedMv { _ =>
      // same two tables, same group key, but joined on nationkey —
      // different rows entirely; the registered proof must not apply
      val q = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_nationkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"))
      val paths = scans(mv(q))
      assert(paths.exists(_.contains("orders.parquet")), paths)
    }
  }

  test("joined MV: an OUTER join of the same tables leaves the base scans") {
    withJoinedMv { _ =>
      val q = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"))
      val paths = scans(mv(q))
      assert(paths.exists(_.contains("orders.parquet")), paths)
    }
  }

  test("joined MV: a non-key filter on either side leaves the base scans") {
    withJoinedMv { _ =>
      val q1 = Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"))
      assert(scans(mv(q1)).exists(_.contains("orders.parquet")))
      val q2 = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir).filter(col("c_acctbal") > 0),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"))
      assert(scans(mv(q2)).exists(_.contains("orders.parquet")))
    }
  }

  test("joined MV never answers a bare fact aggregate") {
    withJoinedMv { _ =>
      // without the join, orders rows with customers absent from the
      // dim (none here, but unprovable) would be silently dropped —
      // the rule must not use the joined rollup
      val q = Tables.orders(spark, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(cents).as("s"))
      val paths = scans(mv(q))
      // an earlier-registered SINGLE-table MV (s30's, JVM-global) may
      // legitimately answer this — the law is only that the JOINED
      // rollup never does
      assert(!paths.exists(_.contains("mv_joined_law")), paths)
    }
  }

  test("HAVING (a filter above the aggregate) survives the rewrite untouched") {
    // the rule rewrites the Aggregate node; a predicate over its
    // OUTPUT is parent-side and must compose transparently
    mvReady()
    def q: DataFrame = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sum(cents).as("s"))
      .filter(col("n_orders") >= 2 && col("s") > 0)
    val plain = rows(q)
    val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
    assert(paths.exists(_.contains("mv_orders")), paths)
    assert(!paths.exists(_.contains("orders.parquet")), paths)
    assert(rewritten == plain)
  }

  test("joined MV refresh law: (pre ⋈ dim) ⊕ (delta ⋈ dim) ≡ whole ⋈ dim") {
    import graft.ops.Materialize
    val dim = Tables.customer(spark, dir)
    def slice(pred: org.apache.spark.sql.Column) =
      Tables.orders(spark, dir).filter(pred)
        .join(dim, col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), cents.as("m"))
    val whole = rows(Materialize.rollup(
      Tables.orders(spark, dir)
        .join(dim, col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), cents.as("m")), "c_nationkey", col("m")))
    val merged = rows(Materialize.merge(
      Materialize.rollup(slice(col("o_orderkey") % 3 === 0), "c_nationkey", col("m")),
      Materialize.rollup(slice(col("o_orderkey") % 3 =!= 0), "c_nationkey", col("m")),
      "c_nationkey"))
    assert(merged == whole)
  }

  // ---- metastore persistence: save → unregister → load (s43) ----

  test("catalog save/load round-trips a computed-key MV: rewrite dead, then alive again") {
    val day2 = date_trunc("DAY", col("o_orderdate"))
    val base = graft.ops.Sink.scratchDir("mv_meta_law")
    MvCatalog.create(spark, "test_meta_daily", Tables.orders(spark, dir),
      Seq(day2 -> "day"), cents, base + "/daily")
    try {
      def q: DataFrame = Tables.orders(spark, dir)
        .groupBy(day2.as("day"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"),
          min(cents).as("lo"), max(cents).as("hi"))
      val plain = rows(q)
      MvCatalog.save(spark, base + "/catalog")
      MvCatalog.unregister("test_meta_daily")
      val dead = scans(mv(q))
      assert(dead.exists(_.contains("orders.parquet")), dead)
      MvCatalog.load(spark, base + "/catalog")
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.contains("mv_meta_law")), paths)
      assert(!paths.exists(_.contains("orders.parquet")), paths)
      assert(rewritten == plain)
    } finally MvCatalog.unregister("test_meta_daily")
  }

  test("catalog save/load round-trips a JOINED MV with both join keys") {
    withJoinedMv { _ =>
      val base = graft.ops.Sink.scratchDir("mv_meta_jlaw")
      def q: DataFrame = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"))
      val plain = rows(q)
      MvCatalog.save(spark, base + "/catalog")
      MvCatalog.unregister("test_joined_mv")
      assert(scans(mv(q)).exists(_.contains("orders.parquet")))
      MvCatalog.load(spark, base + "/catalog")
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.contains("mv_joined_law")), paths)
      assert(!paths.exists(p =>
        p.contains("orders.parquet") || p.contains("customer.parquet")), paths)
      assert(rewritten == plain)
    }
  }

  // ---- cost-based choice among proven candidates (s41) ----

  test("cost choice: the smaller proven MV wins regardless of name order") {
    // fine (day × custkey) named to sort FIRST, coarse (day-only,
    // far fewer rows) named to sort LAST — name order favors the big
    // artifact, so only a cost-driven choice reads the small one
    val pFine = graft.ops.Sink.scratchDir("mv_cost_fine") + "/day_cust"
    val pCoarse = graft.ops.Sink.scratchDir("mv_cost_coarse") + "/daily"
    MvCatalog.create(spark, "aaa_cost_fine", Tables.orders(spark, dir),
      Seq(day -> "day", col("o_custkey") -> "o_custkey"), cents, pFine)
    MvCatalog.create(spark, "zzz_cost_coarse", Tables.orders(spark, dir),
      Seq(day -> "day"), cents, pCoarse)
    try {
      def q: DataFrame = Tables.orders(spark, dir)
        .groupBy(day.as("day"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"),
          min(cents).as("lo"), max(cents).as("hi"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.contains("mv_cost_coarse")), paths)
      assert(!paths.exists(_.contains("mv_cost_fine")), paths)
      assert(!paths.exists(_.contains("orders.parquet")), paths)
      assert(rewritten == plain)
    } finally {
      MvCatalog.unregister("aaa_cost_fine")
      MvCatalog.unregister("zzz_cost_coarse")
    }
  }

  test("cost choice: an MV that cannot PROVE the query never wins on size") {
    // the daily MV is the smaller artifact but cannot answer a custkey
    // filter — cost ranks candidates, it must never override the proof
    val pFine = graft.ops.Sink.scratchDir("mv_cost_fine2") + "/day_cust"
    val pCoarse = graft.ops.Sink.scratchDir("mv_cost_coarse2") + "/daily"
    MvCatalog.create(spark, "aaa_cost_fine2", Tables.orders(spark, dir),
      Seq(day -> "day", col("o_custkey") -> "o_custkey"), cents, pFine)
    MvCatalog.create(spark, "zzz_cost_coarse2", Tables.orders(spark, dir),
      Seq(day -> "day"), cents, pCoarse)
    try {
      def q: DataFrame = Tables.orders(spark, dir)
        .filter(col("o_custkey") % 3 === 1)
        .groupBy(day.as("day"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.contains("mv_cost_fine2")), paths)
      assert(!paths.exists(_.contains("mv_cost_coarse2")), paths)
      assert(!paths.exists(_.contains("orders.parquet")), paths)
      assert(rewritten == plain)
    } finally {
      MvCatalog.unregister("aaa_cost_fine2")
      MvCatalog.unregister("zzz_cost_coarse2")
    }
  }

  test("disabled conf leaves every plan untouched even with MVs registered") {
    mvReady()
    // the product session carries the rule; EnabledKey defaults to false
    val paths = scans(ParityQueries.s30UserQuery(spark, dir))
    assert(paths.exists(_.contains("orders.parquet")), paths)
  }

  // ---- the exactness-gated count-DISTINCT leg (s50, r15 VERDICT #2) ----

  private def withNdvMv[T](k: Int)(body: String => T): T = {
    val path = graft.ops.Sink.scratchDir(s"ndv_mv_test_k$k") + "/month_cust"
    NdvCatalog.create(spark, s"test_ndv_k$k",
      Tables.orders(spark, dir),
      Seq(date_trunc("MONTH", col("o_orderdate")) -> "month"),
      col("o_custkey"), k, path)
    try body(path)
    finally NdvCatalog.unregister(s"test_ndv_k$k")
  }

  private def ndvQuery: DataFrame = Tables.orders(spark, dir)
    .groupBy(date_trunc("MONTH", col("o_orderdate")).as("month"))
    .agg(countDistinct(col("o_custkey")).as("n_cust"))

  test("NDV rewrite: sketch scan substituted, count(DISTINCT) bit-identical") {
    withNdvMv(4096) { _ =>
      val plain = rows(ndvQuery)
      val (rewritten, paths) = (rows(mv(ndvQuery)), scans(mv(ndvQuery)))
      assert(paths.exists(_.contains("ndv_mv_test")), paths)
      assert(!paths.exists(_.contains("orders.parquet")), paths)
      assert(rewritten == plain)
    }
  }

  test("NDV rewrite: a key filter pushes onto the sketch and stays exact") {
    withNdvMv(4096) { _ =>
      def q: DataFrame = Tables.orders(spark, dir)
        .filter(date_trunc("MONTH", col("o_orderdate")) >=
          lit("1995-01-01").cast("timestamp"))
        .groupBy(date_trunc("MONTH", col("o_orderdate")).as("month"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.contains("ndv_mv_test")), paths)
      assert(!paths.exists(_.contains("orders.parquet")), paths)
      assert(rewritten == plain)
    }
  }

  test("NDV rewrite: SATURATION disqualifies — a truncated sketch never answers") {
    // k = 2 saturates every month at sf0.001; register must flag it
    // and the rewrite must leave the fact scan rather than estimate
    withNdvMv(2) { _ =>
      val paths = scans(mv(ndvQuery))
      assert(paths.exists(_.contains("orders.parquet")), paths)
    }
  }

  test("NDV rewrite: coarser grouping than the registered keys disqualifies") {
    // count(DISTINCT) does not merge across groups — a global NDV
    // cannot be summed from per-month sizes, so the rewrite refuses
    withNdvMv(4096) { _ =>
      val q = Tables.orders(spark, dir)
        .agg(countDistinct(col("o_custkey")).as("n_cust"))
      val paths = scans(mv(q))
      assert(paths.exists(_.contains("orders.parquet")), paths)
    }
  }

  test("NDV rewrite: a non-id count(DISTINCT) leaves the fact scan") {
    withNdvMv(4096) { _ =>
      val q = Tables.orders(spark, dir)
        .groupBy(date_trunc("MONTH", col("o_orderdate")).as("month"))
        .agg(countDistinct(col("o_orderpriority")).as("nd"))
      val paths = scans(mv(q))
      assert(paths.exists(_.contains("orders.parquet")), paths)
    }
  }

  test("NDV constraint is point-in-time: fact files appended after register disqualify") {
    val base = graft.ops.Sink.scratchDir("ndv_stale_law")
    Seq((1L, "a"), (2L, "a"), (2L, "b")).toDF("id", "g")
      .write.mode("overwrite").parquet(base + "/fact")
    def fact = spark.read.parquet(base + "/fact")
    NdvCatalog.create(spark, "law_ndv_stale", fact,
      Seq(col("g") -> "g"), col("id"), 64, base + "/mv")
    try {
      def q: DataFrame = fact.groupBy(col("g"))
        .agg(countDistinct(col("id")).as("nd"))
      assert(!scans(mv(q)).exists(_.contains("/fact")),
        "fresh snapshot should rewrite")
      Seq((9L, "a")).toDF("id", "g").write.mode("append").parquet(base + "/fact")
      assert(scans(mv(q)).exists(_.contains("/fact")),
        "drifted fact files must keep the fact scan")
      assert(rows(mv(q)) == rows(q), "post-drift answer stays correct")
    } finally NdvCatalog.unregister("law_ndv_stale")
  }

  test("MV definition is point-in-time: a fact file appended after create keeps the fact scan") {
    val base = graft.ops.Sink.scratchDir("mv_stale_law")
    Seq((1L, "a"), (2L, "a"), (5L, "b")).toDF("m", "g")
      .write.mode("overwrite").parquet(base + "/fact")
    def fact = spark.read.parquet(base + "/fact")
    MvCatalog.create(spark, "law_mv_stale", fact, Seq(col("g") -> "g"), col("m"), base + "/mv")
    try {
      def q: DataFrame = fact.groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("m")).as("s"))
      assert(!scans(mv(q)).exists(_.endsWith("/fact")),
        "fresh snapshot should rewrite")
      Seq((9L, "a")).toDF("m", "g").write.mode("append").parquet(base + "/fact")
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.endsWith("/fact")),
        s"a drifted fact must keep the fact scan, not serve the stale rollup; scans: $paths")
      assert(rewritten == rows(q))
      assert(rewritten == Seq(Seq("a", 3L, 12L), Seq("b", 1L, 5L)))
    } finally MvCatalog.unregister("law_mv_stale")
  }

  test("joined MV definition is point-in-time: a dim file appended after create keeps the join") {
    val base = graft.ops.Sink.scratchDir("mv_joined_stale_law")
    // fk 3 has no dim row yet: the inner join drops it
    Seq((1L, 10L), (2L, 20L), (2L, 30L), (3L, 40L)).toDF("fk", "m")
      .write.mode("overwrite").parquet(base + "/fact")
    Seq((1L, "x"), (2L, "y")).toDF("dk", "seg")
      .write.mode("overwrite").parquet(base + "/dim")
    def fact = spark.read.parquet(base + "/fact")
    def dim = spark.read.parquet(base + "/dim")
    MvCatalog.createJoined(spark, "law_mv_joined_stale", fact, dim,
      col("fk"), col("dk"), Seq(col("seg") -> "seg"), col("m"), base + "/mv")
    try {
      def q: DataFrame = fact.join(dim, col("fk") === col("dk"))
        .groupBy(col("seg")).agg(count(lit(1)).as("n"), sum(col("m")).as("s"))
      assert(!scans(mv(q)).exists(_.endsWith("/dim")),
        "fresh snapshot should rewrite")
      // only the DIM drifts: its new row joins an existing fact row, so
      // the stored rollup is stale although the fact files are unchanged
      Seq((3L, "x")).toDF("dk", "seg").write.mode("append").parquet(base + "/dim")
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.endsWith("/dim")) && paths.exists(_.endsWith("/fact")),
        s"a drifted dim must keep the join, not serve the stale rollup; scans: $paths")
      assert(rewritten == rows(q))
      assert(rewritten == Seq(Seq("x", 2L, 50L), Seq("y", 2L, 50L)))
    } finally MvCatalog.unregister("law_mv_joined_stale")
  }

  test("NDV rewrite: NULL-keyed groups and all-NULL-id groups stay exact") {
    // count(DISTINCT id) skips null ids but the GROUP still appears
    // (n = 0); groupBy keeps a NULL key group. Both shapes must
    // round-trip the sketch artifact exactly.
    val base = graft.ops.Sink.scratchDir("ndv_null_law")
    Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "a"), (1L, null), (3L, null),
      (null, "b"), (null, "b"))
      .toDF("id", "g")
      .write.mode("overwrite").parquet(base + "/fact")
    def fact = spark.read.parquet(base + "/fact")
    NdvCatalog.create(spark, "law_ndv_nulls", fact,
      Seq(col("g") -> "g"), col("id"), 64, base + "/mv")
    try {
      def q: DataFrame = fact.groupBy(col("g"))
        .agg(countDistinct(col("id")).as("nd"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(!paths.exists(_.contains("/fact")), paths)
      assert(rewritten == plain)
      // the law is not vacuous: a NULL-key group and a zero-NDV group
      assert(plain.exists(r => r(0) == null))
      assert(plain.exists(r => r(1) == 0L))
    } finally NdvCatalog.unregister("law_ndv_nulls")
  }

  test("NDV metastore reload RE-VALIDATES: a stale artifact refuses exactness") {
    // the sharp case the file-snapshot guard alone cannot catch: the
    // fact drifts while the "JVM is down", then load() re-registers
    // against TODAY's files — the snapshot is fresh, unsaturation and
    // collision-freedom still pass, but the ARTIFACT predates the
    // drift and would serve a wrong count. The extensional
    // artifact ≡ fact validation (per-group size(hs) vs true distinct
    // hash count) must flip exactOk and keep the fact scan.
    val base = graft.ops.Sink.scratchDir("ndv_meta_drift_law")
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "g")
      .write.mode("overwrite").parquet(base + "/fact")
    def fact = spark.read.parquet(base + "/fact")
    NdvCatalog.create(spark, "law_ndv_meta", fact,
      Seq(col("g") -> "g"), col("id"), 64, base + "/mv")
    NdvCatalog.save(spark, base + "/catalog")
    NdvCatalog.unregister("law_ndv_meta")
    try {
      def q: DataFrame = fact.groupBy(col("g"))
        .agg(countDistinct(col("id")).as("nd"))
      // drift while "down": a new distinct id lands in group a
      Seq((9L, "a")).toDF("id", "g").write.mode("append").parquet(base + "/fact")
      NdvCatalog.load(spark, base + "/catalog")
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.contains("/fact")),
        "a stale NDV artifact must never answer the query")
      assert(rewritten == rows(q))
      // and a REBUILD over the drifted fact restores the rewrite
      NdvCatalog.create(spark, "law_ndv_meta", fact,
        Seq(col("g") -> "g"), col("id"), 64, base + "/mv")
      val paths2 = scans(mv(q))
      assert(!paths2.exists(_.contains("/fact")), paths2)
    } finally NdvCatalog.unregister("law_ndv_meta")
  }

  test("NDV proof: a foreign artifact with every row written twice never answers (KMV and bitmap)") {
    // each stored count still equals its group's distinct count, but
    // the rewrite sums two rows per group: the proof's one-row-per-key
    // clause must refuse it
    val base = graft.ops.Sink.scratchDir("ndv_doubled_law")
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "g")
      .write.mode("overwrite").parquet(base + "/fact")
    def fact = spark.read.parquet(base + "/fact")
    def q: DataFrame = fact.groupBy(col("g")).agg(countDistinct(col("id")).as("nd"))
    val plain = rows(q)
    val keys = Seq(col("g") -> "g")
    val kinds: Seq[(String, String => Unit, String => Unit)] = Seq(
      ("kmv", p => NdvCatalog.create(spark, "law_ndv_doubled", fact, keys, col("id"), 64, p),
        p => NdvCatalog.register(spark, "law_ndv_doubled", fact, keys, col("id"), 64, p)),
      ("bitmap", p => NdvCatalog.createBitmap(spark, "law_ndv_doubled", fact, keys, col("id"), p),
        p => NdvCatalog.registerBitmap(spark, "law_ndv_doubled", fact, keys, col("id"), p)))
    for ((kind, create, register) <- kinds) try {
      create(s"$base/$kind")
      assert(!scans(mv(q)).exists(_.endsWith("/fact")), s"$kind: the built artifact rewrites")
      val once = spark.read.parquet(s"$base/$kind")
      once.union(once).write.mode("overwrite").parquet(s"$base/${kind}_twice")
      register(s"$base/${kind}_twice")
      val (got, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.endsWith("/fact")),
        s"$kind: a doubled artifact must keep the fact scan; scans: $paths")
      assert(got == plain)
    } finally NdvCatalog.unregister("law_ndv_doubled")
  }

  test("NDV proof: a foreign bitmap artifact with the right counts but other ids never answers") {
    // per group the stored cardinality equals the fact's distinct count
    // (a: 3, b: 1), but the ids differ (99 for 5), so the coarsened
    // global count(DISTINCT) would union to 3 where the fact holds 4
    val base = graft.ops.Sink.scratchDir("ndv_foreign_ids_law")
    Seq((1L, "a"), (2L, "a"), (5L, "a"), (99L, "b")).toDF("id", "g")
      .write.mode("overwrite").parquet(base + "/fact")
    graft.ops.Materialize.bitmapSketch(
      Seq((1L, "a"), (2L, "a"), (99L, "a"), (99L, "b")).toDF("id", "g"), Seq("g"), "id")
      .write.mode("overwrite").parquet(base + "/bm")
    def fact = spark.read.parquet(base + "/fact")
    NdvCatalog.registerBitmap(spark, "law_ndv_foreign_ids", fact,
      Seq(col("g") -> "g"), col("id"), base + "/bm")
    try {
      def q: DataFrame = fact.agg(countDistinct(col("id")).as("nd"))
      val (got, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.endsWith("/fact")),
        s"a bitmap artifact holding other ids must keep the fact scan; scans: $paths")
      assert(got == rows(q))
      assert(got == Seq(Seq(4L)))
    } finally NdvCatalog.unregister("law_ndv_foreign_ids")
  }

  // ---- the bitmap count-DISTINCT leg (s52/s53): exact at ANY grain ----

  test("bitmap NDV rewrite: fires where KMV saturates, results bit-identical") {
    // PRIORITY grain: ~every customer in each of 5 groups — k=64 KMV
    // must refuse (saturated), the bitmap artifact must answer
    val base = graft.ops.Sink.scratchDir("bm_mv_test")
    def q: DataFrame = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"))
    NdvCatalog.create(spark, "test_bm_kmv", Tables.orders(spark, dir),
      Seq(col("o_orderpriority") -> "prio"), col("o_custkey"), 64, base + "/kmv")
    try {
      assert(scans(mv(q)).exists(_.contains("orders.parquet")),
        "saturated KMV must leave the fact scan")
    } finally NdvCatalog.unregister("test_bm_kmv")
    NdvCatalog.createBitmap(spark, "test_bm", Tables.orders(spark, dir),
      Seq(col("o_orderpriority") -> "prio"), col("o_custkey"), base + "/bm")
    try {
      val plain = rows(q)
      val (rewritten, paths) = (rows(mv(q)), scans(mv(q)))
      assert(paths.exists(_.contains("bm_mv_test")), paths)
      assert(!paths.exists(_.contains("orders.parquet")), paths)
      assert(rewritten == plain)
    } finally NdvCatalog.unregister("test_bm")
  }

  test("bitmap NDV constraint is point-in-time: an appended fact file disqualifies") {
    val base = graft.ops.Sink.scratchDir("bm_stale_law")
    Seq((1L, "a"), (2L, "a"), (2L, "b")).toDF("id", "g")
      .write.mode("overwrite").parquet(base + "/fact")
    def fact = spark.read.parquet(base + "/fact")
    NdvCatalog.createBitmap(spark, "law_bm_stale", fact,
      Seq(col("g") -> "g"), col("id"), base + "/mv")
    try {
      def q: DataFrame = fact.groupBy(col("g"))
        .agg(countDistinct(col("id")).as("nd"))
      assert(!scans(mv(q)).exists(_.contains("/fact")),
        "fresh snapshot should rewrite")
      // drift the fact under the same directory: snapshot mismatch
      Seq((9L, "a")).toDF("id", "g").write.mode("append").parquet(base + "/fact")
      val paths = scans(mv(q))
      assert(paths.exists(_.contains("/fact")),
        s"drifted fact must disqualify the bitmap rewrite; scans: $paths")
      // re-create against today's files: validation re-proves, rewrite
      // returns, and the answer includes the appended row
      NdvCatalog.createBitmap(spark, "law_bm_stale", fact,
        Seq(col("g") -> "g"), col("id"), base + "/mv")
      val (vals, paths2) = (rows(mv(q)), scans(mv(q)))
      assert(!paths2.exists(_.contains("/fact")), paths2)
      assert(vals == Seq(Seq("a", 3L), Seq("b", 1L)))
    } finally NdvCatalog.unregister("law_bm_stale")
  }

  test("bitmap NDV coarsening: a key-subset grouping and the GLOBAL both rewrite exactly") {
    val base = graft.ops.Sink.scratchDir("bm_coarsen_test")
    NdvCatalog.createBitmap(spark, "test_bm_coarsen", Tables.orders(spark, dir),
      Seq(date_trunc("MONTH", col("o_orderdate")) -> "month",
        col("o_orderpriority") -> "prio"),
      col("o_custkey"), base + "/bm")
    try {
      def byPrio: DataFrame = Tables.orders(spark, dir)
        .groupBy(col("o_orderpriority").as("prio"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"))
      def global: DataFrame = Tables.orders(spark, dir)
        .agg(countDistinct(col("o_custkey")).as("n_total"))
      val plainP = rows(byPrio)
      val plainG = rows(global)
      val (gotP, pathsP) = (rows(mv(byPrio)), scans(mv(byPrio)))
      assert(pathsP.exists(_.contains("bm_coarsen_test")), pathsP)
      assert(!pathsP.exists(_.contains("orders.parquet")), pathsP)
      assert(gotP == plainP)
      val (gotG, pathsG) = (rows(mv(global)), scans(mv(global)))
      assert(!pathsG.exists(_.contains("orders.parquet")), pathsG)
      assert(gotG == plainG)
      // the EXACT grain still takes the cheap per-row path and agrees
      def exactGrain: DataFrame = Tables.orders(spark, dir)
        .groupBy(date_trunc("MONTH", col("o_orderdate")).as("month"),
          col("o_orderpriority").as("prio"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"))
      val plainE = rows(exactGrain)
      val (gotE, pathsE) = (rows(mv(exactGrain)), scans(mv(exactGrain)))
      assert(!pathsE.exists(_.contains("orders.parquet")), pathsE)
      assert(gotE == plainE)
    } finally NdvCatalog.unregister("test_bm_coarsen")
  }

  test("KMV kind stays grain-locked: the SAME subset grouping keeps the fact scan") {
    val base = graft.ops.Sink.scratchDir("kmv_lock_test")
    NdvCatalog.create(spark, "test_kmv_lock", Tables.orders(spark, dir),
      Seq(date_trunc("MONTH", col("o_orderdate")) -> "month",
        col("o_orderpriority") -> "prio"),
      col("o_custkey"), 65536, base + "/kmv")
    try {
      val q = Tables.orders(spark, dir)
        .groupBy(col("o_orderpriority").as("prio"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"))
      val paths = scans(mv(q))
      assert(paths.exists(_.contains("orders.parquet")), paths)
    } finally NdvCatalog.unregister("test_kmv_lock")
  }

  test("NDV metastore round-trips the bitmap kind and re-validates on load") {
    val base = graft.ops.Sink.scratchDir("bm_meta_law")
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "g")
      .write.mode("overwrite").parquet(base + "/fact")
    def fact = spark.read.parquet(base + "/fact")
    NdvCatalog.createBitmap(spark, "law_bm_meta", fact,
      Seq(col("g") -> "g"), col("id"), base + "/mv")
    NdvCatalog.save(spark, base + "/catalog")
    NdvCatalog.unregister("law_bm_meta")
    try {
      def q: DataFrame = fact.groupBy(col("g"))
        .agg(countDistinct(col("id")).as("nd"))
      assert(scans(mv(q)).exists(_.contains("/fact")),
        "unregistered definition must not rewrite")
      NdvCatalog.load(spark, base + "/catalog")
      val (vals, paths) = (rows(mv(q)), scans(mv(q)))
      assert(!paths.exists(_.contains("/fact")), paths)
      assert(vals == Seq(Seq("a", 2L), Seq("b", 1L)))
    } finally NdvCatalog.unregister("law_bm_meta")
  }
}
