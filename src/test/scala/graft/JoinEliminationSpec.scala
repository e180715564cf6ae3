package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.{DefCatalog, FkCatalog, JoinEliminationRule}

/** Laws for FK join elimination (j18): the rewrite must change the
  * PLAN (parent scan gone) and not one bit of the RESULT, must refuse
  * every join it cannot prove, and registration must refuse every
  * violated constraint.
  */
class JoinEliminationSpec extends SparkSpec {
  import spark.implicits._

  private val dir = privateSf0001()
  private val cents = floor(col("o_totalprice") * 100).cast("long")

  /** `df` with the rule's opt-in conf on. */
  private def elim(df: DataFrame): DataFrame =
    under(Seq(JoinEliminationRule.EnabledKey -> "true"))(df)

  private def withFk[T](body: => T): T = {
    FkCatalog.register(spark, "law_orders_customer",
      Tables.orders(spark, dir), col("o_custkey"),
      Tables.customer(spark, dir), col("c_custkey"))
    try body
    finally FkCatalog.unregister("law_orders_customer")
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  private def scans(df: DataFrame): Set[String] =
    DefCatalog.scanPaths(df.queryExecution.optimizedPlan)

  private def joined: DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))

  test("aggregate over an unused parent: join and parent scan eliminated, bit-identical") {
    withFk {
      def q: DataFrame = joined
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(elim(q)), scans(elim(q)))
      assert(!paths.exists(_.contains("customer.parquet")), paths)
      assert(paths.exists(_.contains("orders.parquet")), paths)
      assert(rewritten == plain)
    }
  }

  test("projection of child columns only: eliminated, bit-identical; swapped sides too") {
    withFk {
      def q: DataFrame = joined.select(col("o_orderkey"), col("o_orderpriority"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(elim(q)), scans(elim(q)))
      assert(!paths.exists(_.contains("customer.parquet")), paths)
      assert(rewritten == plain)
      // customer JOIN orders (parent written first) eliminates the same
      def qSwap: DataFrame = Tables.customer(spark, dir)
        .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
        .select(col("o_orderkey"), col("o_orderpriority"))
      val plainSwap = rows(qSwap)
      val (rewSwap, pathsSwap) = (rows(elim(qSwap)), scans(elim(qSwap)))
      assert(!pathsSwap.exists(_.contains("customer.parquet")), pathsSwap)
      assert(rewSwap == plainSwap)
    }
  }

  test("references to the parent KEY rewrite to the child key and still eliminate") {
    withFk {
      // the ubiquitous star shape: GROUP BY the parent's primary key
      def q: DataFrame = joined
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(elim(q)), scans(elim(q)))
      assert(!paths.exists(_.contains("customer.parquet")), paths)
      assert(paths.exists(_.contains("orders.parquet")), paths)
      assert(rewritten == plain)
      // and a bare projection of the parent key keeps its output name
      def q2: DataFrame = joined.select(col("c_custkey"), col("o_orderkey"))
      val plain2 = rows(q2)
      val (rew2, paths2) = {
        val d = elim(q2)
        assert(d.columns.toSeq == Seq("c_custkey", "o_orderkey"))
        (rows(d), scans(d))
      }
      assert(!paths2.exists(_.contains("customer.parquet")), paths2)
      assert(rew2 == plain2)
    }
  }

  test("a query that USES a parent column keeps the join") {
    withFk {
      val q = joined.select(col("o_orderkey"), col("c_nationkey"))
      val paths = scans(elim(q))
      assert(paths.exists(_.contains("customer.parquet")), paths)
    }
  }

  test("a filter on a parent column keeps the join (it re-drops child rows)") {
    withFk {
      val q = joined
        .filter(col("c_nationkey") % 5 === 2)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val paths = scans(elim(q))
      assert(paths.exists(_.contains("customer.parquet")), paths)
    }
  }

  test("an unregistered key pair keeps the join") {
    withFk {
      // same tables, different (non-FK) equality
      val q = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_nationkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val paths = scans(elim(q))
      assert(paths.exists(_.contains("customer.parquet")), paths)
    }
  }

  test("a LEFT join under the registered FK eliminates; RIGHT and FULL never do") {
    withFk {
      // left: parent uniqueness (the FK's parent half) suffices
      def qL: DataFrame = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"))
      val plain = rows(qL)
      val (rewritten, paths) = (rows(elim(qL)), scans(elim(qL)))
      assert(!paths.exists(_.contains("customer.parquet")), paths)
      assert(rewritten == plain)
      // right outer / full outer change row multiplicity parent-ward —
      // never eliminated
      for (jt <- Seq("right", "full")) {
        val q = Tables.orders(spark, dir)
          .join(Tables.customer(spark, dir),
            col("o_custkey") === col("c_custkey"), jt)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
        assert(scans(elim(q)).exists(_.contains("customer.parquet")), jt)
      }
    }
  }

  test("eliminating toward the PARENT side never happens (child rows multiply parents)") {
    withFk {
      // uses only customer columns: dropping orders would be unsound —
      // a customer with 3 orders appears 3 times in the join
      val q = joined.groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
      val paths = scans(elim(q))
      assert(paths.exists(_.contains("orders.parquet")), paths)
      assert(paths.exists(_.contains("customer.parquet")), paths)
    }
  }

  test("registration refuses violated constraints: nulls, orphans, duplicate parents") {
    val base = graft.ops.Sink.scratchDir("fk_violation_law")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .write.mode("overwrite").parquet(base + "/parent_ok")
    Seq((1L, 10L), (2L, 20L)).toDF("fk", "m")
      .write.mode("overwrite").parquet(base + "/child_ok")
    Seq((Some(1L), 10L), (None, 20L)).toDF("fk", "m")
      .write.mode("overwrite").parquet(base + "/child_null")
    Seq((1L, 10L), (9L, 20L)).toDF("fk", "m")
      .write.mode("overwrite").parquet(base + "/child_orphan")
    Seq((1L, "a"), (1L, "dup"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(base + "/parent_dup")
    def p(n: String) = spark.read.parquet(base + s"/$n")
    FkCatalog.register(spark, "law_ok", p("child_ok"), col("fk"), p("parent_ok"), col("k"))
    FkCatalog.unregister("law_ok")
    intercept[IllegalArgumentException] {
      FkCatalog.register(spark, "law_null", p("child_null"), col("fk"), p("parent_ok"), col("k"))
    }
    intercept[IllegalArgumentException] {
      FkCatalog.register(spark, "law_orphan", p("child_orphan"), col("fk"), p("parent_ok"), col("k"))
    }
    intercept[IllegalArgumentException] {
      FkCatalog.register(spark, "law_dup", p("child_ok"), col("fk"), p("parent_dup"), col("k"))
    }
  }

  private def aggCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size

  private def withUnique[T](body: => T): T = {
    FkCatalog.registerUnique(spark, "law_customer_pk",
      Tables.customer(spark, dir), col("c_custkey"))
    try body
    finally FkCatalog.unregisterUnique("law_customer_pk")
  }

  test("distinct elimination: dedup on a validated unique key collapses to a scan") {
    withUnique {
      def q: DataFrame = Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
        .dropDuplicates("c_custkey")
      val plain = rows(q)
      val (rewritten, nAggs) = (rows(elim(q)), aggCount(elim(q)))
      assert(nAggs == 0)
      assert(rewritten == plain)
      // a key SUPERSET still covers the unique key
      def q2: DataFrame = Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))
        .dropDuplicates("c_custkey", "c_nationkey")
      val plain2 = rows(q2)
      val (rew2, nAggs2) = (rows(elim(q2)), aggCount(elim(q2)))
      assert(nAggs2 == 0)
      assert(rew2 == plain2)
      // uniqueness survives filtering: a filtered scan still eliminates
      def q3: DataFrame = Tables.customer(spark, dir)
        .filter(col("c_nationkey") % 3 === 1)
        .select(col("c_custkey"), col("c_acctbal"))
        .dropDuplicates("c_custkey")
      val plain3 = rows(q3)
      val (rew3, nAggs3) = (rows(elim(q3)), aggCount(elim(q3)))
      assert(nAggs3 == 0)
      assert(rew3 == plain3)
    }
  }

  test("distinct elimination: a NON-unique key keeps the aggregate") {
    withUnique {
      val q = Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))
        .dropDuplicates("c_nationkey")
      val nAggs = aggCount(elim(q))
      assert(nAggs > 0)
    }
  }

  test("composition: join elimination then MV rewrite collapses to the rollup scan") {
    import graft.plans.{MvCatalog, MvRewriteRule}
    withFk {
      val path = graft.ops.Sink.scratchDir("mv_elim_law") + "/cust"
      MvCatalog.create(spark, "law_elim_mv", Tables.orders(spark, dir),
        Seq(col("o_custkey") -> "o_custkey"), cents, path)
      try {
        def q: DataFrame = joined
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n"), sum(cents).as("s"))
        val both = under(Seq(JoinEliminationRule.EnabledKey -> "true", MvRewriteRule.EnabledKey -> "true")) _
        val paths = scans(both(q))
        assert(paths.exists(_.contains("mv_elim_law")), paths)
        assert(!paths.exists(p =>
          p.contains("orders.parquet") || p.contains("customer.parquet")), paths)
        // values: rewritten two-step plan ≡ the plain join aggregate
        val rewritten = rows(both(q))
        val plain = rows(q)
        assert(rewritten == plain)
      } finally MvCatalog.unregister("law_elim_mv")
    }
  }

  test("LEFT join elimination needs only parent uniqueness — orphans and null keys welcome") {
    val base = graft.ops.Sink.scratchDir("left_elim_law")
    // child has an orphan (fk=9) and a NULL key; parent is unique but
    // does NOT cover the child — an FK would be unregistrable here
    Seq((Some(1L), 10L), (Some(1L), 11L), (Some(9L), 20L), (None, 30L))
      .toDF("fk", "m").write.mode("overwrite").parquet(base + "/child")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(base + "/parent")
    def child = spark.read.parquet(base + "/child")
    def parent = spark.read.parquet(base + "/parent")
    intercept[IllegalArgumentException] {
      FkCatalog.register(spark, "law_left_fk", child, col("fk"), parent, col("k"))
    }
    FkCatalog.registerUnique(spark, "law_left_uq", parent, col("k"))
    try {
      def q: DataFrame = child
        .join(parent, col("fk") === col("k"), "left")
        .select(col("fk"), col("m"))
      val plain = rows(q)
      assert(plain.size == 4) // all child rows, orphan + null included
      val (rewritten, paths) = (rows(elim(q)), scans(elim(q)))
      assert(!paths.exists(_.contains("parent")), paths)
      assert(rewritten == plain)
      // the INNER form of the same join must NOT eliminate (no FK)
      val qInner = child.join(parent, col("fk") === col("k")).select(col("fk"), col("m"))
      assert(scans(elim(qInner)).exists(_.contains("parent")))
    } finally FkCatalog.unregisterUnique("law_left_uq")
  }

  test("LEFT join to a DUPLICATE-keyed parent keeps the join") {
    val base = graft.ops.Sink.scratchDir("left_dup_law")
    Seq((1L, 10L), (2L, 20L)).toDF("fk", "m")
      .write.mode("overwrite").parquet(base + "/child")
    Seq((1L, "a"), (1L, "dup"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(base + "/parent")
    def child = spark.read.parquet(base + "/child")
    def parent = spark.read.parquet(base + "/parent")
    intercept[IllegalArgumentException] {
      FkCatalog.registerUnique(spark, "law_left_dup", parent, col("k"))
    }
    // nothing registrable → the join must survive
    val q = child.join(parent, col("fk") === col("k"), "left").select(col("fk"), col("m"))
    assert(scans(elim(q)).exists(_.contains("parent")))
  }

  test("count(DISTINCT unique_key) loses its DISTINCT; non-unique columns keep it") {
    withUnique {
      def distinctCount(df: DataFrame): Int =
        df.queryExecution.optimizedPlan.collect {
          case ag: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
            ag.aggregateExpressions.flatMap(_.collect {
              case ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
                  if ae.isDistinct => ae
            }).size
        }.sum
      def q: DataFrame = Tables.customer(spark, dir)
        .agg(count_distinct(col("c_custkey")).as("n_cust"),
          count(lit(1)).as("n_rows"))
      val plain = rows(q)
      val (rewritten, nDistinct) = (rows(elim(q)), distinctCount(elim(q)))
      assert(nDistinct == 0, "count(DISTINCT pk) kept its distinct aggregation")
      assert(rewritten == plain)
      // grouped form too
      def qg: DataFrame = Tables.customer(spark, dir)
        .groupBy(col("c_nationkey"))
        .agg(count_distinct(col("c_custkey")).as("n_cust"))
      val plainG = rows(qg)
      val (rewG, nDistG) = (rows(elim(qg)), distinctCount(elim(qg)))
      assert(nDistG == 0)
      assert(rewG == plainG)
      // a NON-unique argument keeps the distinct aggregation
      val qBad = Tables.customer(spark, dir)
        .agg(count_distinct(col("c_nationkey")).as("n_nat"))
      assert(distinctCount(elim(qBad)) == 1)
    }
  }

  test("registerUnique refuses a duplicated key") {
    val base = graft.ops.Sink.scratchDir("uq_violation_law")
    Seq((1L, "a"), (1L, "dup"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(base + "/dup")
    intercept[IllegalArgumentException] {
      FkCatalog.registerUnique(spark, "law_uq_bad",
        spark.read.parquet(base + "/dup"), col("k"))
    }
  }

  test("snowflake chain: fact→dim→dim collapses to the bare fact, bit-identical") {
    // the two eliminations COMPOSE across the fixed point: nation drops
    // first (keep side = the orders⋈customer inner tree, decomposed by
    // decomposeInnerTree), whose survivor is exactly j18's shape — so
    // the second pass drops customer and only the fact scan remains
    FkCatalog.register(spark, "law_chain_oc",
      Tables.orders(spark, dir), col("o_custkey"),
      Tables.customer(spark, dir), col("c_custkey"))
    FkCatalog.register(spark, "law_chain_cn",
      Tables.customer(spark, dir), col("c_nationkey"),
      Tables.nation(spark, dir), col("n_nationkey"))
    try {
      def q: DataFrame = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(elim(q)), scans(elim(q)))
      assert(!paths.exists(_.contains("customer.parquet")), paths)
      assert(!paths.exists(_.contains("nation.parquet")), paths)
      assert(paths.exists(_.contains("orders.parquet")), paths)
      assert(rewritten == plain)
    } finally {
      FkCatalog.unregister("law_chain_oc")
      FkCatalog.unregister("law_chain_cn")
    }
  }

  test("snowflake chain: referencing the MIDDLE dim keeps exactly that join") {
    // grouping on a customer column makes customer load-bearing: only
    // the nation leg may drop — the fact⋈customer join must survive
    FkCatalog.register(spark, "law_chain_oc2",
      Tables.orders(spark, dir), col("o_custkey"),
      Tables.customer(spark, dir), col("c_custkey"))
    FkCatalog.register(spark, "law_chain_cn2",
      Tables.customer(spark, dir), col("c_nationkey"),
      Tables.nation(spark, dir), col("n_nationkey"))
    try {
      def q: DataFrame = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"))
      val plain = rows(q)
      val (rewritten, paths) = (rows(elim(q)), scans(elim(q)))
      assert(paths.exists(_.contains("customer.parquet")), paths)
      assert(!paths.exists(_.contains("nation.parquet")), paths)
      assert(paths.exists(_.contains("orders.parquet")), paths)
      assert(rewritten == plain)
    } finally {
      FkCatalog.unregister("law_chain_oc2")
      FkCatalog.unregister("law_chain_cn2")
    }
  }

  test("constraints are point-in-time: files appended after register() disqualify") {
    // the ADVICE r15 finding: rootPath matching kept a validated FkDef
    // live after the directory's contents changed — the appended rows
    // may violate the constraint with no re-validation. The registry
    // now snapshots the concrete file list; a drifted scan refuses the
    // elimination instead of silently changing results.
    val base = graft.ops.Sink.scratchDir("fk_staleness_law")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(base + "/parent")
    Seq((1L, 10L), (2L, 20L)).toDF("fk", "m")
      .write.mode("overwrite").parquet(base + "/child")
    def child = spark.read.parquet(base + "/child")
    def parent = spark.read.parquet(base + "/parent")
    FkCatalog.register(spark, "law_stale_fk", child, col("fk"), parent, col("k"))
    FkCatalog.registerUnique(spark, "law_stale_uq", parent, col("k"))
    try {
      def q: DataFrame = child.join(parent, col("fk") === col("k"))
        .select(col("fk"), col("m"))
      assert(!scans(elim(q)).exists(_.contains("parent")),
        "fresh snapshot should eliminate")
      def qd: DataFrame = parent.select(col("k"), col("v")).dropDuplicates("k")
      assert(aggCount(elim(qd)) == 0, "fresh snapshot should drop the distinct")
      // append a DUPLICATE parent key under the same directory — the
      // validated uniqueness is now false on disk
      Seq((1L, "dup")).toDF("k", "v").write.mode("append").parquet(base + "/parent")
      assert(scans(elim(q)).exists(_.contains("parent")),
        "drifted parent files must keep the join")
      assert(aggCount(elim(qd)) > 0,
        "drifted parent files must keep the distinct aggregate")
      // child-side drift disqualifies the inner elimination too
      Seq((3L, 30L)).toDF("fk", "m").write.mode("append").parquet(base + "/child")
      assert(scans(elim(q)).exists(_.contains("parent")))
    } finally {
      FkCatalog.unregister("law_stale_fk")
      FkCatalog.unregisterUnique("law_stale_uq")
    }
  }

  test("disabled conf leaves the join untouched even with the FK registered") {
    withFk {
      // the product session carries the rule; its opt-in conf is off
      val q = joined.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      assert(scans(q).exists(_.contains("customer.parquet")))
    }
  }

  // ---- FD group-by pruning (s54): PRIMARY key determines its scan's columns ----

  private def withPk[T](body: => T): T = {
    FkCatalog.registerUnique(spark, "law_cust_pk",
      Tables.customer(spark, dir), col("c_custkey"), nonNull = true)
    try body
    finally FkCatalog.unregisterUnique("law_cust_pk")
  }

  private def groupArities(df: DataFrame): Seq[Int] =
    df.queryExecution.optimizedPlan.collect {
      case ag: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        ag.groupingExpressions.length
    }

  test("FD prune: wide dim grouping narrows to the pk, results bit-identical") {
    withPk {
      def q: DataFrame = joined
        .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"))
      val plain = rows(q)
      val (pruned, arities) = (rows(elim(q)), groupArities(elim(q)))
      assert(arities == Seq(1), arities)
      assert(pruned == plain)
    }
  }

  test("FD prune: a computed expression OVER a dim column prunes too") {
    withPk {
      def q: DataFrame = joined
        .groupBy(col("c_custkey"), upper(col("c_mktsegment")).as("seg"))
        .agg(count(lit(1)).as("n"))
      val plain = rows(q)
      val (pruned, arities) = (rows(elim(q)), groupArities(elim(q)))
      assert(arities == Seq(1), arities)
      assert(pruned == plain)
    }
  }

  test("FD prune: uniqueness WITHOUT non-null never fires (null-extension hazard)") {
    FkCatalog.registerUnique(spark, "law_cust_uq_only",
      Tables.customer(spark, dir), col("c_custkey"))
    try {
      val q = joined
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(lit(1)).as("n"))
      assert(groupArities(elim(q)) == Seq(2))
    } finally FkCatalog.unregisterUnique("law_cust_uq_only")
  }

  test("FD prune: LEFT-join null-extension stays exact under the non-null pk") {
    // fact keys 1,2,9 — 9 has NO dim row, so the dim side null-extends;
    // the (null, null) rows must stay ONE group before and after pruning
    val base = graft.ops.Sink.scratchDir("fd_ljoin_law")
    Seq((1L, 10L), (1L, 20L), (2L, 5L), (9L, 7L), (9L, 8L))
      .toDF("fk", "v").write.mode("overwrite").parquet(base + "/fact")
    Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("pk", "nm").write.mode("overwrite").parquet(base + "/dim")
    val fact = spark.read.parquet(base + "/fact")
    val dim = spark.read.parquet(base + "/dim")
    FkCatalog.registerUnique(spark, "law_dim_pk", dim, col("pk"),
      nonNull = true)
    try {
      def q: DataFrame = fact.join(dim, col("fk") === col("pk"), "left")
        .groupBy(col("pk"), col("nm"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      val plain = rows(q)
      val (pruned, arities) = (rows(elim(q)), groupArities(elim(q)))
      assert(arities == Seq(1), arities)
      assert(pruned == plain)
      assert(plain.exists(r => r(0) == null && r(1) == null && r(2) == 2L))
    } finally FkCatalog.unregisterUnique("law_dim_pk")
  }

  test("FD prune: an output expression OVER a pruned value refuses rather than break") {
    withPk {
      // concat(c_name, …) as an AGGREGATE OUTPUT is an expression over
      // a grouping value, not the grouping expression itself — the
      // conservative tier declines the whole prune (grouping stays
      // wide) instead of risking an invalid Aggregate
      def q: DataFrame = joined
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(lit(1)).as("n"))
        .withColumn("tag", concat(col("c_name"), lit("!")))
      val plain = rows(q)
      val pruned = rows(elim(q))
      assert(pruned == plain)
    }
  }

  test("FD prune: pk constraint is point-in-time — a drifted dim disqualifies") {
    val base = graft.ops.Sink.scratchDir("fd_stale_law")
    Seq((1L, "a"), (2L, "b")).toDF("pk", "nm")
      .write.mode("overwrite").parquet(base + "/dim")
    Seq((1L, 10L), (2L, 5L)).toDF("fk", "v")
      .write.mode("overwrite").parquet(base + "/fact")
    def dim = spark.read.parquet(base + "/dim")
    def fact = spark.read.parquet(base + "/fact")
    FkCatalog.registerUnique(spark, "law_fd_stale", dim, col("pk"),
      nonNull = true)
    try {
      def q: DataFrame = fact.join(dim, col("fk") === col("pk"))
        .groupBy(col("pk"), col("nm")).agg(sum(col("v")).as("s"))
      assert(groupArities(elim(q)) == Seq(1))
      // append under the same directory: snapshot mismatch, prune dead
      Seq((2L, "B2")).toDF("pk", "nm").write.mode("append").parquet(base + "/dim")
      assert(groupArities(elim(q)) == Seq(2))
    } finally FkCatalog.unregisterUnique("law_fd_stale")
  }
}
