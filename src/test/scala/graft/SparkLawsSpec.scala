package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.ext.Dedup
import graft.ops.{Ranking, Relational}

/** Algebraic laws over seeded random data (deterministic; several
  * sizes per law — the Spark-side complement to the pure-function
  * ScalaCheck properties in LawsProps).
  */
class SparkLawsSpec extends SparkSpec {
  import spark.implicits._

  private def randomPairs(seed: Int, n: Int, keySpace: Int): Seq[(Int, Int)] = {
    val r = new Random(seed)
    Seq.fill(n)((r.nextInt(keySpace), r.nextInt(1000)))
  }

  test("law: dedup group sizes sum to input size; representatives are minima") {
    for (seed <- Seq(1, 7, 42)) {
      val data = randomPairs(seed, 300, 20).toDF("k", "v")
      val out = Dedup.exactDeterministic(data, Seq("k"), "v").collect()
      assert(out.map(_.getLong(2)).sum == 300L)
      val minByKey = data.groupBy("k").agg(min("v")).as[(Int, Int)].collect().toMap
      out.foreach(r => assert(r.getInt(1) == minByKey(r.getInt(0))))
    }
  }

  test("law: salted join equals plain join for random sizes and buckets") {
    for ((seed, buckets) <- Seq((3, 2), (9, 5), (27, 16))) {
      val l = randomPairs(seed, 150, 10).toDF("k", "lv")
      val r = (0 until 10).map(i => (i, s"d$i")).toDF("k", "name")
      val plain = Relational.innerJoin(l, r, Seq("k"))
        .collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
      val salted = Relational.saltedInnerJoin(l, r, Seq("k"), buckets)
        .select("k", "lv", "name").collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
      assert(salted == plain)
    }
  }

  test("law: topKPerGroup returns at most k rows per group, all from the input") {
    for ((seed, k) <- Seq((5, 1), (11, 3))) {
      val data = randomPairs(seed, 200, 8).toDF("k", "v")
      val out = Ranking.topKPerGroup(data, Seq("k"), Seq(col("v").desc, col("v").asc), k)
        .drop("rk")
      val perGroup = out.groupBy("k").count().as[(Int, Long)].collect()
      assert(perGroup.forall(_._2 <= k))
      val inputSet = data.as[(Int, Int)].collect().toSet
      assert(out.as[(Int, Int)].collect().forall(inputSet.contains))
    }
  }

  test("law: |A∩B| + |A\\B| = |distinct A| for set ops") {
    for (seed <- Seq(2, 13)) {
      val a = randomPairs(seed, 100, 30).map(_._1).toDF("x")
      val b = randomPairs(seed + 1, 100, 30).map(_._1).toDF("x")
      val inter = a.intersect(b).count()
      val minus = a.except(b).count()
      assert(inter + minus == a.distinct().count())
    }
  }

  test("law: asofJoin equals the brute-force latest-at-or-before lookup") {
    import graft.ops.AsofJoin
    for (seed <- Seq(2, 13, 99)) {
      val r = new Random(seed)
      // right side unique per (key, ts) as the operator requires
      val rightRows = Seq.fill(60)((r.nextInt(5).toLong, r.nextInt(50).toLong))
        .distinct.map { case (k, t) => (k, t, r.nextInt(1000).toDouble) }
      val leftRows = Seq.fill(80)((r.nextInt(6).toLong, r.nextInt(60).toLong, r.nextInt()))
      val left = leftRows.toDF("k", "t", "payload")
      val right = rightRows.toDF("k", "rt", "rv")
      val got = AsofJoin.asofJoin(left, right, Seq("k"), "t", "rt", Seq("rv"))
        .select("k", "t", "payload", "rv").collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getInt(2),
          if (row.isNullAt(3)) None else Some(row.getDouble(3)))).toSet
      val expected = leftRows.map { case (k, t, p) =>
        val best = rightRows.filter(rr => rr._1 == k && rr._2 <= t)
          .sortBy(_._2).lastOption.map(_._3)
        (k, t, p, best)
      }.toSet
      assert(got == expected)
    }
  }

  test("law: binned range join equals the naive theta join at any bin width") {
    import graft.ops.RangeJoin
    def t(m: Long) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    for ((seed, binSec) <- Seq((4, 60L), (17, 600L), (31, 7L))) {
      val r = new Random(seed)
      val points = Seq.fill(50)((r.nextInt(500).toLong, t(r.nextInt(200).toLong)))
        .toDF("pid", "ts")
      val intervals = Seq.fill(15) {
        val lo = r.nextInt(200).toLong
        (r.nextInt(500).toLong, t(lo), t(lo + r.nextInt(40).toLong))
      }.toDF("iid", "lo", "hi")
      val got = RangeJoin.pointInInterval(points, "ts", intervals, "lo", "hi", binSec)
        .select("iid", "pid").collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      // the rule off: the product session would bin this join too
      val theta = under(TestSpark.naiveRangeJoin)(
        points.join(intervals, col("ts") >= col("lo") && col("ts") <= col("hi")).select("iid", "pid"))
      val plan = theta.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin"), plan)
      val naive = theta.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      assert(got == naive)
    }
  }

  test("law: connectedComponents equals driver-side union-find on random graphs") {
    import graft.ext.Dedup
    for (seed <- Seq(6, 23, 77)) {
      val r = new Random(seed)
      val n = 25
      val edges = Seq.fill(20)((r.nextInt(n).toLong, r.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val verts = (0 until n).map(_.toLong)
      val got = Dedup.connectedComponents(
        verts.toDF("id"), edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      // reference: plain union-find with min-id representatives
      val parent = scala.collection.mutable.Map(verts.map(v => v -> v): _*)
      def find(v: Long): Long = if (parent(v) == v) v else { val p = find(parent(v)); parent(v) = p; p }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val m = math.min(ra, rb); parent(math.max(ra, rb)) = m }
      }
      // one more pass so every root is the true min of its component
      val byRoot = verts.groupBy(find)
      val expected = byRoot.flatMap { case (_, vs) =>
        val m = vs.min; vs.map(_ -> m)
      }.toMap
      assert(got == expected)
    }
  }

  test("law: chunks cover every token; adjacent chunks overlap by len-stride") {
    import graft.ext.TextOps
    for (seed <- Seq(11, 59); n <- Seq(1, 5, 50, 137)) {
      val r = new Random(seed)
      val text = Seq.fill(n)(s"w${r.nextInt(30)}").mkString(" ")
      val (chunkLen, stride) = (10, 7)
      val rows = Seq(text).toDF("text")
        .select(posexplode(TextOps.chunks(TextOps.tokens(col("text")), chunkLen, stride)))
        .select(col("pos"), col("col.n_chunk_tokens"))
        .as[(Int, Long)].collect().sortBy(_._1)
      val expectedStarts = 1 to n by stride
      assert(rows.length == expectedStarts.length)
      // total coverage: sum of (stride per full step) + last chunk = n
      val lastLen = rows.last._2
      assert((rows.length - 1).toLong * stride + lastLen == n.toLong)
      // every non-final chunk is full-length unless the doc ends first
      rows.init.zip(expectedStarts).foreach { case ((_, len), st) =>
        assert(len == math.min(chunkLen, n - st + 1).toLong)
      }
    }
  }

  test("law: pack offsets stay under SeqLen and seq_ids are monotone per source") {
    // replay the packing invariant on the real registered query output
    val out = SparkEntry.queries("e5_pack")(spark, "/root/testdata/sf0.001")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (_, _, _, _, off) => assert(off >= 0 && off < 2048) }
    out.groupBy(_._2).foreach { case (_, docs) =>
      val byId = docs.sortBy(_._1).map(_._4)
      assert(byId.zip(byId.tail).forall { case (a, b) => a <= b }, "seq_id not monotone")
    }
  }

  test("law: intervalOverlap equals the naive theta join at any bin width") {
    import java.sql.Timestamp
    import graft.ops.RangeJoin
    def ts(s: Long) = new Timestamp(s * 1000L)
    for (seed <- Seq(5, 31); binSecs <- Seq(10L, 97L, 3600L)) {
      val r = new Random(seed)
      def ivs(n: Int, tag: String) = (0 until n).map { i =>
        val lo = r.nextInt(5000).toLong
        (s"$tag$i", ts(lo), ts(lo + r.nextInt(300)))
      }
      val as = ivs(40, "a")
      val bs = ivs(40, "b")
      val got = RangeJoin.intervalOverlap(
        as.toDF("a_id", "a_lo", "a_hi"), "a_lo", "a_hi",
        bs.toDF("b_id", "b_lo", "b_hi"), "b_lo", "b_hi", binSecs)
        .select("a_id", "b_id").as[(String, String)].collect().toSeq
      val expected = for {
        (ai, alo, ahi) <- as
        (bi, blo, bhi) <- bs
        if !alo.after(bhi) && !blo.after(ahi)
      } yield (ai, bi)
      assert(got.sorted == expected.sorted.toSeq, s"bin=$binSecs seed=$seed")
    }
  }

  test("law: upsert is identity on empty updates, idempotent, and update-wins") {
    for (seed <- Seq(3, 41)) {
      val r = new Random(seed)
      val cur = (0 until 40).map(k => (k.toLong, s"c$k", r.nextInt(100)))
      // updates: half overlapping keys, half fresh inserts
      val upd = (0 until 20).map { i =>
        val k = if (i % 2 == 0) r.nextInt(40).toLong else 100L + i
        (k, s"u$k", r.nextInt(100))
      }.distinctBy(_._1)
      val curDf = cur.toDF("k", "v", "n")
      val updDf = upd.toDF("k", "v", "n")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, String, Int)].collect().toSet

      val once = Relational.upsert(curDf, updDf, Seq("k"))
      assert(rows(Relational.upsert(curDf, curDf.limit(0), Seq("k"))) == cur.toSet)
      assert(rows(Relational.upsert(once, updDf, Seq("k"))) == rows(once))
      val expected = (cur.filterNot(c => upd.exists(_._1 == c._1)) ++ upd).toSet
      assert(rows(once) == expected)
    }
  }

  test("law: cdcApply with a seq column applies multi-op feeds last-op-wins") {
    val base = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "v", "n")
    // key 1: U then D (net delete); key 2: U then U (last image wins);
    // key 4: I then U (insert, then update the fresh row)
    val feed = Seq(
      (1L, "a2", 11, "U", 1L), (1L, "a3", 12, "D", 2L),
      (2L, "b2", 21, "U", 1L), (2L, "b3", 22, "U", 2L),
      (4L, "d", 40, "I", 1L), (4L, "d2", 41, "U", 2L)
    ).toDF("k", "v", "n", "op", "seq")
    val out = Relational.cdcApply(base, feed, Seq("k"), "op", Some("seq"))
      .as[(Long, String, Int)].collect().toSet
    assert(out == Set((2L, "b3", 22), (3L, "c", 30), (4L, "d2", 41)))
    // applying op-by-op in sequence order agrees (the MERGE law)
    val stepwise = (1L to 2L).foldLeft(base) { (acc, s) =>
      Relational.cdcApply(acc, feed.filter(col("seq") === s).drop("seq"), Seq("k"), "op")
    }.as[(Long, String, Int)].collect().toSet
    assert(stepwise == out)
    // reserved/collision preconditions fire instead of clobbering
    intercept[IllegalArgumentException] {
      Relational.cdcApply(base.withColumn("op", lit("X")), feed, Seq("k"), "op")
    }
    intercept[IllegalArgumentException] {
      Relational.cdcApply(base.withColumn("__graft_cdc_prec", lit(1)), feed, Seq("k"), "op")
    }
  }

  test("law: merged intervals are disjoint, ordered, and cover exactly the input union") {
    for (seed <- Seq(3, 11, 29)) {
      val r = new Random(seed)
      val iv = Seq.fill(200)((r.nextInt(5).toLong,
        r.nextInt(1000).toLong, r.nextInt(60).toLong + 1))
        .zipWithIndex.map { case ((u, s, len), i) => (u, i.toLong, s, s + len) }
      val df = iv.toDF("user_id", "event_id", "start_us", "end_us")
      // same island algorithm as w8, driven directly on the frame
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("start_us").asc, col("end_us").asc, col("event_id").asc)
      val merged = df
        .withColumn("_me", max(col("end_us")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("_new", when(col("_me").isNull || col("start_us") > col("_me"), 1).otherwise(0))
        .withColumn("iid", sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("iid"))
        .agg(min(col("start_us")).as("s"), max(col("end_us")).as("e"))
        .as[(Long, Long, Long, Long)].collect()
      // disjoint + ordered within user
      for ((u, ivs) <- merged.groupBy(_._1)) {
        val sorted = ivs.sortBy(_._2)
        sorted.sliding(2).foreach {
          case Array(a, b) => assert(a._4 < b._3, s"user $u: ${a._4} !< ${b._3}")
          case _ =>
        }
      }
      // point-coverage equality against the naive union of input spans
      val inPts = iv.flatMap { case (u, _, s, e) => (s to e).map((u, _)) }.toSet
      val outPts = merged.flatMap { case (u, _, s, e) => (s to e).map((u, _)) }.toSet
      assert(inPts == outPts)
    }
  }

  test("law: reservoirPerGroup is exactly-k, drawn from the group, repartition-invariant") {
    val data = randomPairs(13, 500, 8).map { case (k, v) => (s"g$k", v.toLong) }
      .zipWithIndex.map { case ((g, _), i) => (g, i.toLong) }
    val df = data.toDF("grp", "id")
    val a = graft.ext.Sampling.reservoirPerGroup(df, "grp", "id", 7)
      .select("grp", "id").as[(String, Long)].collect().toSet
    val b = graft.ext.Sampling.reservoirPerGroup(df.repartition(13), "grp", "id", 7)
      .select("grp", "id").as[(String, Long)].collect().toSet
    assert(a == b) // partitioning-invariant winners
    val sizes = a.groupBy(_._1).view.mapValues(_.size)
    val groupSizes = data.groupBy(_._1).view.mapValues(_.size)
    for ((g, n) <- groupSizes) assert(sizes(g) == math.min(7, n))
    assert(a.subsetOf(data.toSet))
  }

  test("law: prioritySamplePerGroup is exactly-k, repartition-invariant, estimator unbiased-ish") {
    val data = (0 until 600).map(i => (s"g${i % 5}", i.toLong, (i % 97 + 1).toLong))
    val df = data.toDF("grp", "id", "w")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.ext.Sampling.prioritySamplePerGroup(d, "grp", "id", "w", 11)
        .select("grp", "id", "w", "rk", "est_w")
        .as[(String, Long, Long, Int, Double)].collect().toSeq.sortBy(r => (r._1, r._4))
    val a = run(df)
    val b = run(df.repartition(13))
    assert(a == b) // winners, ranks AND tau-estimates partitioning-invariant
    val perGroup = a.groupBy(_._1)
    val trueW = data.groupBy(_._1).view.mapValues(_.map(_._3).sum.toDouble).toMap
    for ((g, rows) <- perGroup) {
      assert(rows.size == math.min(11, data.count(_._1 == g)))
      // DLT estimator: sum(est_w) over the sample estimates the group
      // total weight; unbiased in expectation, so for this fixed draw
      // just bound the relative error loosely (k = 11 of 120 rows)
      val est = rows.map(_._5).sum
      assert(math.abs(est - trueW(g)) / trueW(g) < 0.6,
        s"group $g: est $est vs true ${trueW(g)}")
    }
    // heavier rows win more often than light ones across groups: the
    // sample's mean weight must exceed the population's
    val meanSample = a.map(_._3).sum.toDouble / a.size
    val meanPop = data.map(_._3).sum.toDouble / data.size
    assert(meanSample > meanPop, s"weighted sample not weight-biased: $meanSample <= $meanPop")
    // a group smaller than k is taken whole with est_w = w exactly
    val tiny = (0 until 4).map(i => ("t", i.toLong, (i + 1).toLong)).toDF("grp", "id", "w")
    val all = graft.ext.Sampling.prioritySamplePerGroup(tiny, "grp", "id", "w", 11)
      .select("id", "w", "est_w").as[(Long, Long, Double)].collect()
    assert(all.length == 4 && all.forall(r => r._3 == r._2.toDouble))
  }

  test("law: blocked KS is blockWidth-invariant and bounded in [0, 1]") {
    val r = new Random(5)
    val rows = Seq.fill(400)(("a", r.nextInt(500) / 10.0)) ++
      Seq.fill(300)(("b", r.nextInt(500) / 10.0 + r.nextInt(3)))
    val df = rows.toDF("t", "v")
    val outs = Seq(1.0, 7.0, 100.0).map { bw =>
      graft.ops.Aggregates.ksDrift(df, "t", "v", "a", "b", bw)
        .as[(Long, Long, Long, Double)].collect().head
    }
    assert(outs.distinct.size == 1, s"block width changed the statistic: $outs")
    val (_, _, _, stat) = outs.head
    assert(stat >= 0.0 && stat <= 1.0)
  }

  test("law: triangle count is invariant under edge orientation and node relabeling") {
    val r = new Random(23)
    val edges = Seq.fill(150)((r.nextInt(30).toLong, r.nextInt(30).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    def count(es: Seq[(Long, Long)]): Long =
      graft.ext.Dedup.triangleCount(es.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
        .as[(Long, Long)].collect().head._2
    val base = count(edges)
    val relabeled = edges.map { case (a, b) =>
      val (x, y) = (997 - a, 997 - b); (math.min(x, y), math.max(x, y))
    }
    assert(count(relabeled) == base)
    // brute-force reference
    val es = edges.toSet
    def has(a: Long, b: Long) = es((math.min(a, b), math.max(a, b)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val ref = nodes.combinations(3).count {
      case Seq(a, b, c) => has(a, b) && has(b, c) && has(a, c)
    }
    assert(base == ref.toLong)
  }

  test("law: incremental candidate pairs = full pairs minus base-only pairs") {
    // the contract that makes incremental ingest SAFE: probing only
    // delta bands must find exactly the full-rescan pairs that touch
    // a delta doc — no base×base noise, no missed delta pair
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val full = pairSet(ext.MinHash.candidatePairs(docs, "doc_id", "text"))
    val inc = pairSet(ext.MinHash.candidatePairsIncremental(
      docs, col("doc_id") % 3 === 0, "doc_id", "text"))
    val expected = full.filter(p => p._1 % 3 == 0 || p._2 % 3 == 0)
    assert(inc == expected)
    assert(inc.size < full.size) // base-only pairs exist and were skipped
  }

  test("law: o15 companions are consistent with the segment artifact") {
    // the r14 driver-localization instruments must agree with the
    // main query by construction: segment digits == per-metric
    // scores, the edge row brackets every score compare, and the
    // per-row md5 is a bijection of the o15 rows
    val dir = "/root/testdata/sf0.001"
    val seg = SparkEntry.queries("o15_rfm_segments")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val scores = SparkEntry.queries("o15_scores")(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(seg.size == scores.size)
    seg.foreach { case (ck, _, _, _, code) =>
      val (r, f, m) = scores(ck)
      assert(Seq(r, f, m).forall(v => v >= 1 && v <= 4))
      assert(code == (5 - r) * 100 + f * 10 + m)
    }
    val edges = SparkEntry.queries("o15_edges")(spark, dir).collect()
    assert(edges.length == 1)
    val e = edges.head
    assert(e.getAs[Long]("n") == seg.size.toLong)
    // bracketing stats are non-decreasing in p for each metric
    for (pfx <- Seq("r", "f", "m"); p <- 1 to 2)
      assert(e.getAs[Long](s"${pfx}_x${p}0") <= e.getAs[Long](s"${pfx}_x${p + 1}0"))
    val hashes = SparkEntry.queries("o15_rowhash")(spark, dir)
      .as[(Long, String)].collect()
    assert(hashes.length == seg.size)
    assert(hashes.map(_._2).distinct.length == seg.size) // no md5 collisions
    assert(hashes.forall(_._2.matches("[0-9a-f]{32}")))
  }

  test("law: FK join elimination equals the plain join for random shapes and join types") {
    import graft.plans.{FkCatalog, JoinEliminationRule}
    val base = graft.ops.Sink.scratchDir("fk_rand_law")
    val r0 = new Random(7)
    val parentKeys = (0 until 40).map(_.toLong)
    parentKeys.map(k => (k, s"p$k")).toDF("pk", "pv")
      .write.mode("overwrite").parquet(base + "/parent")
    Seq.fill(600)((parentKeys(r0.nextInt(40)), r0.nextInt(1000).toLong))
      .toDF("ck", "m").write.mode("overwrite").parquet(base + "/child")
    def child = spark.read.parquet(base + "/child")
    def parent = spark.read.parquet(base + "/parent")
    FkCatalog.register(spark, "law_rand_fk", child, col("ck"), parent, col("pk"))
    try {
      for (seed <- 1 to 10) {
        val r = new Random(seed)
        val leftJoin = r.nextBoolean()
        def joined =
          if (r.nextBoolean())
            child.join(parent, col("ck") === col("pk"), if (leftJoin) "left" else "inner")
          else if (leftJoin) // left outer keeps the CHILD side only child-first
            child.join(parent, col("ck") === col("pk"), "left")
          else parent.join(child, col("pk") === col("ck"))
        // shape 2 (parent-key grouping) only under INNER: on a left
        // join the parent key is NULL for unmatched rows and must not
        // substitute — the rule refuses, so exclude it here
        val shape = if (leftJoin) r.nextInt(2) else r.nextInt(3)
        def q = shape match {
          case 0 => joined.select(col("ck"), col("m"))
          case 1 => joined.groupBy(col("ck"))
            .agg(sum(col("m")).as("s"), count(lit(1)).as("n"))
          case _ => joined.groupBy(col("pk")).agg(max(col("m")).as("mx"))
        }
        val plain = q.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
        val (rewritten, scans) = {
          val d = under(Seq(JoinEliminationRule.EnabledKey -> "true"))(q)
          (d.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq,
            graft.plans.DefCatalog.scanPaths(d.queryExecution.optimizedPlan))
        }
        assert(!scans.exists(_.contains("/parent")),
          s"seed=$seed leftJoin=$leftJoin shape=$shape did not eliminate: $scans")
        assert(rewritten == plain, s"seed=$seed leftJoin=$leftJoin shape=$shape")
      }
    } finally FkCatalog.unregister("law_rand_fk")
  }

  test("law: MV rewrite equals the plain aggregate for random agg subsets and key filters") {
    import graft.plans.{DefCatalog, MvCatalog, MvRewriteRule}
    // random fact written to parquet (the rewrite matches on scan
    // paths, so the fact must be a real file relation)
    val factDir = graft.ops.Sink.scratchDir("mv_law_fact")
    val r0 = new Random(99)
    Seq.fill(500)((r0.nextInt(25), r0.nextInt(100000).toLong))
      .toDF("k", "m").write.mode("overwrite").parquet(factDir)
    def fact = spark.read.parquet(factDir)
    val mvPath = graft.ops.Sink.scratchDir("mv_law_rollup")
    MvCatalog.create(spark, "law_mv", fact, Seq(col("k") -> "k"), col("m"), mvPath)
    try {
      val allAggs = Seq(
        "n" -> count(lit(1)), "s" -> sum(col("m")),
        "mn" -> min(col("m")), "mx" -> max(col("m")))
      for (seed <- 1 to 8) {
        val r = new Random(seed)
        val aggs = r.shuffle(allAggs).take(1 + r.nextInt(4))
          .map { case (n, c) => c.as(n) }
        val base =
          if (r.nextBoolean()) fact.filter(col("k") % (2 + r.nextInt(5)) === r.nextInt(2))
          else fact
        def q = base.groupBy(col("k")).agg(aggs.head, aggs.tail: _*)
        val plain = q.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
        val (rewritten, scans) = {
          val d = under(Seq(MvRewriteRule.EnabledKey -> "true"))(q)
          (d.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq,
            DefCatalog.scanPaths(d.queryExecution.optimizedPlan))
        }
        assert(scans.exists(_.contains("mv_law_rollup")), s"seed=$seed did not rewrite: $scans")
        assert(rewritten == plain, s"seed=$seed")
      }
    } finally MvCatalog.unregister("law_mv")
  }
}
