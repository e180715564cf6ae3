package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.functions.MinK
import graft.ops.{Materialize, Ranking}

/** Laws of the min-k aggregate ([[graft.functions.MinKDistinct]]) and
  * the KMV sketches built on it: a sketch is the k smallest distinct
  * hashes per group, whatever the split, partitioning or plan; nulls
  * never count; and every registry sketch equals the window-rank
  * builder it replaced.
  */
class MinKDistinctSpec extends SparkSpec {

  import spark.implicits._

  /** The window-rank builder the aggregate replaced, kept as the
    * reference: distinct (keys, h), rank by h per key, keep k, collect.
    */
  private def windowMinK(hs: DataFrame, keyCols: Seq[String], k: Int): DataFrame =
    Ranking.topKPerGroup(hs.distinct(), keyCols, Seq(col("h").asc), k)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(col("h"))).as("hs"))

  private def refNdvSketch(df: DataFrame, keyCol: String, idCol: String, k: Int): DataFrame =
    windowMinK(df.filter(col(idCol).isNotNull).select(col(keyCol),
      graft.ext.TextOps.md5Int32(concat(lit("kmv_"), col(idCol).cast("string"))).as("h")),
      Seq(keyCol), k)

  /** The reference exact sketch: window min-k plus the group universe
    * joined back null-safely, all-null groups as empty arrays.
    */
  private def refNdvSketchExact(df: DataFrame, keyCols: Seq[String], idCol: String, k: Int): DataFrame = {
    val sk = windowMinK(df.filter(col(idCol).isNotNull)
      .select(keyCols.map(col) :+ Materialize.ndvHash(col(idCol)).as("h"): _*), keyCols, k)
    val uni = df.select(keyCols.map(col): _*).distinct()
    uni.join(sk, keyCols.map(c => uni(c) <=> sk(c)).reduce(_ && _), "left")
      .select(keyCols.map(uni(_)) :+ coalesce(sk("hs"), array().cast("array<long>")).as("hs"): _*)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  /** Groups with duplicate ids, null ids, an all-null-id group and a
    * NULL key.
    */
  private def facts(seed: Long): Seq[(String, java.lang.Long)] = {
    val rnd = new scala.util.Random(seed)
    val groups = Seq("a", "b", "c", "d", null)
    (0 until 600).map { _ =>
      val g = groups(rnd.nextInt(groups.size))
      val id: java.lang.Long = if (rnd.nextInt(10) == 0) null else rnd.nextInt(120).toLong
      (g, id)
    } ++ Seq[(String, java.lang.Long)](("z", null), ("z", null))
  }

  test("MinK keeps the k smallest distinct values, whatever the order and duplicates") {
    val rnd = new scala.util.Random(7)
    for (k <- Seq(1, 2, 3, 16, 100); trial <- 0 until 20) {
      val vs = Array.fill(rnd.nextInt(400))(
        if (trial % 2 == 0) rnd.nextInt(50).toLong - 25 else rnd.nextLong())
      val m = new MinK(k)
      vs.foreach(m.add)
      val want = vs.distinct.sorted.take(k)
      assert(m.sorted.toSeq == want.toSeq, s"k=$k")
      assert(MinK.fromBytes(k, m.toBytes).sorted.toSeq == want.toSeq, s"k=$k round-trip")
      val (l, r) = vs.splitAt(vs.length / 2)
      val (ml, mr) = (new MinK(k), new MinK(k))
      l.foreach(ml.add)
      r.foreach(mr.add)
      ml.addAll(mr)
      assert(ml.sorted.toSeq == want.toSeq, s"k=$k merge")
    }
  }

  test("split/merge ≡ direct build at shuffle partitions 1, 3 and cpus, AQE on and off") {
    val cpus = spark.sparkContext.defaultParallelism.toString
    val df0 = facts(11).toDF("g", "id")
    for (parts <- Seq("1", "3", cpus); aqe <- Seq("true", "false")) {
      val ps = GraftSession.scoped(spark,
        Seq("spark.sql.shuffle.partitions" -> parts, "spark.sql.adaptive.enabled" -> aqe))
      val df = GraftSession.rebind(df0, ps)
      val slices = Seq(col("id") % 3 === 0, col("id") % 3 === 1, col("id").isNull || col("id") % 3 === 2)
      for (k <- Seq(2, 7, 1000)) {
        val at = s"partitions=$parts aqe=$aqe k=$k"
        val exact = Materialize.ndvSketchExact(df, Seq("g"), "id", k)
        val est = slices.map(p => Materialize.ndvSketch(df.filter(p), "g", "id", k))
          .reduce(Materialize.mergeNdv(_, _, "g", k))
        assert(rows(est) == rows(Materialize.ndvSketch(df, "g", "id", k)), at)
        assert(rows(exact) == rows(refNdvSketchExact(df, Seq("g"), "id", k)), at)
      }
    }
  }

  test("null ids never count; an all-null group yields []; the NULL key group is kept") {
    val df = facts(3).toDF("g", "id")
    val got = Materialize.ndvSketchExact(df, Seq("g"), "id", 1000)
      .collect().map(r => Option(r.getString(0)) -> r.getSeq[Long](1)).toMap
    val want = facts(3).groupBy(_._1).map { case (g, rs) =>
      Option(g) -> rs.flatMap(r => Option(r._2)).distinct.size }
    assert(got.keySet == want.keySet)
    assert(got.map { case (g, hs) => g -> hs.size } == want)
    assert(got(Some("z")).isEmpty)
    assert(got.contains(None) && got(None).nonEmpty)
    // the estimating sketch filters null ids first: no row for z
    assert(!rows(Materialize.ndvSketch(df, "g", "id", 1000)).exists(_.startsWith("z|")))
  }

  test("output is sorted, holds at most k elements and keeps element type bigint") {
    val df = facts(5).toDF("g", "id")
    for (k <- Seq(1, 3, 50)) {
      val sk = Materialize.ndvSketchExact(df, Seq("g"), "id", k)
      assert(sk.schema("hs").dataType == ArrayType(LongType, containsNull = false))
      sk.collect().foreach { r =>
        val hs = r.getSeq[Long](1)
        assert(hs.size <= k && hs == hs.sorted && hs.distinct == hs, s"k=$k: $hs")
      }
    }
    assert(Materialize.ndvSketch(df, "g", "id", 3).schema("hs").dataType ==
      ArrayType(LongType, containsNull = false))
  }

  test("s21/s50/s51/s53 sketches are row-identical to the window-rank builder at sf0.001") {
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val month = date_trunc("MONTH", col("o_orderdate")).as("month")
    // s21: per-month estimate sketch, each side of the cutoff, and their merge
    val facts = orders.select(month, col("o_custkey"))
    val cut = col("month") < lit(ParityQueries.S19Cutoff).cast("timestamp")
    val (pre, post) = (facts.filter(cut), facts.filter(!cut))
    for (f <- Seq(pre, post))
      assert(rows(Materialize.ndvSketch(f, "month", "o_custkey", 64)) ==
        rows(refNdvSketch(f, "month", "o_custkey", 64)))
    assert(rows(Materialize.mergeNdv(Materialize.ndvSketch(pre, "month", "o_custkey", 64),
      Materialize.ndvSketch(post, "month", "o_custkey", 64), "month", 64)) ==
      rows(refNdvSketch(facts, "month", "o_custkey", 64)))
    // s50 (month, k=4096), s51 (quarter, k=8192), s53 (priority, k=64: saturated)
    for ((key, k) <- Seq(month -> 4096,
        date_trunc("QUARTER", col("o_orderdate")).as("quarter") -> 8192,
        col("o_orderpriority").as("prio") -> 64)) {
      val in = orders.select(key, col("o_custkey"))
      val keyCol = in.columns.head
      assert(rows(Materialize.ndvSketchExact(in, Seq(keyCol), "o_custkey", k)) ==
        rows(refNdvSketchExact(in, Seq(keyCol), "o_custkey", k)), keyCol)
    }
  }
}
