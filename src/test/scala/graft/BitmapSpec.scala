package graft

import org.apache.spark.sql.functions._

import graft.functions.Bitmap64
import graft.ops.Materialize

/** Laws for the compressed exact id-set ([[Bitmap64]]) and the bitmap
  * NDV rollup built on it (s52/s53/a28): the container must
  * round-trip ANY strictly-ascending long set bit-exactly (that IS
  * the exactness proof — no hash, no collision argument), and the
  * rollup must obey the same merge ≡ rebuild discipline as every
  * other mergeable statistic in [[Materialize]].
  */
class BitmapSpec extends SparkSpec {

  import spark.implicits._

  private def enc(vs: Seq[Long]): Array[Byte] =
    Bitmap64.encode(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(vs.toArray))

  private def randomSets(seed: Long, n: Int): Seq[Array[Long]] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val size = rnd.nextInt(200)
      val raw =
        if (i % 3 == 0) Array.fill(size)(rnd.nextLong()) // full 64-bit range
        else if (i % 3 == 1) Array.fill(size)(rnd.nextInt(500).toLong) // dense
        else Array.fill(size)(rnd.nextLong() >> 32) // mid-range
      raw.distinct.sorted
    } ++ Seq(
      Array.empty[Long],
      Array(0L),
      Array(Long.MinValue),
      Array(Long.MaxValue),
      Array(Long.MinValue, -1L, 0L, 1L, Long.MaxValue)) // extreme deltas
  }

  test("encode/decode round-trips every set, including full-range deltas") {
    randomSets(0xb17b17L, 60).foreach { vs =>
      val b = enc(vs.toSeq)
      assert(Bitmap64.decode(b).toSeq == vs.toSeq)
      assert(Bitmap64.cardinality(b) == vs.length.toLong)
    }
  }

  test("dense domains cost ~1 byte per id (the storage claim s52 documents)") {
    val vs = (0L until 10000L).toArray
    val b = enc(vs.toSeq)
    assert(b.length <= vs.length + 9, s"${b.length} bytes for ${vs.length} dense ids")
  }

  test("union ≡ set union, intersectCardinality ≡ |A ∩ B|, on random pairs") {
    val sets = randomSets(0xcafeL, 40)
    sets.zip(sets.reverse).foreach { case (a, b) =>
      val ea = enc(a.toSeq)
      val eb = enc(b.toSeq)
      val expectUnion = (a.toSet ++ b.toSet).toSeq.sorted
      assert(Bitmap64.decode(Bitmap64.union(ea, eb)).toSeq == expectUnion)
      // union is symmetric
      assert(Bitmap64.union(eb, ea).toSeq == Bitmap64.union(ea, eb).toSeq)
      val expectBoth = a.toSet.intersect(b.toSet).size.toLong
      assert(Bitmap64.intersectCardinality(ea, eb) == expectBoth)
      assert(Bitmap64.intersectCardinality(eb, ea) == expectBoth)
    }
  }

  test("encode rejects unsorted and duplicated input instead of corrupting") {
    intercept[IllegalArgumentException](enc(Seq(2L, 1L)))
    intercept[IllegalArgumentException](enc(Seq(1L, 1L)))
  }

  test("bitmapSketch merge law: base ⊕ delta ≡ rebuild; null keys and null ids kept") {
    val df = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "a"), (3L, "a"), (1L, "b"), (null, "c"), (2L, null), (4L, "b"),
      (1L, "a") /* duplicate fact row must not double-count */ )
      .toDF("id", "g")
    val base = Materialize.bitmapSketch(df.filter(col("id") <= 2 || col("id").isNull), Seq("g"), "id")
    val delta = Materialize.bitmapSketch(df.filter(col("id") > 2), Seq("g"), "id")
    def norm(sk: org.apache.spark.sql.DataFrame): Set[(String, Seq[Long])] =
      sk.collect().map(r =>
        (Option(r.getString(0)).getOrElse("∅"),
          Bitmap64.decode(r.getAs[Array[Byte]](1)).toSeq)).toSet
    val merged = norm(Materialize.mergeBitmap(base, delta, Seq("g")))
    val whole = norm(Materialize.bitmapSketch(df, Seq("g"), "id"))
    assert(merged == whole)
    // idempotence: a REPLAYED delta batch is a no-op (set union) — the
    // property s52_bitmap_stream's refresh leans on for exactly-once
    assert(norm(Materialize.mergeBitmap(
      Materialize.mergeBitmap(base, delta, Seq("g")), delta, Seq("g"))) == whole)
    // the all-null-id group keeps its row with an EMPTY bitmap
    assert(whole.exists { case (g, ids) => g == "c" && ids.isEmpty })
    // the null KEY is a group like any other (null-safe join in merge)
    assert(whole.exists { case (g, ids) => g == "∅" && ids == Seq(2L) })
  }

  test("bitmapCounts ≡ exact count(DISTINCT id) per group") {
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val got = Materialize.bitmapCounts(
      Materialize.bitmapSketch(
        orders.select(col("o_orderpriority").as("g"), col("o_custkey")), Seq("g"), "o_custkey"),
      Seq("g")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = orders.groupBy(col("o_orderpriority").as("g"))
      .agg(countDistinct(col("o_custkey")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("bitmapSketch refuses non-integral ids (exactness stores ids, never hashes)") {
    val df = Seq(("x", "a")).toDF("id", "g")
    intercept[IllegalArgumentException](Materialize.bitmapSketch(df, Seq("g"), "id"))
  }

  test("a28 shape: pairwise overlap from the rollup matches the fact self-join") {
    val dir = "/root/testdata/sf0.001"
    val got = ParityQueries.a28SegmentOverlap(spark, dir)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val s = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("seg"), col("o_custkey").as("c")).distinct()
    val n = s.groupBy("seg").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ov = s.as("a").join(s.as("b"),
        col("a.c") === col("b.c") && col("a.seg") < col("b.seg"))
      .groupBy(col("a.seg").as("sa"), col("b.seg").as("sb"))
      .agg(count(lit(1)).as("common"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.keySet == ov.keySet ||
      got.keySet.forall { k => ov.getOrElse(k, 0L) == got(k)._3 })
    got.foreach { case ((sa, sb), (na, nb, common, union)) =>
      assert(na == n(sa) && nb == n(sb))
      assert(common == ov.getOrElse((sa, sb), 0L))
      assert(union == na + nb - common)
    }
  }
}
