package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.AsofJoin

/** The native sort-merge as-of join (AsOfJoinExec) must equal the
  * composed union+window form on every input shape: interleaved
  * timestamps, ties (inclusive), keys present on only one side, null
  * timestamps, multi-column keys.
  */
class AsOfJoinNativeSpec extends SparkSpec {
  import spark.implicits._

  private def compare(
      left: DataFrame, right: DataFrame, keys: Seq[String]): Unit = {
    val composed = AsofJoin
      .asofJoin(left, right, keys, "ts", "ts", Seq("rv"))
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val native = AsofJoin
      .asofJoinNative(left, right, keys, "ts", "ts", Seq("rv"))
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(native == composed)
  }

  test("native as-of equals composed: interleaves, ties, one-sided keys, null ts") {
    val left = Seq(
      (1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "c"),
      (2L, 5L, "d"), (2L, 50L, "e"),
      (3L, 7L, "f"),                     // key with no right rows
      (4L, 0L, "g"))                     // ts nulled below
      .toDF("k", "ts", "lv")
    val leftNull = left.withColumn("ts",
      when(col("lv") === "g", lit(null).cast("long")).otherwise(col("ts")))
    val right = Seq(
      (1L, 10L, 100.0), (1L, 15L, 150.0), (1L, 25L, 250.0),
      (2L, 49L, 490.0), (2L, 51L, 510.0),
      (4L, 1L, 40.0),
      (5L, 3L, 999.0))                   // key with no left rows
      .toDF("k", "ts", "rv")
    val rightNull = right.withColumn("ts",
      when(col("rv") === 40.0, lit(null).cast("long")).otherwise(col("ts")))
    compare(leftNull, rightNull, Seq("k"))
  }

  test("native as-of equals composed on a dense generated frame with multi-column keys") {
    val left = spark.range(500).select(
      (col("id") % 7).as("k1"), (col("id") % 3).as("k2"),
      ((col("id") * 37) % 211).as("ts"), col("id").as("lv"))
    val right = spark.range(300).select(
      (col("id") % 5).as("k1"), (col("id") % 3).as("k2"),
      ((col("id") * 53) % 197).as("ts"), (col("id") * 2).as("rv"))
      .dropDuplicates("k1", "k2", "ts") // composed form needs unique (key, ts)
    compare(left, right, Seq("k1", "k2"))
  }

  test("a native as-of join leaves the session's strategies and profile sessions unchanged") {
    // GraftExtensions plans AsOfJoinNode on every session; the join
    // registers nothing of its own
    val profile = Seq("spark.sql.shuffle.partitions" -> "3")
    val strategies = spark.experimental.extraStrategies
    val scoped = GraftSession.scoped(spark, profile)
    val left = Seq((1L, 10L, "a")).toDF("k", "ts", "lv")
    val right = Seq((1L, 5L, 1.0)).toDF("k", "ts", "rv")
    assert(AsofJoin.asofJoinNative(left, right, Seq("k"), "ts", "ts", Seq("rv")).collect().length == 1)
    assert(spark.experimental.extraStrategies == strategies)
    assert(!strategies.contains(graft.plans.AsOfJoinStrategy))
    assert(GraftSession.scoped(spark, profile) eq scoped)
  }

  test("mismatched key/ts types fail at planning with a clear error") {
    val left = Seq((1L, 10L, "a")).toDF("k", "ts", "lv")
    val rightBadKey = Seq((1, 5L, 1.0)).toDF("k", "ts", "rv")   // k is int
    val rightBadTs = Seq((1L, 5, 1.0)).toDF("k", "ts", "rv")    // ts is int
    // planner errors can arrive wrapped — search the cause chain
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).mkString(" | ")
    val e1 = intercept[Throwable] {
      AsofJoin.asofJoinNative(left, rightBadKey, Seq("k"), "ts", "ts", Seq("rv"))
        .queryExecution.executedPlan
    }
    assert(chain(e1).contains("type mismatch"), chain(e1))
    val e2 = intercept[Throwable] {
      AsofJoin.asofJoinNative(left, rightBadTs, Seq("k"), "ts", "ts", Seq("rv"))
        .queryExecution.executedPlan
    }
    assert(chain(e2).contains("type mismatch"), chain(e2))
  }

  test("native as-of plans as AsOfJoinExec: per-side exchanges, no union, no window") {
    val left = Seq((1L, 10L, "a")).toDF("k", "ts", "lv")
    val right = Seq((1L, 5L, 1.0)).toDF("k", "ts", "rv")
    val df = AsofJoin.asofJoinNative(left, right, Seq("k"), "ts", "ts", Seq("rv"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), p)
    assert(!p.contains("Window") && !p.contains("Union"), p)
    assert(df.as[(Long, Long, String, Double)].collect().toSeq ==
      Seq((1L, 10L, "a", 1.0)))
  }
}
