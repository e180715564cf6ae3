package graft

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.RangeJoinRule

/** The optimizer rule must (a) fire on the canonical range theta-join
  * and eliminate the BroadcastNestedLoopJoin, (b) leave results
  * byte-identical to the un-rewritten join, (c) not fire on joins it
  * cannot prove safe.
  */
class RangeJoinRuleSpec extends SparkSpec {
  import spark.implicits._

  private def t(m: Long) = new Timestamp(1700000000000L + m * 60000L)

  private def mkData(seed: Int) = {
    val r = new Random(seed)
    val points = Seq.fill(60)((r.nextInt(500).toLong, t(r.nextInt(300).toLong)))
      .toDF("pid", "ts")
    val intervals = Seq.fill(20) {
      val lo = r.nextInt(300).toLong
      (r.nextInt(500).toLong, t(lo), t(lo + r.nextInt(50).toLong))
    }.toDF("iid", "lo", "hi")
    (points, intervals)
  }

  /** The un-rewritten join of `q`: the rule off, planned as the
    * nested-loop join the rule replaces.
    */
  private def unbinned(q: DataFrame): Seq[(Long, Long)] = {
    val df = under(TestSpark.naiveRangeJoin)(q)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), s"the naive side was rewritten:\n$plan")
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
  }

  test("rule rewrites the range theta-join and preserves the result set") {
    val (points, intervals) = mkData(8)
    def q = points.join(intervals, col("ts") >= col("lo") && col("ts") <= col("hi"))
      .select("iid", "pid")
    val naive = unbinned(q)
    assert(naive.nonEmpty)
    val (rewritten, plan) = {
      val df = q
      (df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
        df.queryExecution.executedPlan.toString)
    }
    assert(rewritten == naive)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"rule did not eliminate the nested-loop join:\n$plan")
    assert(plan.contains("Generate"), s"expected the bin explode:\n$plan")
  }

  test("rule respects the binSeconds conf and both join orientations") {
    val (points, intervals) = mkData(21)
    val naive = unbinned(points
      .join(intervals, col("ts") >= col("lo") && col("ts") <= col("hi"))
      .select("iid", "pid"))
    // intervals on the LEFT (flipped orientation)
    val flipped = under(Seq(RangeJoinRule.BinConfKey -> "60"))(intervals
      .join(points, col("ts") >= col("lo") && col("ts") <= col("hi"))
      .select("iid", "pid")).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(flipped == naive)
  }

  test("rule fires on TIMESTAMP_NTZ attributes (the parquet-without-UTC read type)") {
    // round-11 regression: a parquet generation stored TIMESTAMP(MICROS)
    // without isAdjustedToUTC, Spark read it as TIMESTAMP_NTZ, and the
    // rule silently stopped firing (tsAttr matched TimestampType only)
    val (points, intervals) = mkData(13)
    val pNtz = points.withColumn("ts", to_timestamp_ntz(col("ts")))
    val iNtz = intervals
      .withColumn("lo", to_timestamp_ntz(col("lo")))
      .withColumn("hi", to_timestamp_ntz(col("hi")))
    def q = pNtz.join(iNtz, col("ts") >= col("lo") && col("ts") <= col("hi"))
      .select("iid", "pid")
    val naive = unbinned(q)
    assert(naive.nonEmpty)
    val (rewritten, plan) = {
      val df = q
      (df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
        df.queryExecution.executedPlan.toString)
    }
    assert(rewritten == naive)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"rule did not fire on NTZ timestamps:\n$plan")
    assert(plan.contains("Generate"), s"expected the bin explode:\n$plan")
  }

  test("rule does not fire on joins outside the canonical shape") {
    val (points, intervals) = mkData(33)
    // extra conjunct -> whole condition is not the pure range shape
    val df = points.join(intervals,
      col("ts") >= col("lo") && col("ts") <= col("hi") && col("pid") =!= col("iid"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin")) // untouched
    // left join -> untouched (rewrite is only proven for inner)
    val lj = points.join(intervals, col("ts") >= col("lo") && col("ts") <= col("hi"), "left")
    assert(lj.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
  }
}
