package graft

/** Local smoke runner mirroring the driver's t1 check: run
  * `SparkEntry.entry` on sf0.001 and print the row count.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
