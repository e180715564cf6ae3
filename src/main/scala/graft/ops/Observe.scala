package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Zero-extra-pass stage metrics via `Dataset.observe` — the
  * Spark-first form of the reference's per-stage `len(df)` logging
  * (reference etl_app/etl_script.py:100,120,169).
  *
  * In eager pandas `len(df)` is free — the frame is materialized. A
  * literal Spark port would run a `count()` JOB per logged stage, and
  * at 100 TB each of those is a full re-execution of the stage's
  * lineage (the single most common accidental-quadratic in ported
  * pipelines). `observe` instead registers accumulator-backed
  * aggregates that are evaluated AS rows stream through the one real
  * action (the sink write): stage counts, null audits, and min/max
  * ranges cost nothing beyond the job the pipeline already runs, and
  * they see exactly the rows the action saw — not a racy re-read.
  *
  * Usage: thread the returned frame into the rest of the chain, run
  * the terminal action, then read `observation.get` (blocks until the
  * action completes; O(metrics), no job).
  */
object Observe {

  /** Attach a row-count probe named `name`. The metric is the count of
    * rows that flowed THROUGH this point of the plan during the next
    * action on the returned frame.
    */
  def rowCount(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    (df.observe(obs, count(lit(1)).as("n_rows")), obs)
  }
}
