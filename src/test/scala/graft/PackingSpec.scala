package graft

import graft.ext.Packing

/** Law tests for the two-phase parallel prefix sum (ext/Packing): the
  * distributed form must be row-for-row equal to the serial window
  * reference on every data shape, including the one the serial form
  * can't scale to (a single source holding nearly all rows).
  */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  private def packingInputs(rows: Seq[(Long, String, Long)]) =
    rows.toDF("doc_id", "source", "ntok")

  private def assertLaw(df: org.apache.spark.sql.DataFrame, blockSize: Long): Unit = {
    val twoPhase = Packing.tokensBefore(df, "source", "doc_id", "ntok", blockSize)
      .select("doc_id", "source", "ntok", "tok_before")
      .as[(Long, String, Long, Long)].collect().sortBy(r => (r._2, r._1))
    val serial = Packing.tokensBeforeSerial(df, "source", "doc_id", "ntok")
      .select("doc_id", "source", "ntok", "tok_before")
      .as[(Long, String, Long, Long)].collect().sortBy(r => (r._2, r._1))
    assert(twoPhase.toSeq == serial.toSeq)
  }

  test("two-phase equals serial window on a multi-source corpus") {
    val rows = (1L to 200L).map(i => (i, s"src${i % 4}", (i * 37 % 91) + 1))
    // blockSize 16 → ~13 blocks: phase-2 offsets genuinely compose
    assertLaw(packingInputs(rows), blockSize = 16L)
  }

  test("two-phase equals serial window when ONE source dominates") {
    // the shape the two-phase form exists for: 97% of rows in one source
    val rows = (1L to 300L).map { i =>
      (i, if (i % 100 == 0) s"rare${i / 100}" else "commoncrawl", (i * 13 % 50) + 1)
    }
    assertLaw(packingInputs(rows), blockSize = 32L)
  }

  test("two-phase equals serial window with sparse, non-dense doc ids") {
    // block occupancy varies 1..blockSize when ids have gaps — offsets
    // must come from actual totals, not assumed-full blocks
    val rows = Seq(1L, 2L, 7L, 64L, 65L, 66L, 400L, 1000L, 1001L)
      .map(i => (i, "s", i % 7 + 1))
    assertLaw(packingInputs(rows), blockSize = 64L)
  }

  test("blockSize larger than the corpus degenerates to the serial form") {
    val rows = (1L to 50L).map(i => (i, s"src${i % 2}", i % 11 + 1))
    assertLaw(packingInputs(rows), blockSize = 1000000L)
  }

  test("tok_before starts at 0 per source and accumulates exclusively") {
    val df = packingInputs(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 5L), (1L, "b", 7L)))
    val got = Packing.tokensBefore(df, "source", "doc_id", "ntok", 2L)
      .select("source", "doc_id", "tok_before")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 1L, 0L), ("a", 2L, 10L), ("a", 3L, 30L), ("b", 1L, 0L)))
  }
}
