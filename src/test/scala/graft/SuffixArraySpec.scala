package graft

import graft.ext.{Dedup, SuffixArray}

/** Laws for the char-granular suffix-array dedup leg: the
  * prefix-doubling rank build must agree EXACTLY with a brute-force
  * substring count (different algorithm, same spans), must see
  * duplicates below [[Dedup.maximalDupSpans]]'s token-window floor,
  * and must never report a window that crosses a document boundary.
  */
class SuffixArraySpec extends SparkSpec {

  import spark.implicits._

  /** Brute force: every length-L window per doc, corpus-wide
    * occurrence counts, duplicated starts merged into maximal runs —
    * the operator's contract restated in 15 lines of local Scala.
    */
  private def bruteSpans(docs: Seq[(Long, String)], L: Int): Set[(Long, Long, Long, Long)] = {
    val wins = for {
      (id, t) <- docs
      i <- 0 to t.length - L
    } yield (id, i.toLong, t.substring(i, i + L))
    val counts = wins.groupBy(_._3).view.mapValues(_.size).toMap
    val dup = wins.filter(w => counts(w._3) >= 2)
    dup.groupBy(_._1).flatMap { case (id, ws) =>
      val ps = ws.map(_._2).sorted
      // gaps-and-islands
      val runs = ps.foldLeft(Vector.empty[Vector[Long]]) {
        case (acc, p) if acc.nonEmpty && acc.last.last == p - 1 =>
          acc.init :+ (acc.last :+ p)
        case (acc, p) => acc :+ Vector(p)
      }
      runs.map(r => (id, r.head, r.last + L - 1, r.last + L - r.head))
    }.toSet
  }

  private def run(docs: Seq[(Long, String)], L: Int): Set[(Long, Long, Long, Long)] =
    SuffixArray.dupSpans(docs.toDF("doc_id", "text"), "doc_id", "text", L)
      .as[(Long, Long, Long, Long)].collect().toSet

  test("dupSpans ≡ brute-force substring counting on a seeded random corpus") {
    // 3-letter alphabet forces plenty of REAL duplicates and makes a
    // broken document fence visible (cross-boundary windows would
    // collide constantly)
    val rnd = new scala.util.Random(1234)
    val docs = (0L until 30L).map(i =>
      (i, (0 until 40 + rnd.nextInt(60)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString))
    val L = 8
    assert(run(docs, L) == bruteSpans(docs, L))
    assert(bruteSpans(docs, L).nonEmpty) // the law is not vacuous
  }

  test("dupSpans finds a planted duplicate BELOW the token-window floor") {
    // a 2-token phrase duplicated across two docs: invisible to the
    // 5-token-window maximalDupSpans, found char-exactly here
    val phrase = "quantum flamingo paradox here"
    val a = s"unique lead-in words alpha $phrase trailing distinct tail one"
    val b = s"other opening sequence beta $phrase different closing words two"
    val docs = Seq((1L, a), (2L, b))
    val L = 16
    val spans = run(docs, L)
    // both docs report a span covering the planted phrase
    val sA = spans.filter(_._1 == 1L)
    val sB = spans.filter(_._1 == 2L)
    assert(sA.nonEmpty && sB.nonEmpty, spans)
    val offA = a.indexOf(phrase).toLong
    val offB = b.indexOf(phrase).toLong
    assert(sA.exists(s => s._2 <= offA && s._3 >= offA + phrase.length - 1), (sA, offA))
    assert(sB.exists(s => s._2 <= offB && s._3 >= offB + phrase.length - 1), (sB, offB))
    // the token-window operator (5-token windows) is blind to it
    val tok = Dedup.maximalDupSpans(docs.toDF("doc_id", "text"), "doc_id", "text", 5)
    assert(tok.count() == 0, "the planted dup should be below the token-window floor")
    // and the brute force agrees exactly
    assert(spans == bruteSpans(docs, L))
  }

  test("dupSpans at L below the seed width (zero doubling rounds) ≡ brute force") {
    // L=4 < the 8-char seed: the ladder collapses to the seeded round
    // alone (seedW = L), the path a seed-width bug would break first
    val rnd = new scala.util.Random(99)
    val docs = (0L until 20L).map(i =>
      (i, (0 until 20 + rnd.nextInt(30)).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString))
    val L = 4
    assert(run(docs, L) == bruteSpans(docs, L))
    assert(bruteSpans(docs, L).nonEmpty)
  }

  test("docs shorter than the seed width are fenced, not dropped") {
    // doc 3 (len 5 < seed 8) duplicates a window of docs 1/2 at L=4;
    // doc 4 (len 3 < L) can hold no window at all
    val docs = Seq(
      (1L, "xxabcdyy"), (2L, "zzabcdww"), (3L, "abcde"), (4L, "abc"))
    val L = 4
    val spans = run(docs, L)
    assert(spans == bruteSpans(docs, L))
    assert(spans.exists(_._1 == 3L), spans) // the short doc reports its dup
    assert(!spans.exists(_._1 == 4L), spans)
  }

  test("document fencing: identical doc tails never merge across the boundary") {
    // two docs ENDING in the same 20 chars and a third starting with
    // them: duplicates are reported inside each doc, but no span ever
    // exceeds its doc's length
    val common = "zzzzyyyyxxxxwwwwvvvv"
    val docs = Seq(
      (1L, "aaaaaaaaaa" + common),
      (2L, "bbbbbbbbbb" + common),
      (3L, common + "cccccccccc"))
    val L = 16
    val spans = run(docs, L)
    val byDoc = docs.toMap
    spans.foreach { case (id, s, e, _) =>
      assert(s >= 0 && e < byDoc(id).length, (id, s, e))
    }
    assert(spans.map(_._1) == Set(1L, 2L, 3L))
    assert(spans == bruteSpans(docs, L))
  }

  /** Brute-force ExactSubstr scrub: remove the union of [p, p+L-1]
    * over every corpus-duplicated window start p — the transform's
    * contract with no intervals, no merging, just a char mask.
    */
  private def bruteScrub(docs: Seq[(Long, String)], L: Int): Map[Long, String] = {
    val wins = for {
      (id, t) <- docs
      i <- 0 to t.length - L
    } yield (id, i, t.substring(i, i + L))
    val counts = wins.groupBy(_._3).view.mapValues(_.size).toMap
    val cut = wins.filter(w => counts(w._3) >= 2)
      .groupBy(_._1).view
      .mapValues(_.flatMap(w => w._2 until w._2 + L).toSet).toMap
    docs.map { case (id, t) =>
      val mask = cut.getOrElse(id, Set.empty)
      id -> t.zipWithIndex.collect { case (c, i) if !mask(i) => c }.mkString
    }.toMap
  }

  test("scrubSpans ≡ brute-force char-mask removal; conservation; untouched docs pass through") {
    val rnd = new scala.util.Random(4321)
    val docs = (0L until 25L).map(i =>
      (i, (0 until 40 + rnd.nextInt(50)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString))
    val L = 8
    val got = SuffixArray.scrubSpans(docs.toDF("doc_id", "text"), "doc_id", "text", L)
      .as[(Long, Long, Long, String)].collect()
    val want = bruteScrub(docs, L)
    val byDoc = docs.toMap
    assert(got.length == docs.size)
    got.foreach { case (id, nCuts, nCutChars, clean) =>
      assert(clean == want(id), s"doc $id")
      // conservation: clean length = original - cut chars
      assert(clean.length == byDoc(id).length - nCutChars, s"doc $id")
      assert((nCuts == 0) == (clean == byDoc(id)), s"doc $id")
    }
    assert(got.exists(_._2 > 0), "law not vacuous: some doc was scrubbed")
  }

  test("scrubSpans merges overlapping islands into one cut") {
    // doc 1 has duplicated windows at positions 0 and 3 only (two
    // NON-consecutive islands): their spans [0,7] and [3,10] overlap
    // after the +L-1 extension, so they must excise as ONE merged
    // interval, counted once — covering all of doc 1
    val docs = Seq(
      (1L, "abcdefghijk"),   // windows: abcdefgh@0, defghijk@3 both dup'd
      (2L, "xxabcdefghzz"),  // supplies the abcdefgh duplicate
      (3L, "yydefghijkww"))  // supplies the defghijk duplicate
    val L = 8
    val got = SuffixArray.scrubSpans(docs.toDF("doc_id", "text"), "doc_id", "text", L)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    val want = bruteScrub(docs, L)
    docs.foreach { case (id, _) => assert(got(id)._4 == want(id), s"doc $id") }
    assert(got(1L)._2 == 1L, s"overlapping islands must merge: ${got(1L)}")
    assert(got(1L)._4 == "", "doc 1 is fully covered by the merged cut")
    assert(got(2L)._4 == "xxzz" && got(3L)._4 == "yyww")
  }

  test("span artifact: writeSpans round-trips; scrub-from-artifact ≡ scrub-in-query") {
    val rnd = new scala.util.Random(987)
    val docs = (0L until 20L).map(i =>
      (i, (0 until 40 + rnd.nextInt(40)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString))
    val df = docs.toDF("doc_id", "text")
    val L = 8
    val dir = graft.ops.Sink.scratchDir("sa_spans_law")
    SuffixArray.writeSpans(df, "doc_id", "text", L, dir)
    val stored = SuffixArray.readSpans(spark, dir)
    // the artifact IS the in-query report (four int64 columns, exact)
    val inQuery = SuffixArray.dupSpans(df, "doc_id", "text", L)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val readBack = stored.as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(readBack == inQuery && inQuery.nonEmpty)
    // the lifecycle law: scrubbing from the standing report equals
    // the one-statement in-query transform row for row
    val fromArtifact = SuffixArray
      .scrubFromSpans(df, "doc_id", "text", stored)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    val oneShot = SuffixArray.scrubSpans(df, "doc_id", "text", L)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(fromArtifact == oneShot)
    assert(fromArtifact.exists(_._2 > 0), "law not vacuous: some doc was scrubbed")
  }

  private def indexSpans(dir: String): Set[(Long, Long, Long, Long)] =
    SuffixArray.readIndexSpans(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet

  test("span index: append ≡ rebuild on a seeded random split (the law every index family carries)") {
    val rnd = new scala.util.Random(24680)
    val docs = (0L until 36L).map(i =>
      (i, (0 until 40 + rnd.nextInt(60)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString))
    val L = 8
    val (base, delta) = docs.partition(_._1 % 5 != 2)
    val dir = graft.ops.Sink.scratchDir("sa_index_law")
    SuffixArray.writeSpanIndex(base.toDF("doc_id", "text"), "doc_id", "text", L, dir)
    // the index's spans/ before append IS the base dupSpans report
    assert(indexSpans(dir) == bruteSpans(base, L))
    SuffixArray.appendSpans(delta.toDF("doc_id", "text"), "doc_id", "text", L, dir)
    assert(indexSpans(dir) == bruteSpans(docs, L))
    assert(bruteSpans(docs, L) != bruteSpans(base, L),
      "law not vacuous: the delta must change the report")
    // the uniq/dupw state is closed under append: a SECOND append
    // over the updated tables must still equal a full rebuild
    val more = (100L until 112L).map(i =>
      (i, (0 until 40 + rnd.nextInt(40)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString))
    SuffixArray.appendSpans(more.toDF("doc_id", "text"), "doc_id", "text", L, dir)
    assert(indexSpans(dir) == bruteSpans(docs ++ more, L))
  }

  test("span index append: cross-boundary flip — a delta window duplicating an old SINGLETON") {
    // base: w appears ONCE (doc 1); doc 2 shares nothing. The delta
    // doc repeats w — after append BOTH positions must be reported,
    // including the base doc's, whose spans/ row did not exist before
    // (the exact state the flat report cannot recover — why uniq/
    // exists).
    val w = "abcdefgh" // L = 8
    val base = Seq((1L, s"xxxx${w}yyyy"), (2L, "qqqqrrrrssss"))
    val delta = Seq((9L, s"zz${w}vvzz"))
    val L = 8
    val dir = graft.ops.Sink.scratchDir("sa_index_flip")
    SuffixArray.writeSpanIndex(base.toDF("doc_id", "text"), "doc_id", "text", L, dir)
    assert(indexSpans(dir).isEmpty, "base has no duplicates")
    SuffixArray.appendSpans(delta.toDF("doc_id", "text"), "doc_id", "text", L, dir)
    val got = indexSpans(dir)
    assert(got == bruteSpans(base ++ delta, L), got)
    assert(got.exists(_._1 == 1L), "the OLD doc's flipped window must be reported")
    assert(got.exists(_._1 == 9L), "the delta doc's window must be reported")
  }

  test("span index append: delta×delta duplicates and already-dup windows fold correctly") {
    val w = "qrstuvwx"
    val base = Seq((1L, s"aa${w}bb"), (2L, s"cc${w}dd")) // w already duplicated
    // delta: one doc re-hits the old dup; two delta docs share a FRESH window
    val fresh = "mnopmnop"
    val delta = Seq((7L, s"ee${w}ff"), (8L, s"gg${fresh}hh"), (9L, s"ii${fresh}jj"))
    val L = 8
    val dir = graft.ops.Sink.scratchDir("sa_index_dd")
    SuffixArray.writeSpanIndex(base.toDF("doc_id", "text"), "doc_id", "text", L, dir)
    SuffixArray.appendSpans(delta.toDF("doc_id", "text"), "doc_id", "text", L, dir)
    assert(indexSpans(dir) == bruteSpans(base ++ delta, L))
    // untouched base docs keep their original rows (1 and 2 keep the
    // w span; neither gains nor loses anything)
    assert(indexSpans(dir).count(s => s._1 == 1L || s._1 == 2L) == 2)
  }

  test("span index: compaction ≡ accumulated appends, and stays appendable (the LSM law)") {
    // two appends pile up delta segments + tombstones under the
    // manifest; compaction must rewrite the live views row-for-row
    // (probe unchanged), and a FURTHER append against the compacted
    // index must still equal a full rebuild — i.e. compaction
    // preserves not just the report but the uniq/dupw ingest state.
    val rnd = new scala.util.Random(1357)
    val docs = (0L until 40L).map(i =>
      (i, (0 until 40 + rnd.nextInt(50)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString))
    val L = 8
    val base = docs.filter(_._1 % 4 != 3)
    val d1 = docs.filter(d => d._1 % 4 == 3 && d._1 < 20)
    val d2 = docs.filter(d => d._1 % 4 == 3 && d._1 >= 20)
    val dir = graft.ops.Sink.scratchDir("sa_index_compact")
    SuffixArray.writeSpanIndex(base.toDF("doc_id", "text"), "doc_id", "text", L, dir)
    SuffixArray.appendSpans(d1.toDF("doc_id", "text"), "doc_id", "text", L, dir)
    SuffixArray.appendSpans(d2.toDF("doc_id", "text"), "doc_id", "text", L, dir)
    val before = indexSpans(dir)
    assert(before == bruteSpans(docs, L) && before.nonEmpty)
    SuffixArray.compactSpanIndex(spark, dir)
    assert(indexSpans(dir) == before, "compaction must not change the probe")
    // post-compaction ingest: uniq/dupw survived the rewrite intact
    val more = (200L until 212L).map(i =>
      (i, (0 until 40 + rnd.nextInt(40)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString))
    SuffixArray.appendSpans(more.toDF("doc_id", "text"), "doc_id", "text", L, dir)
    assert(indexSpans(dir) == bruteSpans(docs ++ more, L))
  }

  test("span index: fork isolates — appending to a fork never mutates the base index") {
    // forkSpanIndex writes only a manifest referencing the base's
    // immutable segments; the gate relies on this to ingest into a
    // STANDING shared base artifact without corrupting it (and it is
    // the crash-safety shape: an append publishes via ONE manifest
    // rename, so a reader of the base dir can never observe a
    // mixed-generation index — r19 ADVICE #1)
    val w = "abcdefgh"
    val base = Seq((1L, s"xxxx${w}yyyy"), (2L, "qqqqrrrrssss"))
    val delta = Seq((9L, s"zz${w}vvzz"))
    val L = 8
    val baseDir = graft.ops.Sink.scratchDir("sa_index_fork_base")
    val forkDir = graft.ops.Sink.scratchDir("sa_index_fork_branch")
    SuffixArray.writeSpanIndex(base.toDF("doc_id", "text"), "doc_id", "text", L, baseDir)
    SuffixArray.forkSpanIndex(baseDir, forkDir)
    SuffixArray.appendSpans(delta.toDF("doc_id", "text"), "doc_id", "text", L, forkDir)
    // the fork sees the flip; the base still reports NOTHING (its
    // manifest, segments, and ingest state are untouched)
    assert(indexSpans(forkDir) == bruteSpans(base ++ delta, L))
    assert(indexSpans(baseDir).isEmpty)
    // and the base remains independently appendable afterwards
    SuffixArray.appendSpans(delta.toDF("doc_id", "text"), "doc_id", "text", L, baseDir)
    assert(indexSpans(baseDir) == bruteSpans(base ++ delta, L))
  }
}
