package graft

import org.apache.spark.sql.functions._

import graft.ext.Bpe

/** BPE training: the positional (window) greedy merge must equal the
  * canonical sequential left-to-right scan, and train() must learn
  * the hand-computable merge table of a tiny corpus.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Canonical greedy merge: scan left to right, merge (a, b), skip
    * the absorbed symbol, never reconsider a freshly merged token.
    */
  private def greedyRef(syms: List[String], a: String, b: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toList
  }

  test("applyMerge equals the sequential greedy scan, including same-symbol runs") {
    val words = Seq("aaa", "aaaa", "aaaaa", "abab", "aabb", "banana", "xaay",
      "abba", "bbbb", "ab", "a", "aba")
    for ((pa, pb) <- Seq(("a", "a"), ("a", "b"), ("b", "a"))) {
      val syms = Bpe.initSymbols(
        words.toDF("word").withColumn("f", lit(1L)))
      val best = Seq((pa, pb, 1L)).toDF("pa", "pb", "cnt")
      val got = Bpe.applyMerge(syms, best)
        .select(col("word"), col("syms"))
        .as[(String, Seq[String])].collect().toMap
      for (w <- words) {
        val expect = greedyRef(w.map(_.toString).toList, pa, pb)
        assert(got(w) == expect, s"word=$w pair=($pa,$pb): got ${got(w)}, want $expect")
      }
    }
  }

  test("train learns the hand-computable merge table of a tiny corpus") {
    // corpus: "low low low lower newest" → freqs low:3, lower:1, newest:1
    val docs = Seq((1L, "low low low"), (2L, "lower newest")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", 3)
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toList
    // round 1 pair counts: (l,o)=4, (o,w)=4, (w,e)=2, (e,r)=1, (n,e)=1,
    // (e,w)=1, (e,s)=1, (s,t)=1 → tie (l,o) vs (o,w) → lexicographic → (l,o)
    assert(merges(0) == (1L, "l", "o", 4L))
    // round 2: (lo,w)=4 wins
    assert(merges(1) == (2L, "lo", "w", 4L))
    // round 3: low:3 is fully merged; lower → [low,e,r], newest →
    // [n,e,w,e,s,t]: (low,e)=1,(e,r)=1,(n,e)=1,(e,w)=1,(e,s)=1,(s,t)=1
    // → six-way count tie → lexicographically smallest pair: (e,r)
    assert(merges(2) == (3L, "e", "r", 1L))
  }

  test("applyMergesToWords encodes with the learned table; unseen words segment too") {
    val docs = Seq((1L, "low low low"), (2L, "lower newest")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", 3)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
      .map(m => (m._2, m._3)).toSeq // (l,o), (lo,w), (e,r)
    val got = Bpe.applyMergesToWords(Bpe.wordFreqs(docs, "text"), merges)
      .as[(String, Seq[String])].collect().toMap
    assert(got("low") == Seq("low"))
    // ALL THREE learned merges apply in order during encoding:
    // l o w e r → (l,o) → lo w e r → (lo,w) → low e r → (e,r) → low er
    assert(got("lower") == Seq("low", "er"))
    // newest has no adjacent (e,r): n,e,w,e,s,t is untouched by the table
    assert(got("newest") == Seq("n", "e", "w", "e", "s", "t"))
    // a different corpus through the same learned merges: "slower"
    // shares the (l,o)->(lo,w)->(e,r) structure, "lot" only (l,o)
    val other = Seq((1L, "slower lot")).toDF("doc_id", "text")
    val got2 = Bpe.applyMergesToWords(Bpe.wordFreqs(other, "text"), merges)
      .as[(String, Seq[String])].collect().toMap
    // s l o w e r → s lo w e r → s low e r → (e,r) → s low er
    assert(got2("slower") == Seq("s", "low", "er"))
    assert(got2("lot") == Seq("lo", "t"))
  }
}
