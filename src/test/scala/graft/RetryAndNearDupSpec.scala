package graft

import graft.ext.{MinHash, Similarity}
import graft.ops.Sink

/** Units for S6 retry and the E2 verification-stage operators. */
class RetryAndNearDupSpec extends SparkSpec {
  import spark.implicits._

  test("withRetry succeeds after transient failures") {
    var calls = 0
    val out = Sink.withRetry(attempts = 4, delayMs = 1) {
      calls += 1
      if (calls < 3) sys.error("db warming up")
      "connected"
    }
    assert(out == "connected")
    assert(calls == 3)
  }

  test("withRetry rethrows after exhausting attempts") {
    var calls = 0
    val e = intercept[RuntimeException] {
      Sink.withRetry(attempts = 2, delayMs = 1) { calls += 1; sys.error("down") }
    }
    assert(e.getMessage == "down")
    assert(calls == 2)
  }

  test("exactJaccardPairs: identical docs 1.0, near-dups high, verified exactly") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base),                                    // identical → J = 1.0
      (3L, base.replace("tok30", "changed")),        // near-dup
      (4L, (100 to 130).map(i => s"zz$i").mkString(" "))).toDF("id", "body")
    val pairs = MinHash.exactJaccardPairs(docs, "id", "body")
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    // 30 tokens → 28 windows; the last token appears only in the
    // final window, so 27 of 28 are shared: J = 27/(28+28-27)
    assert(math.abs(pairs((1L, 3L)) - 27.0 / 29.0) < 1e-12)
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("nearDupPairs finds same-bucket high-cosine pairs only, once") {
    val vecs = Seq(
      (0L, Array(1f, 1f, 0.1f)),
      (1L, Array(0.9f, 1.1f, 0.1f)),   // ~parallel to 0, same bucket
      (2L, Array(-1f, 1f, 0.1f)),      // different bucket
      (3L, Array(1f, 0.9f, -2f))).toDF("vec_id", "embedding") // same bucket as.. no: sign(-2)
    val out = Similarity.nearDupPairs(vecs, nBits = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(out.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L)))
    assert(out.head._3 > 0.99)
  }

  test("triangleCount: 4-clique + triangle + chain + isolated edge = 5 triangles") {
    // 4-clique {0,1,2,3} → C(4,3)=4; triangle {10,11,12} → 1;
    // chain 20-21-22 and edge 30-31 → 0
    val edges = (for {
      a <- 0 to 3; b <- 0 to 3 if a < b
    } yield (a.toLong, b.toLong)) ++ Seq(
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L), (21L, 22L), (30L, 31L))
    val out = graft.ext.Dedup
      .triangleCount(edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
      .as[(Long, Long)].collect().head
    assert(out == (12L, 5L))
  }

  test("semanticDedup: keep flags obey the exists-earlier-neighbor rule; kept set pairwise dissimilar") {
    val tau = 0.9
    // two well-separated directions; ids 0/2/3 near-parallel (dups),
    // 4 same half-space but < tau to all, 1/5 near-parallel (dups)
    val raw = Seq(
      0L -> Array(1f, 0f, 0.05f, 0f),
      1L -> Array(0f, 1f, 0f, 0.05f),
      2L -> Array(0.98f, 0f, 0.06f, 0f),
      3L -> Array(1.02f, 0.01f, 0.05f, 0f),
      4L -> Array(0.6f, 0f, 0.8f, 0f),
      5L -> Array(0.01f, 0.97f, 0f, 0.06f))
    val out = Similarity
      .semanticDedup(raw.toDF("vec_id", "embedding"), k = 2, iters = 1, tau)
      .as[(Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.size == raw.size)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def fold(x: Array[Float], y: Array[Float]) =
        x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
      fold(a, b) / (math.sqrt(fold(a, a)) * math.sqrt(fold(b, b)))
    }
    val emb = raw.toMap
    // replay the rule from the RETURNED cluster + cent_cos and
    // driver-side cosines: v removed iff an earlier-ranked same-cluster
    // u is cosine-near
    for ((v, (_, vCid, vCc, vKeep)) <- out) {
      val expectRemoved = out.values.exists { case (u, uCid, uCc, _) =>
        u != v && uCid == vCid &&
          (uCc < vCc || (uCc == vCc && u < v)) && cos(emb(u), emb(v)) >= tau
      }
      assert(vKeep == !expectRemoved, s"vec $v keep=$vKeep")
    }
    val kept = out.values.filter(_._4).toSeq
    // the kept set is pairwise non-near within every cluster
    for (Seq(a, b) <- kept.combinations(2) if a._2 == b._2)
      assert(cos(emb(a._1), emb(b._1)) < tau)
    assert(out.values.count(!_._4) >= 2) // the planted dups were removed
  }
}
