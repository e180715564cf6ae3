package graft

import scala.util.Random

import graft.ext.Dedup

/** Law tests for star-contraction connected components: it must agree
  * with min-label propagation on every topology, and it must converge
  * in O(log n) rounds on the long chain — the known worst case where
  * the min-label loop needs O(n) rounds.
  */
class DedupStarSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("id", "component").as[(Long, Long)].collect().toMap

  private def vertsAndPairs(edgeList: Seq[(Long, Long)], extraVerts: Seq[Long] = Nil) = {
    val ids = (edgeList.flatMap(e => Seq(e._1, e._2)) ++ extraVerts).distinct
    (ids.toDF("id"), edgeList.toDF("a", "b"))
  }

  test("star contraction equals min-label propagation on random graphs") {
    val r = new Random(42)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(50)((r.nextInt(n).toLong, r.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val (verts, pairs) = vertsAndPairs(edges, extraVerts = Seq(900L, 901L))
      val star = labelsOf(Dedup.connectedComponentsStarWithRounds(verts, pairs)._1)
      val prop = labelsOf(Dedup.connectedComponents(verts, pairs))
      assert(star == prop, s"trial $trial diverged")
    }
  }

  test("chain of 256: one component, logarithmic round count") {
    val n = 256L
    val edges = (1L until n).map(i => (i, i + 1))
    val (verts, pairs) = vertsAndPairs(edges)
    val (out, rounds, nEdges) = Dedup.connectedComponentsStarWithRounds(verts, pairs)
    assert(nEdges == n - 1, "initial edge count must come back from the fingerprint")
    val labels = labelsOf(out)
    assert(labels.size == n.toInt)
    assert(labels.values.forall(_ == 1L), "chain must collapse to min id 1")
    // the min-label loop would need ~n rounds on this graph; star
    // contraction is O(log n) — allow slack over log2(256)=8 for the
    // +1 convergence-detection round
    assert(rounds <= 12, s"expected O(log n) rounds on a chain, got $rounds")
  }

  test("cliques, singletons, and two chains resolve to their minima") {
    val clique = for (a <- 10L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val chainA = (20L until 25L).map(i => (i, i + 1))
    val chainB = (30L until 33L).map(i => (i + 1, i)) // reversed orientation
    val (verts, pairs) = vertsAndPairs(clique ++ chainA ++ chainB, extraVerts = Seq(99L))
    val star = labelsOf(Dedup.connectedComponentsStarWithRounds(verts, pairs)._1)
    assert((10L to 14L).forall(star(_) == 10L))
    assert((20L to 25L).forall(star(_) == 20L))
    assert((30L to 33L).forall(star(_) == 30L))
    assert(star(99L) == 99L) // singleton keeps its own id
    val prop = labelsOf(Dedup.connectedComponents(verts, pairs))
    assert(star == prop)
  }

  test("empty pair list: every vertex is its own component, zero rounds") {
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val pairs = spark.emptyDataset[(Long, Long)].toDF("a", "b")
    val (out, rounds, nEdges) = Dedup.connectedComponentsStarWithRounds(verts, pairs)
    assert(rounds == 0)
    assert(nEdges == 0)
    assert(labelsOf(out) == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("duplicate and self-loop edges are tolerated") {
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (2L, 3L)).toDF("a", "b")
    val star = labelsOf(Dedup.connectedComponentsStarWithRounds(verts, pairs)._1)
    assert(star == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  private def prOf(nodes: Seq[Long], edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] =
    Dedup.pageRank(nodes.toDF("id"), "id", edges.toDF("a", "b"), "a", "b", iters)
      .as[(Long, Double)].collect().toMap

  test("pageRank: uniform on a regular graph; mass conserved; centers the path") {
    // triangle (2-regular): the uniform vector is the fixed point, so
    // every iteration returns exactly 1/3 (teleport and spread cancel)
    val tri = prOf(Seq(1L, 2L, 3L), Seq((1L, 2L), (2L, 3L), (1L, 3L)), iters = 3)
    tri.values.foreach(p => assert(math.abs(p - 1.0 / 3) < 1e-9, tri.toString))
    // path 1-2-3: the middle node accumulates both ends' full mass
    val path = prOf(Seq(1L, 2L, 3L), Seq((1L, 2L), (2L, 3L)), iters = 3)
    assert(path(2L) > path(1L) && path(1L) == path(3L), path.toString)
    // no isolated nodes -> total mass stays 1 (up to decimal rounding)
    assert(math.abs(path.values.sum - 1.0) < 1e-8, path.toString)
    // isolated node: holds the teleport floor 0.15/N, never more
    val iso = prOf(Seq(1L, 2L, 3L, 9L), Seq((1L, 2L), (2L, 3L), (1L, 3L)), iters = 2)
    assert(math.abs(iso(9L) - 0.15 / 4) < 1e-12, iso.toString)
  }
}
