package graft.plans

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.{ParityQueries, SparkSpec, Tables}

/** Two sf dirs whose paths have equal `String.hashCode` must not share
  * a standing artifact: with hashCode tags, s30's MV for one dir was
  * overwritten by the other's build, and s30 then answered from the
  * wrong dir's rollup.
  */
class StandingCollisionSpec extends SparkSpec {

  test("s30's MV is a distinct artifact and catalog entry per dir, even on a hashCode collision") {
    val tmp = Files.createTempDirectory("standing_collision")
    val Seq(aa, bb) = Seq("Aa", "BB").map { n =>
      Files.createSymbolicLink(tmp.resolve(n), Paths.get("/root/testdata/sf0.001")).toString
    }
    assert(aa.hashCode === bb.hashCode)
    def namesAt(dir: String): Set[String] =
      MvCatalog.all.filter(_.mvPath.startsWith(dir + "/")).map(_.name).toSet
    var registered = Set.empty[String]
    try {
      val pa = ParityQueries.s30MvDir(spark, aa)
      val pb = ParityQueries.s30MvDir(spark, bb)
      registered = namesAt(pa) ++ namesAt(pb)
      assert(pa != pb)
      assert(namesAt(pa).size === 1 && namesAt(pb).size === 1)
      assert(namesAt(pa) != namesAt(pb))
    } finally {
      registered.foreach(MvCatalog.unregister)
      Seq(aa, bb).foreach(p => Files.delete(Paths.get(p)))
      Files.delete(tmp)
    }
  }

  test("j16's catalog tables are distinct per dir, even on a hashCode collision") {
    val tmp = Files.createTempDirectory("standing_collision_j16")
    // two different sf dirs, so a shared table answers wrong
    val Seq(aa, bb) = Seq("Aa" -> "sf0.001", "BB" -> "sf0.01").map { case (n, sf) =>
      Files.createSymbolicLink(tmp.resolve(n), Paths.get(s"/root/testdata/$sf")).toString
    }
    assert(aa.hashCode === bb.hashCode)
    def nOrders(dir: String): Seq[Long] =
      ParityQueries.j16CboReorder(spark, dir).select("n_orders").collect().toSeq.map(_.getLong(0))
    def expected(dir: String): Long =
      Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(spark, dir).filter(col("n_name") === "NATION_7"),
          col("c_nationkey") === col("n_nationkey"))
        .count()
    try {
      val (ta, tb) = (ParityQueries.j16Tables(spark, aa), ParityQueries.j16Tables(spark, bb))
      assert(ta.productIterator.toSet.intersect(tb.productIterator.toSet).isEmpty, (ta, tb))
      assert(expected(aa) != expected(bb))
      assert(nOrders(aa) === Seq(expected(aa)))
      assert(nOrders(bb) === Seq(expected(bb)))
    } finally {
      Seq(aa, bb).foreach(p => Files.delete(Paths.get(p)))
      Files.delete(tmp)
    }
  }
}
