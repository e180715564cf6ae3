package graft.plans

import java.nio.file.{Files, Paths}

import graft.{ParityQueries, SparkSpec}

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
}
