package graft.plans

import org.apache.spark.sql.functions.{col, date_trunc}

import graft.{SparkSpec, Tables}

/** Job-count guards for NDV registration: counts, unlike wall time,
  * do not move with the box, so a registration that grows a scan or a
  * validation job fails here.
  */
class NdvCatalogSpec extends SparkSpec {

  test("create proves on the build's write (≤ 3 jobs); load of one definition re-proves in ≤ 5") {
    val base = graft.ops.Sink.scratchDir("ndv_catalog_jobs")
    val name = "law_ndv_jobs"
    val fact = Tables.orders(spark, "/root/testdata/sf0.001")
    val keys = Seq(date_trunc("QUARTER", col("o_orderdate")) -> "quarter")
    def exactOk: Boolean = NdvCatalog.all.exists(d => d.name == name && d.exactOk)
    try {
      val (created, _) = jobsStarted(
        NdvCatalog.create(spark, name, fact, keys, col("o_custkey"), 8192, base + "/mv"))
      assert(exactOk, "the guard must time a registration that proves exactness")
      assert(created <= 3, s"NdvCatalog.create started $created jobs")
      NdvCatalog.save(spark, base + "/catalog")
      // save writes every live definition, also those registry rows of
      // an earlier suite left in this JVM: load this one alone
      spark.read.parquet(base + "/catalog").filter(col("name") === name)
        .write.mode("overwrite").parquet(base + "/one")
      NdvCatalog.unregister(name)
      val (loaded, _) = jobsStarted(NdvCatalog.load(spark, base + "/one"))
      assert(exactOk, "load must re-prove the definition")
      assert(loaded <= 5, s"NdvCatalog.load of one definition started $loaded jobs")
    } finally NdvCatalog.unregister(name)
  }
}
