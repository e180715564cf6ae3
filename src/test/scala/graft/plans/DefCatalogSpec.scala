package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Laws of the one definition catalog ([[DefCatalog]]): every
  * registration entry point refuses what its rewrite could not prove
  * equal, kinds never shadow each other, and the catalog's decisions
  * live in one place (source guard).
  */
class DefCatalogSpec extends SparkSpec {
  import spark.implicits._

  private val base = graft.ops.Sink.scratchDir("def_catalog_spec")
  // fact (f_id, f_g, f_m, f_k); dim (d_k, d_name); a dim that shares
  // f_g; a third table (t_k, t_v) to join under a fact-side probe
  Seq((1L, "a", 10L, 1L), (2L, "a", 20L, 2L), (3L, "b", 30L, 2L))
    .toDF("f_id", "f_g", "f_m", "f_k").write.mode("overwrite").parquet(base + "/fact")
  Seq((1L, "x"), (2L, "y")).toDF("d_k", "d_name").write.mode("overwrite").parquet(base + "/dim")
  Seq((1L, "x"), (2L, "y")).toDF("d_k", "f_g").write.mode("overwrite").parquet(base + "/dim_shared")
  Seq((1L, "p"), (2L, "q")).toDF("t_k", "t_v").write.mode("overwrite").parquet(base + "/other")
  private def fact: DataFrame = spark.read.parquet(base + "/fact")
  private def dim: DataFrame = spark.read.parquet(base + "/dim")

  /** The definitions no registration may accept, by what they put under the probe. */
  private def filtered: DataFrame = fact.filter(col("f_m") > 15)
  private def aggregated: DataFrame = fact.groupBy(col("f_g"), col("f_k"))
    .agg(max(col("f_id")).as("f_id"), max(col("f_m")).as("f_m"))
  private def joined: DataFrame =
    fact.join(spark.read.parquet(base + "/other"), col("f_k") === col("t_k"))

  private def registered(name: String): Boolean =
    MvCatalog.all.exists(_.name == name) || NdvCatalog.all.exists(_.name == name) ||
      FkCatalog.all.exists(_.name == name) || FkCatalog.allUniques.exists(_.name == name)

  test("every registration entry point refuses filtered and non-scan definitions") {
    val keys = Seq(col("f_g") -> "f_g")
    val m = col("f_m")
    val id = col("f_id")
    def at(n: String) = s"$base/$n"
    // entry point -> registration of a definition over `f` (a fact-shaped frame)
    val entries: Seq[(String, DataFrame => Unit)] = Seq(
      "MvCatalog.create" -> (f => MvCatalog.create(spark, "law_r_mvc", f, keys, m, at("mvc"))),
      "MvCatalog.register" -> (f => MvCatalog.register(spark, "law_r_mvr", f, keys, m, at("none"))),
      "MvCatalog.createJoined" -> (f => MvCatalog.createJoined(spark, "law_r_mvjc", f, dim,
        col("f_k"), col("d_k"), Seq(col("d_name") -> "d_name"), m, at("mvjc"))),
      "MvCatalog.registerJoined" -> (f => MvCatalog.registerJoined(spark, "law_r_mvjr", f, dim,
        col("f_k"), col("d_k"), Seq(col("d_name") -> "d_name"), m, at("none"))),
      "NdvCatalog.create" -> (f => NdvCatalog.create(spark, "law_r_ndvc", f, keys, id, 64, at("ndvc"))),
      "NdvCatalog.register" -> (f => NdvCatalog.register(spark, "law_r_ndvr", f, keys, id, 64, at("none"))),
      "NdvCatalog.createBitmap" -> (f => NdvCatalog.createBitmap(spark, "law_r_bmc", f, keys, id, at("bmc"))),
      "NdvCatalog.registerBitmap" -> (f => NdvCatalog.registerBitmap(spark, "law_r_bmr", f, keys, id, at("none"))),
      "FkCatalog.register (child)" -> (f => FkCatalog.register(spark, "law_r_fkc", f, col("f_k"), dim, col("d_k"))),
      "FkCatalog.register (parent)" -> (f => FkCatalog.register(spark, "law_r_fkp", dim, col("d_k"), f, col("f_k"))),
      "FkCatalog.registerUnique" -> (f => FkCatalog.registerUnique(spark, "law_r_uq", f, col("f_id"))))
    val definitions: Seq[(String, () => DataFrame, String)] = Seq(
      ("a filtered definition", () => filtered, "FILTERED"),
      ("an aggregate under the probe", () => aggregated, "bare"),
      ("a join under the probe", () => joined, "bare"))
    for ((entry, register) <- entries; (what, df, refusal) <- definitions) {
      val e = intercept[IllegalArgumentException](register(df()))
      assert(e.getMessage.contains(refusal), s"$entry accepted or misreported $what: ${e.getMessage}")
    }
    val names = Seq("law_r_mvc", "law_r_mvr", "law_r_mvjc", "law_r_mvjr", "law_r_ndvc",
      "law_r_ndvr", "law_r_bmc", "law_r_bmr", "law_r_fkc", "law_r_fkp", "law_r_uq")
    assert(names.filter(registered).isEmpty)
  }

  test("registerJoined refuses fact and dim scans that share a column name") {
    val shared = spark.read.parquet(base + "/dim_shared")
    def joinedOn(register: (DataFrame, Column) => Unit): IllegalArgumentException =
      intercept[IllegalArgumentException](register(shared, shared("f_g")))
    for (e <- Seq(
      joinedOn((d, g) => MvCatalog.registerJoined(spark, "law_r_shared", fact, d,
        col("f_k"), col("d_k"), Seq(g -> "seg"), col("f_m"), s"$base/none")),
      joinedOn((d, g) => MvCatalog.createJoined(spark, "law_r_shared", fact, d,
        col("f_k"), col("d_k"), Seq(g -> "seg"), col("f_m"), s"$base/mvshared"))))
      assert(e.getMessage.contains("share column names"), e.getMessage)
    assert(!registered("law_r_shared"))
  }

  test("registerBitmap refuses a non-integral id; the integral one registers") {
    val keys = Seq(col("f_g") -> "f_g")
    for (id <- Seq(col("f_g"), col("f_m").cast("double"))) {
      val e = intercept[IllegalArgumentException](
        NdvCatalog.createBitmap(spark, "law_r_bmid", fact, keys, id, s"$base/none"))
      assert(e.getMessage.contains("integral"), e.getMessage)
      val e2 = intercept[IllegalArgumentException](
        NdvCatalog.registerBitmap(spark, "law_r_bmid", fact, keys, id, s"$base/none"))
      assert(e2.getMessage.contains("integral"), e2.getMessage)
    }
    assert(!registered("law_r_bmid"))
    NdvCatalog.createBitmap(spark, "law_r_bmid", fact, keys, col("f_id"), s"$base/bm_ok")
    try assert(NdvCatalog.all.exists(d => d.name == "law_r_bmid" && d.exactOk))
    finally NdvCatalog.unregister("law_r_bmid")
  }

  test("one name in two kinds: neither shadows the other") {
    FkCatalog.register(spark, "law_kind", fact, col("f_k"), dim, col("d_k"))
    FkCatalog.registerUnique(spark, "law_kind", dim, col("d_k"))
    try {
      assert(FkCatalog.all.exists(_.name == "law_kind"))
      assert(FkCatalog.allUniques.exists(_.name == "law_kind"))
      FkCatalog.unregister("law_kind")
      assert(!FkCatalog.all.exists(_.name == "law_kind"))
      assert(FkCatalog.allUniques.exists(_.name == "law_kind"))
    } finally {
      FkCatalog.unregister("law_kind")
      FkCatalog.unregisterUnique("law_kind")
    }
  }

  test("plans/ keeps one definition store, one probe and one scan identity") {
    val root = new java.io.File("src/main/scala/graft/plans")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    def comment(line: String): Boolean = Seq("*", "/*", "//").exists(line.trim.startsWith)
    val lines = for {
      f <- root.listFiles().toSeq.sortBy(_.getName) if f.getName.endsWith(".scala")
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      if !comment(line)
    } yield (f.getName, i, line)
    def where(hits: Seq[(String, Int, String)]) =
      hits.map { case (f, i, l) => s"$f:${i + 1}: ${l.trim}" }.mkString("\n")
    val maps = lines.filter(_._3.contains("ConcurrentHashMap"))
    assert(maps.size == 1, where(maps))
    val copies = lines.filter(l => l._3.contains("def defOf") || l._3.contains("decomposeJoined2"))
    assert(copies.isEmpty, where(copies))
    // the scan identity is the one reader of a scan's files
    val catalog = lines.filter(_._1 == "DefCatalog.scala")
    val idStart = catalog.find(_._3.contains("case class ScanId")).map(_._2)
    val idEnd = catalog.find(_._3.contains("object ScanId"))
      .flatMap(o => catalog.find(l => l._2 > o._2 && l._3.startsWith("}"))).map(_._2)
    assert(idStart.isDefined && idEnd.isDefined, "no ScanId type in DefCatalog.scala")
    val fileReads = lines.filter { case (f, i, l) =>
      (l.contains("relFiles(") || l.contains("inputFiles")) &&
        !(f == "DefCatalog.scala" && i > idStart.get && i < idEnd.get)
    }
    assert(fileReads.isEmpty, where(fileReads))
  }
}
