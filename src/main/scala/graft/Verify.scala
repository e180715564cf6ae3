package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query names, for fast local
    // iteration on a subset (the driver always runs the full set)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    // streaming queries persist per-batch sink forensics here (batch
    // ids / row counts / id stats) so a red driver row is diagnosable;
    // dot-named so compare tools globbing <outDir>/* never mistake it
    // for a query dump
    sys.props("graft.forensics.dir") = s"$outDir/.forensics"
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      // coalesce(1) is a VERIFY-ONLY convenience (one file per query for
      // the DuckDB compare) — never copy it into a production sink: it
      // caps the parallelism of everything fused upstream of the write.
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that persist (s7) must not leak cache into the next one
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // ALWAYS dump the FULL oracle map: a subset run that filtered the
    // map too once clobbered a full dump's oracle_sql.json in place,
    // silently degrading 200+ queries to rows-only in the comparison
    // tool (which treats a missing SQL entry as "no oracle exists").
    // The file is tiny; completeness costs nothing and composes with
    // incremental re-dumps into the same outDir.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
