package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB oracle strings are the correctness contract: Verify hashes
  * every registered row against DuckDB running `SparkEntry.oracleSql`.
  * A refactor of the registries must leave every one of them
  * byte-identical; a change on purpose regenerates
  * `src/test/resources/oracle_sql.sha256` (one `<row> <sha256>` line
  * per row, sorted) and names the changed rows.
  */
class OracleSqlSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  test("every oracle string matches its recorded digest; queries and oracles share one key set") {
    val src = scala.io.Source.fromResource("oracle_sql.sha256")(scala.io.Codec.UTF8)
    val recorded = try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(k, h) = l.split(' '); k -> h
    }.toMap finally src.close()
    val now = SparkEntry.oracleSql.map { case (k, v) => k -> sha256(v) }
    assert(SparkEntry.queries.keySet === now.keySet)
    assert(now.size === 337)
    assert((now.keySet -- recorded.keySet).isEmpty, "rows without a recorded digest")
    assert((recorded.keySet -- now.keySet).isEmpty, "recorded rows no longer registered")
    val changed = now.toSeq.sorted.collect { case (k, h) if recorded(k) != h => s"$k $h" }
    assert(changed.isEmpty, changed.mkString("changed oracle strings (current digests):\n", "\n", ""))
  }

  test("the oracle exactness vocabulary is spelled only in OracleSql") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val fragments = Seq(
      "AS VARCHAR) AS DOUBLE)", "list_reduce(list_prepend(", "substr(md5(", "\"DECIMAL(28,10)\"")
    val offenders = for {
      f <- files(root) if f.getName != "OracleSql.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      if fragments.exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
