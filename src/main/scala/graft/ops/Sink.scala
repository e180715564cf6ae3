package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Sink / cache operators (SURVEY §2.1 S4–S7).
  *
  * Reference: `to_sql('heart_failure_readmissions',
  * if_exists='replace', index=False)` (reference
  * etl_app/etl_script.py:164-168) — full drop+recreate on each run —
  * and `SELECT *` back into dashboard memory (dashboard_app/app.py:
  * 31-32) memoized with `@st.cache_data` (app.py:28).
  *
  * On Spark the primary sink is parquet overwrite (what the harness
  * verifies); a JDBC path exists for true Postgres parity. The cache
  * policy (S7) maps to `persist(MEMORY_AND_DISK)` before fanning out
  * multiple actions over one DataFrame — compute the plan once, serve
  * N queries.
  */
object Sink {

  /** S4: overwrite-write to parquet (harness-primary sink).
    * `partitionByCols` enables partition pruning for downstream
    * readers — at 100 TB an unpartitioned output forces full scans on
    * every dashboard query.
    */
  def writeParquet(df: DataFrame, path: String, partitionByCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*) else w).parquet(path)
  }

  /** S4 (CSV variant): overwrite-write with header, for round-trip
    * parity with the reference's CSV inputs (etl_script.py:49).
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** S4 (ORC variant): overwrite-write ORC — the second columnar
    * format (native `orc` datasource, in spark-sql). Same predicate
    * pushdown / column pruning / partitioning behavior as parquet,
    * so a parquet-shaped plan ports unchanged.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** S4 (XML variant): overwrite-write XML — the semi-structured
    * text format Spark 4 ships natively in spark-sql (the former
    * spark-xml package). Row-per-element under an explicit rowTag;
    * like CSV/JSON it is a row format (no pushdown, no pruning), so
    * it belongs at ingest/export boundaries, never as the
    * steady-state analytical layout.
    */
  def writeXml(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("rootTag", "rows").option("rowTag", "row")
      .xml(path)

  /** S4 (JDBC variant): reference's drop+recreate Postgres load.
    * Exercised in tests against embedded Derby (the one JDBC engine on
    * the classpath); the URL decides the actual backend.
    */
  def writeJdbc(df: DataFrame, url: String, table: String, props: java.util.Properties): Unit =
    df.write.mode(SaveMode.Overwrite).jdbc(url, table, props)

  /** S5 (JDBC variant): dashboard's `SELECT *` back out of the DB
    * (reference dashboard_app/app.py:31-32).
    */
  def readJdbc(spark: SparkSession, url: String, table: String, props: java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, props)

  /** S6: bounded retry with fixed backoff — the reference retries its
    * DB connection 5×10 s while Postgres warms up
    * (etl_script.py:144-160). Generic over the action so any sink
    * (JDBC connect, object-store flakiness) can wrap itself.
    */
  @annotation.tailrec
  def withRetry[T](attempts: Int, delayMs: Long)(action: => T): T = {
    require(attempts >= 1)
    val result =
      try Right(action)
      catch { case scala.util.control.NonFatal(e) if attempts > 1 => Left(e) }
    result match {
      case Right(v) => v
      case Left(_) =>
        Thread.sleep(delayMs)
        withRetry(attempts - 1, delayMs)(action)
    }
  }

  /** S4 (bucketed variant): write as a bucketed catalog table —
    * rows pre-hash-partitioned AND sorted by the bucket keys into a
    * fixed number of files per partition. Two tables bucketed the
    * same way join WITHOUT a shuffle (SortMergeJoin, zero Exchange):
    * at 100 TB, bucketing the fact tables on their join key once at
    * ingest removes the dominant shuffle from every downstream join
    * and aggregation on that key. Catalog-table API (`saveAsTable`)
    * because bucket metadata lives in the metastore, not the files.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** S7: cache before multi-query fan-out (dashboard `@st.cache_data`
    * equivalent). MEMORY_AND_DISK so a too-big dataset degrades to
    * spill instead of recompute-per-action.
    */
  def cached(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  /** S7 for SINGLE-ACTION fan-out: persist AND materialize before the
    * caller fans out. A lazy persist only pays off when one action
    * populates it before the others run; when several branches of one
    * job (a union, a self-join) scan the same unmaterialized persist,
    * the tasks race to compute and store the same partitions
    * ("Block rdd_N already exists" warnings, duplicated upstream work
    * — measured 1.35 s → 6.96 s on the r3 cached-fanout bench). The
    * eager count() is one cheap pass that fills the cache once; every
    * branch after it reads hot blocks.
    */
  def cachedEager(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** [[cachedEager]], returning the materialization count instead of
    * discarding it — iterative operators use it to break out of dead
    * rounds (an empty frontier stays empty forever) without paying a
    * second count job.
    */
  def cachedEagerCount(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    val n = p.count()
    (p, n)
  }

  /** Collision-proof scratch tag for a path-keyed artifact: md5 hex
    * of the full path bytes. `math.abs(path.hashCode)` tags can
    * collide across two dirs in one JVM (`"Aa".hashCode ==
    * "BB".hashCode`) and silently cross-serve artifacts keyed by them.
    */
  def pathTag(path: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** The standing-artifact lifecycle: the artifact `name` derived
    * from the sf dir `dir` (a saved index, a rollup, a catalog
    * registration) that every later query probes instead of
    * rebuilding.
    *
    *  - Built ONCE per (JVM, name, dir): concurrent first touches run
    *    `build` exactly once; the others wait for it and share the
    *    result.
    *  - SNAPSHOT-FROZEN: the artifact reflects `dir` as of first
    *    touch; a dir rewritten later in the same JVM keeps serving the
    *    old artifact (growth is an explicit append, never a silent
    *    rebuild).
    *  - Placed at `scratchDir(s"${name}_${pathTag(dir)}")`, an md5 tag
    *    of the full dir, so two dirs never share an artifact. The
    *    path is passed to `build` and returned; a catalog entry is
    *    registered under the same tag ([[artifactName]]).
    *  - A build that throws is not remembered: the next call rebuilds.
    *
    * Builds may nest (an artifact derived from another calls
    * `standing` inside its build), so a build runs under its own
    * per-artifact lock, never inside the registry map's update.
    */
  def standing(name: String, dir: String)(build: String => Unit): String = {
    val path = scratchDir(s"${name}_${pathTag(dir)}")
    standingBuilds.computeIfAbsent((name, dir), _ => new BuildOnce).run(build(path))
    path
  }

  /** The catalog name of the standing artifact at `path`: its tag
    * `${name}_${pathTag(dir)}`. Catalogs pick among equal-cost
    * entries by name, so the name carries no per-JVM part.
    */
  def artifactName(path: String): String =
    new java.io.File(path).getName.stripPrefix("graft_").stripSuffix(scratchSuffix)

  private final class BuildOnce {
    private var built = false
    def run(build: => Unit): Unit = synchronized {
      if (!built) { build; built = true }
    }
  }

  private val standingBuilds =
    new java.util.concurrent.ConcurrentHashMap[(String, String), BuildOnce]()

  /** Per-JVM random token appended to every scratch path. PID alone
    * is NOT collision-free across runs: Linux defaults pid_max to
    * 32768, shutdown hooks never fire on a hard kill (OOM), and a
    * later JVM that drew a recycled PID would inherit the dead run's
    * scratch trees at byte-identical paths — for a streaming query
    * that means a stale CHECKPOINT whose committed batch 0 silently
    * shifts the fresh data to batch 1 on top of stale batch-0 output
    * (doubled aggregates, rows_match still true — the w9 driver-flake
    * signature). The token makes cross-JVM collision probabilistic-
    * zero while staying stable within a JVM (shared stages and
    * bucketed tables rely on path stability per process).
    */
  private val jvmToken: String =
    java.util.UUID.randomUUID().toString.substring(0, 8)

  private val scratchSuffix = s"_${ProcessHandle.current.pid}_$jvmToken"

  /** PID+token-qualified scratch directory for round-trip queries:
    * concurrent runners (Bench + Verify over the same sf dir) write to
    * distinct paths, and a JVM shutdown hook deletes each dir so
    * repeated runs do not accumulate in the system tmpdir. Any
    * leftover tree at the path (possible only under PID reuse after a
    * hard kill, pre-token) is removed eagerly on first issue.
    */
  def scratchDir(tag: String): String = {
    val path = s"${sys.props("java.io.tmpdir")}/graft_$tag$scratchSuffix"
    if (scratchRegistered.putIfAbsent(path, java.lang.Boolean.TRUE) == null) {
      deleteRecursively(new java.io.File(path))
      sys.addShutdownHook(deleteRecursively(new java.io.File(path)))
    }
    path
  }

  private val scratchRegistered =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** Remove a local path tree (no-op if absent). For reclaiming a
    * MANAGED-table location before `saveAsTable` from a fresh
    * session: the in-memory catalog forgets tables across JVMs but
    * the warehouse directory persists, and CREATE fails on
    * LOCATION_ALREADY_EXISTS — `mode(overwrite)` cannot drop a table
    * the catalog has never heard of.
    */
  def clearLocalPath(path: String): Unit =
    deleteRecursively(new java.io.File(path.stripPrefix("file:")))

  /** Recursive local-tree copy (artifact FORK for index layouts that
    * mutate in place): a gate that ingests into a standing base
    * artifact copies it first so the shared base is never consumed.
    * Artifacts are pure parquet trees (no absolute paths inside), so
    * a byte copy is a valid fork; at the gates' artifact sizes
    * (single-digit MB) this is milliseconds. The manifest-based span
    * index forks by pointer instead ([[graft.ext.SuffixArray]]) — the
    * cluster-scale shape; this is the local stand-in for layouts
    * still on the swap-in discipline.
    */
  def copyLocalTree(src: String, dst: String): Unit = {
    val s = new java.io.File(src.stripPrefix("file:"))
    val d = new java.io.File(dst.stripPrefix("file:"))
    def walk(from: java.io.File, to: java.io.File): Unit = {
      if (from.isDirectory) {
        to.mkdirs()
        val kids = from.listFiles()
        if (kids != null) kids.foreach(k => walk(k, new java.io.File(to, k.getName)))
      } else {
        java.nio.file.Files.copy(from.toPath, to.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    }
    walk(s, d)
  }

  /** Register a local path for recursive deletion at JVM exit — the
    * [[scratchDir]] shutdown-hook mechanism for paths whose location
    * is dictated by something else (e.g. a managed table's warehouse
    * directory). Idempotent per path.
    */
  def cleanupAtExit(path: String): Unit = {
    val p = path.stripPrefix("file:")
    if (scratchRegistered.putIfAbsent(p, java.lang.Boolean.TRUE) == null)
      sys.addShutdownHook(deleteRecursively(new java.io.File(p)))
    ()
  }
}
