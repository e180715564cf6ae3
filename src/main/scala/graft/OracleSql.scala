package graft

/** The DuckDB half of the cross-engine exactness recipe, in one place.
  * Every registry builds its oracle SQL from these fragments, and each
  * fragment names its Spark twin: the expression the registered query
  * computes, which the fragment reproduces bit for bit.
  *
  *  - Double sums run through an exact decimal and are rendered back to
  *    double through DuckDB's shortest round-trip string, which equals
  *    Spark's `decimal.cast("double")`.
  *  - Vector math runs as left folds in array order, each float element
  *    widened to double.
  *  - "Random" integers are md5 hex digits read as a BIGINT.
  *
  * Fragments are plain text without a `WITH`; CTE fragments are meant
  * to sit in a `WITH` list.
  */
object OracleSql {

  /** The exact accumulator type. Spark twin: `DecimalType(28, 10)`
    * inside [[graft.ops.Aggregates]].
    */
  val Dec = "DECIMAL(28,10)"

  /** A decimal expression rendered back to double through VARCHAR.
    * Spark twin: `.cast("double")` on the decimal.
    */
  def toDouble(decExpr: String): String = s"CAST(CAST($decExpr AS VARCHAR) AS DOUBLE)"

  /** A double rendered into [[Dec]] through its shortest round-trip
    * string. Spark twin: `.cast(DecimalType(28, 10))` on the double.
    */
  def toDec(doubleExpr: String): String = s"CAST(CAST($doubleExpr AS VARCHAR) AS $Dec)"

  /** Exact sum of `e` accumulated in decimal `dec`, as a double. Spark
    * twin: [[graft.ops.Aggregates.exactSum]] (`dec` = [[Dec]]), or
    * `sum(e.cast(dec)).cast("double")` for another scale.
    */
  def exactSum(e: String, dec: String = Dec): String = toDouble(s"SUM(CAST($e AS $dec))")

  /** Exact, null-skipping mean. Spark twin:
    * [[graft.ops.Aggregates.exactMean]].
    */
  def exactMean(c: String): String = s"${exactSum(c)} / COUNT($c)"

  /** Left fold of `step` from 0.0 over a double list in array order,
    * by default the sum `((0.0 + x1) + x2) + …`. Spark twin:
    * `aggregate(list, lit(0.0), step)`.
    */
  def fold(list: String, step: String = "(x, y) -> x + y"): String =
    s"list_reduce(list_prepend(0.0, $list), $step)"

  /** Left-fold dot product of two float arrays, each element widened to
    * double. Spark twin: [[graft.ext.Similarity.dot]].
    */
  def dot(a: String, b: String): String =
    fold(s"list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))")

  /** Squared L2 norm. Spark twin: [[graft.ext.Similarity.norm2]]. */
  def norm2(v: String): String = dot(v, v)

  /** Cosine of `a` and `b` from their squared norms `na`, `nb`. Spark
    * twin: [[graft.ext.Similarity.cosineFrom]] over
    * [[graft.ext.Similarity.dot]].
    */
  def cosine(a: String, b: String, na: String, nb: String): String =
    s"${dot(a, b)} / (sqrt($na) * sqrt($nb))"

  /** [[cosine]] between two rows of the [[embeddingCte]] shape. */
  def cosineOf(q: String, c: String): String =
    cosine(s"$q.embedding", s"$c.embedding", s"$q.n2", s"$c.n2")

  /** The first 8 md5 hex digits as a BIGINT in [0, 2^32). Spark twin:
    * [[graft.ext.TextOps.md5Int32]].
    */
  def md5Int(e: String): String = s"CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT)"

  /** [[md5Int]] as the MinHash-family oracles spell it, without spaces. */
  def md5IntTight(e: String): String = s"CAST(('0x'||substr(md5($e),1,8)) AS BIGINT)"

  /** Sign-bit bucket key over the first `bits` dimensions of `v`; an
    * index past the end reads NULL and gives '0'. Spark twin:
    * [[graft.ext.Similarity.signBucket]] (whose rpad gives that '0').
    */
  def signBucket(v: String, bits: Int): String =
    s"array_to_string([CASE WHEN $v[i] >= 0 THEN '1' ELSE '0' END for i in range(1, ${bits + 1})], '')"

  /** The embedding CTE `name` (vec_id, embedding, n2), plus the sign
    * bucket over `bucketBits` dimensions when given. Spark twin: the
    * prepared vectors of [[graft.ext.Similarity]] (`norm2`, `signBucket`).
    */
  def embeddingCte(bucketBits: Option[Int] = None, name: String = "e"): String = {
    val bucket = bucketBits.fold("")(b => s", ${signBucket("embedding", b)} AS bucket")
    s"$name AS (SELECT vec_id, embedding, ${norm2("embedding")} AS n2$bucket FROM embeddings)"
  }

  /** CTE `name`: (query_id, vec_id, cos_sim) for the pairs `from` yields
    * as `q` and `c`, both of the [[embeddingCte]] shape.
    */
  def scored(from: String, name: String = "scored"): String =
    s"""$name AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       |    ${cosineOf("q", "c")} AS cos_sim
       |  FROM $from)""".stripMargin

  /** Each query's candidates in (cos_sim desc, vec_id asc) total order.
    * Spark twin: `Ranking.topKPerGroup` on that order in
    * [[graft.ext.Similarity]].
    */
  val cosRank = "row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id)"

  /** The top `k` rows of `from` per query, with a BIGINT rank `rk`. */
  def topK(from: String, k: Int): String =
    s"""SELECT query_id, vec_id, cos_sim, rk FROM (
       |  SELECT query_id, vec_id, cos_sim,
       |    CAST($cosRank AS BIGINT) AS rk
       |  FROM $from) WHERE rk <= $k""".stripMargin

  /** The top `k` (query_id, vec_id, cos_sim) rows of `from` per query. */
  def topKScores(from: String, k: Int): String =
    s"""SELECT query_id, vec_id, cos_sim FROM (
       |  SELECT query_id, vec_id, cos_sim,
       |    $cosRank AS rk
       |  FROM $from) WHERE rk <= $k""".stripMargin

  /** The top `k` (query_id, vec_id) pairs of `from` per query. */
  def topKIds(from: String, k: Int): String =
    s"""SELECT query_id, vec_id FROM (
       |  SELECT query_id, vec_id, $cosRank AS rk
       |  FROM $from) WHERE rk <= $k""".stripMargin

  /** CTEs `scored` and `knn`: every vector's directed top `k` among the
    * vectors of its sign bucket in CTE `e`. Spark twin: the directed
    * lists of [[graft.ext.Similarity.mutualKnnGraph]].
    */
  def bucketKnn(k: Int): String =
    s"""${scored("e q JOIN e c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id")},
       |knn AS (${topKScores("scored", k)})""".stripMargin

  /** [[bucketKnn]] plus CTE `me`: the mutual pairs (id_a < id_b), with
    * the extra column `edge` when given. Spark twin:
    * [[graft.ext.Similarity.mutualKnnGraph]].
    */
  def mutualKnn(k: Int, edge: String = ""): String = {
    val extra = if (edge.isEmpty) "" else s",\n    $edge"
    s"""${bucketKnn(k)},
       |me AS (SELECT least(query_id, vec_id) AS id_a, greatest(query_id, vec_id) AS id_b$extra
       |  FROM knn GROUP BY 1, 2 HAVING count(*) = 2)""".stripMargin
  }

  /** CTE `name`: each mutual edge of `me` in both directions (src, dst),
    * carrying the columns `cols` (", w" style) when given.
    */
  def bothWays(name: String, cols: String = ""): String =
    s"""$name AS (SELECT id_a AS src, id_b AS dst$cols FROM me
       |  UNION ALL SELECT id_b AS src, id_a AS dst$cols FROM me)""".stripMargin
}
