package graft.queries

/** DuckDB fragments shared by the oracle SQL of several query families,
  * written once so every oracle replays the same fold and tokenization.
  * The MinHash-LSH fragments live in [[MinhashSql]]. */
private[queries] object OracleSql {

  /** Left-fold double dot product of two list columns — the fold
    * `Similarity.dot` and the native cosine kernel use. */
  def dotSql(a: String, b: String): String =
    s"list_reduce([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in generate_series(1, len($a))], (x, y) -> x + y)"

  /** L2 norm of a list column, the same left fold (`Similarity.l2Norm`). */
  def normSql(a: String): String =
    s"sqrt(list_reduce([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in $a], (p, q) -> p + q))"

  /** Whitespace tokens of `text`, empties dropped (`TextFunctions.tokens`). */
  val toksSql = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** The ten-word stop list the stopword-ratio queries share. */
  val stopListSql = "['the','a','an','of','and','to','in','is','it','for']"
}
