package graft

import org.apache.spark.sql.SparkSession

/** The engine's session entry point. The operators themselves are the
  * `graft.ops` objects — each a pure `DataFrame => DataFrame` (or
  * Dataset) transform that composes with plain Spark:
  *
  * {{{
  * import graft.ops.{Dedup, Sessionize, Similarity}
  * val spark     = graft.Graft.session("my-app")
  * val sessions  = Sessionize.withSessionId(events)          // + session_id
  * val active    = Sessionize.activeLatestPerSession(sessions, boundaryUs)
  * val nearDups  = Dedup.minhashPairs(documents)             // MinHash+LSH
  * val neighbors = Similarity.bruteForceTopK(embeddings, queries, k = 10)
  * }}}
  */
object Graft {

  /** Recommended session settings for this engine (local or cluster),
    * with the engine's extensions (custom expressions + optimizer rule)
    * installed.
    */
  def session(appName: String = "graft", master: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .withExtensions(new GraftExtensions)
    master.fold(b)(b.master(_)).getOrCreate()
  }
}
