package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Content-fingerprint-keyed session-catalog view cache — the one
  * lifecycle for the persisted fact derivations every curation job
  * shares (canonical dedup reps, token/shingle sets, trade edges).
  *
  * The view NAME is derived from the fingerprint, so a changed input
  * snapshot can never alias a stale view; the previous view for the
  * same (derivation, scope) is uncached and dropped on eviction so a
  * long session doesn't accumulate superseded cache entries. Dir-only
  * keys proved unsound (a mid-session in-place rewrite of the input
  * parquet silently served stale derived facts); every caller passes a
  * parquet-footer content fingerprint ([[graft.Artifacts.snapshotKey]]).
  */
private[graft] object CachedViews {

  /** (derivation prefix + scope) → (fingerprint, live view name). */
  private val live =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** The cached view for `fp`, building (and caching) it on first use
    * or after the fingerprint changed. `scope` isolates eviction — the
    * same derivation over different sf dirs coexists.
    */
  def cached(s: SparkSession, prefix: String, scope: String, fp: String)
      (build: => DataFrame): DataFrame = {
    val name = prefix + "_" + graft.Artifacts.md5Hex(fp.getBytes("UTF-8")).take(12)
    this.synchronized {
      val key = prefix + "|" + scope
      val prev = live.get(key)
      if (prev != null && prev._1 != fp && s.catalog.tableExists(prev._2)) {
        s.catalog.uncacheTable(prev._2)
        s.catalog.dropTempView(prev._2)
      }
      if (!s.catalog.tableExists(name)) {
        build.createOrReplaceTempView(name)
        s.catalog.cacheTable(name)
      }
      live.put(key, (fp, name))
    }
    s.table(name)
  }
}
