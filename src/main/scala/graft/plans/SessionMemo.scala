package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Relation memo keyed on (session, stable id), validated against a
  * signature — the one mechanism behind `Tables.load`'s relation memo
  * and `SharedRel`'s artifact memo.
  *
  * Keyed on the SESSION by identity, not on the context: a
  * `newSession()` clone carries its own SQLConf and a DataFrame plans
  * under the session that created it, so a clone must never be served
  * a relation built under another session's conf. Each id holds ONE
  * (signature, relation): a new signature (rewritten files) REPLACES
  * the stale entry instead of accumulating one per signature.
  *
  * Dead sessions are evicted explicitly. Every memoized DataFrame
  * holds its session and the session holds its SparkContext, so a
  * weak-keyed map never clears: the value pins the key. Instead, each
  * lookup first drops the sessions whose context is stopped. A
  * stop-and-recreate cycle (one context per JVM) therefore releases
  * the old session, its context and its relations on the next
  * session's first lookup. Clones of a live context stay until that
  * context stops.
  */
final class SessionMemo {
  private val sessions =
    new java.util.IdentityHashMap[SparkSession, ConcurrentHashMap[String, (String, DataFrame)]]()

  private def entries(s: SparkSession): ConcurrentHashMap[String, (String, DataFrame)] =
    sessions.synchronized {
      sessions.keySet.removeIf(_.sparkContext.isStopped)
      sessions.computeIfAbsent(s, _ => new ConcurrentHashMap[String, (String, DataFrame)]())
    }

  /** The relation memoized for (`s`, `id`) under `sig`, else `build`'s
    * result, which replaces any entry under an older signature. The
    * build runs outside the lock (no lock held across Spark jobs); a
    * concurrent race costs one redundant build, last write wins.
    */
  def apply(s: SparkSession, id: String, sig: String)(build: => DataFrame): DataFrame = {
    val m = entries(s)
    val cached = m.get(id)
    if (cached != null && cached._1 == sig) cached._2
    else {
      val built = build
      m.put(id, (sig, built))
      built
    }
  }
}
