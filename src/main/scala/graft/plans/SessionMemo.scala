package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one memo for corpus artifacts: `Tables.load`'s relations,
  * `SharedRel`'s checkpointed relations, the trained models (IVF / PQ
  * codebooks, BPE / WordPiece merges, the unigram model), the
  * embeddings count, and — through [[SessionMemo.tables]] — every
  * persisted catalog table.
  *
  * Each entry is keyed on (session, stable id) and validated against
  * a signature ([[SessionMemo.corpusSig]] of the files it derives
  * from). The id names the artifact, its directory and every conf dial
  * it depends on, so two dial values coexist as two entries; the
  * signature only says which files it was built from. Each id holds
  * ONE (signature, value): a new signature (rewritten files) REPLACES
  * the stale entry instead of accumulating one per signature.
  *
  * Keyed on the SESSION by identity, not on the context: a
  * `newSession()` clone carries its own SQLConf and a DataFrame plans
  * under the session that created it, so a clone must never be served
  * a value built under another session's conf.
  *
  * Dead sessions are evicted explicitly. Every memoized DataFrame
  * holds its session and the session holds its SparkContext, so a
  * weak-keyed map never clears: the value pins the key. Instead, each
  * lookup first drops the sessions whose context is stopped. A
  * stop-and-recreate cycle (one context per JVM) therefore releases
  * the old session, its context and its values on the next session's
  * first lookup. Clones of a live context stay until that context
  * stops.
  *
  * Builds run under a per-(session, id) lock, never the map's: a
  * concurrent caller of the same id waits for the build instead of
  * racing it (a second CTAS on the same table, a second training
  * run), and callers of other ids are never blocked.
  */
final class SessionMemo[V] {
  private final class Entry { var sig: String = null; var value: V = _ }

  private val sessions =
    new java.util.IdentityHashMap[SparkSession, ConcurrentHashMap[String, Entry]]()

  private def entry(s: SparkSession, id: String): Entry = {
    val ids = sessions.synchronized {
      sessions.keySet.removeIf(_.sparkContext.isStopped)
      sessions.computeIfAbsent(s, _ => new ConcurrentHashMap[String, Entry]())
    }
    ids.computeIfAbsent(id, _ => new Entry)
  }

  /** The value memoized for (`s`, `id`) under `sig`, else `build`'s
    * result, which replaces any entry under an older signature.
    */
  def apply(s: SparkSession, id: String, sig: String)(build: => V): V =
    refresh(s, id, sig)(_ => true)(_ => build)

  /** [[apply]] for values that can die outside the memo: a hit is served
    * only while `live` holds for it, and `build` receives the value it
    * replaces (stale signature or dead hit), so it can release it.
    */
  def refresh(s: SparkSession, id: String, sig: String)(live: V => Boolean)
      (build: Option[V] => V): V = {
    val e = entry(s, id)
    e.synchronized {
      if (e.sig == sig && live(e.value)) e.value
      else {
        val v = build(Option(e.sig).map(_ => e.value))
        e.sig = sig
        e.value = v
        v
      }
    }
  }
}

object SessionMemo {

  /** Driver-side signature of `dir/<table>.parquet` for each table —
    * file-system metadata only (path, length, mtime of every file), no
    * Spark job. Rewriting any file changes it.
    */
  def corpusSig(s: SparkSession, dir: String, tables: String*): String =
    tables.map { t =>
      val p = new Path(s"$dir/$t.parquet")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      try fs.listStatus(p)
        .map(st => s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
        .sorted.mkString(",")
      catch { case _: java.io.FileNotFoundException => s"$t:missing" }
    }.mkString(dir + "|", "|", "")

  private val persisted = new SessionMemo[Seq[String]]

  /** Persisted catalog tables as a corpus artifact: one table per
    * prefix, named `<prefix><dir tag>_<hash of id and signature>`, so
    * two signatures or two dial values never share a warehouse path.
    * `write` creates the named tables; it runs once per (session, id,
    * signature). A hit whose tables are gone from the catalog (an
    * external DROP) rebuilds. Before writing, the tables of the entry
    * being replaced — the same id under an older signature — are
    * dropped, catalog entry and warehouse files both, and so is any
    * leftover location of the new names (a previous JVM's warehouse
    * outlives its catalog). Tables of other ids, other dial values
    * included, are left alone.
    */
  def tables(s: SparkSession, dir: String, id: String, sig: String, prefixes: String*)
      (write: Seq[String] => Unit): Seq[String] = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      java.lang.Long.toHexString(s"$id|$sig".hashCode.toLong & 0xffffffffL)
    val names = prefixes.map(_ + tag)
    persisted.refresh(s, s"$id|$dir", sig)(_.forall(s.catalog.tableExists)) { old =>
      (old.getOrElse(Nil) ++ names).distinct.foreach(dropTable(s, _))
      write(names)
      names
    }
  }

  private def dropTable(s: SparkSession, tbl: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val loc = new Path(new Path(s.conf.get("spark.sql.warehouse.dir")), tbl)
    loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
  }
}
