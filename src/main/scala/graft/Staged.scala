package graft

import org.apache.spark.sql.SparkSession

/** The staging protocol every session-staged artifact shares: a managed
  * `graft_<family>_<tag>` table, or a family of them, built once per
  * (session, corpus dir) and then served many times.
  *
  * [[ensure]] is the one check-then-create. It takes a per-name lock (the
  * first listed table's) and checks existence INSIDE it, so two callers on
  * separate driver threads (parallel card members, concurrent `spark.sql`
  * statements naming the `graft_*` serve table functions) never stage one
  * name twice; the steady state pays one uncontended lock and a catalog
  * lookup per listed table. It builds when ANY listed table is missing, so
  * a family whose build threw part way is rebuilt whole rather than served
  * half-built. A family whose build appends (the `done`-marker families)
  * lists its marker last and writes it last: a family without the marker
  * is a partial one.
  *
  * Lock order: a nested ensure (a build that ensures its input) takes the
  * derived artifact's lock before its input's — impact before lex,
  * appended labels before the q150 labels. Never call [[ensure]] from code
  * that runs under `SessionCatalog`'s lock (a table-function builder —
  * see [[GraftExtensions.ResolveServeCalls]]): the existence check takes
  * that lock while the stage lock is held.
  */
object Staged {

  /** The corpus dir as a table-name fragment. */
  def tag(dir: String): String = dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** The staged table name of `family` over corpus `dir`. */
  def name(family: String, dir: String): String =
    s"graft_${family}_${tag(dir)}"

  /** The scratch name [[Bucketing.rewriteInPlace]] stages a rewrite under. */
  def scratch(name: String): String = s"${name}__rewrite"

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]

  private def locked[A](name: String)(body: => A): A =
    locks.computeIfAbsent(name, _ => new Object).synchronized(body)

  /** Stage `tables` with `build` unless every one of them exists. A
    * rebuild first clears every listed table and its rewrite scratch, so
    * the build writes over empty names.
    */
  def ensure(s: SparkSession, tables: String*)(build: => Unit): Unit =
    locked(tables.head) {
      if (!tables.forall(restored(s, _))) rebuild(s, tables, build)
    }

  /** Rebuild a staged family under its lock when every listed table
    * exists and `when` holds; a family not staged is left for its next
    * [[ensure]]. Returns whether it rebuilt.
    */
  def restage(s: SparkSession, tables: String*)(when: => Boolean)(
      build: => Unit): Boolean =
    locked(tables.head) {
      val go = tables.forall(restored(s, _)) && when
      if (go) rebuild(s, tables, build)
      go
    }

  /** Drop a staged family and the rewrite scratch of each member, under
    * the family's lock (a purge's erasure of a demo family).
    */
  def drop(s: SparkSession, tables: String*): Unit =
    locked(tables.head) {
      tables.flatMap(t => Seq(t, scratch(t)))
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS `$t`"))
    }

  private def rebuild(s: SparkSession, tables: Seq[String],
      build: => Unit): Unit = {
    tables.flatMap(t => Seq(t, scratch(t))).foreach(clear(s, _))
    build
  }

  /** Whether `name` exists, after recovering a crashed rewrite swap: a
    * [[Bucketing.rewriteInPlace]] that died between its DROP and RENAME
    * leaves `name` missing and the complete rewrite under its scratch
    * name, which is renamed back.
    */
  def restored(s: SparkSession, name: String): Boolean =
    s.catalog.tableExists(name) || {
      val parked = s.catalog.tableExists(scratch(name))
      if (parked) s.sql(s"ALTER TABLE `${scratch(name)}` RENAME TO `$name`")
      parked
    }

  /** Make `name` free to create: drop its registration and delete its
    * default warehouse location. Files left there by an earlier JVM are
    * invisible to this one's in-memory catalog, and CTAS refuses to
    * create a managed table over a non-empty location. Returns the
    * location.
    */
  def clear(s: SparkSession, name: String): String = {
    s.sql(s"DROP TABLE IF EXISTS `$name`")
    val loc = new org.apache.hadoop.fs.Path(
      s.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(name)))
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    loc.toString
  }
}
