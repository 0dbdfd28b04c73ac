package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** Per-JVM cache for CONTROL-PLANE layout tables (an index's newest
  * manifest, an IVF quantizer's centroids) keyed on the table
  * directory's file fingerprint — name:length:mtime of every data
  * file, so ANY rewrite (a commit adds the next manifest version;
  * parquet part names are UUIDs) misses the cache and reloads from
  * storage. This turns the per-serve / per-append one-row
  * `spark.read.parquet(...).head()` control reads — each a full Spark
  * job (~50-150 ms of scheduler latency on a busy driver) — into one
  * `listStatus` round trip, without ever caching past a write.
  *
  * What this is NOT: a result cache. Values cached here are layout
  * constants (bucket counts, file lists, quantizer weights) that the
  * single-writer maintenance contract already freezes between
  * rewrites; every fresh JVM reloads them from storage, and a rewrite
  * in THIS JVM invalidates by fingerprint, not by writer cooperation.
  * Query results never pass through here. The one exception is an
  * ingest store's stat partials ([[graft.stats.StatRollup]]): a
  * committed manifest's partials are immutable, so they are held as
  * the inputs stat requests fold on the driver — one entry per store,
  * replaced when a commit changes the manifest fingerprint, and only
  * for stores whose listed stats stay within the catalog's driver
  * budget.
  *
  * Consistency bound: the fingerprint is read immediately before use,
  * so a cached value can only be stale if an EXTERNAL process
  * rewrites the control table in place with byte-identical file
  * names, lengths and mtimes — not a state any supported maintenance
  * verb can produce (overwrites emit fresh UUID part names, commits
  * a fresh manifest version). */
object ControlCache {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Any)]()

  /** Fingerprint of the non-hidden files directly under `dir`:
    * name:len:mtime per file, name-sorted. Missing dir => "". */
  private def fingerprint(fs: FileSystem, dir: Path): String =
    if (!fs.exists(dir)) ""
    else
      fs.listStatus(dir).toSeq
        .filter { s =>
          val n = s.getPath.getName
          s.isFile && !n.startsWith(".") && !n.startsWith("_")
        }
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted.mkString("|")

  /** Cache key of one table: the FileSystem URI (scheme + authority)
    * plus the path — the same path on two filesystems (two HDFS
    * namenodes, `file:` vs an object store) is two tables. */
  private def keyOf(fs: FileSystem, dir: Path): String =
    s"${fs.getUri}|${Path.getPathWithoutSchemeAndAuthority(dir)}"

  /** Load-or-reuse: returns the cached value when `dir`'s file
    * fingerprint matches the cached one, else runs `load` and caches
    * the result under the fresh fingerprint. `load` runs at most once
    * per distinct on-disk state per JVM. */
  def cached[T](fs: FileSystem, dir: Path)(load: => T): T =
    cachedAll("", Seq(fs -> dir))(load)

  /** [[cached]] for a value derived from SEVERAL control tables: it is
    * reused only while every table's fingerprint is unchanged. `what`
    * names the derivation, so two different values computed from the
    * same tables never share an entry. */
  def cachedAll[T](what: String, dirs: Seq[(FileSystem, Path)])
      (load: => T): T = {
    val key = (what +: dirs.map { case (fs, d) => keyOf(fs, d) })
      .mkString("\n")
    val fp = dirs.map { case (fs, d) => fingerprint(fs, d) }
      .mkString("\n")
    Option(cache.get(key)) match {
      case Some((oldFp, v)) if oldFp == fp => v.asInstanceOf[T]
      case _ =>
        val v = load
        cache.put(key, (fp, v))
        v
    }
  }

  /** Test hook: drop everything (specs that rewrite control tables
    * in-place faster than mtime resolution call this between cases). */
  private[graft] def clear(): Unit = cache.clear()
}
