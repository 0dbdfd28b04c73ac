package graft.util

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** A data file a manifest lists: path relative to the store root, its
  * partition, its length in bytes. */
final case class DataFile(path: String, part: Int, bytes: Long)

/** A committed manifest: version, the store's own header lines
  * (tab-separated fields; the first is a tag other than `file`), and
  * the live data files. */
final case class Manifest(version: Long, header: Seq[Seq[String]],
    files: Seq[DataFile])

/** The versioned-manifest commit protocol of the store at `root`
  * (after the file-sink metadata log of Structured Streaming and
  * dp3's versioned roots): writers add immutable files and commit by
  * creating the next manifest; readers read only the files the newest
  * manifest lists. Layout: `_manifest/<v>` (the newest is live) and
  * `<data>/v=<v>/...` (the files version `v` wrote).
  *
  * A verb [[open]]s (resolve the newest manifest `v`, finish a crashed
  * predecessor's clean, drop an uncommitted `v+1` write directory),
  * [[write]]s version `v+1`'s files, then [[commit]]s: the no-overwrite
  * create of `_manifest/<v+1>` is its ONE commit point, after which the
  * files only `v` listed, and manifest `v`, are deleted. Every crash
  * leaves either `v` live (the new files unlisted) or `v+1` live (the
  * clean unfinished); the next [[open]] tidies both. Readers
  * ([[latest]]) only list and read. Single-writer: a racing writer
  * fails loudly at the create. The crash points are [[Maint.step]]s, so
  * MaintProtocolSpec's crash matrix enumerates them. */
final class ManifestLog(root: Path, conf: Configuration, data: String) {
  private val fs = root.getFileSystem(conf)
  private val dir = new Path(root, "_manifest")
  private def at(v: Long) = new Path(dir, v.toString)
  private def staged(v: Long) = new Path(dir, s".$v.staged")

  private def writeDir(v: Long) = new Path(root, s"$data/v=$v")

  private def versions: Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted

  private def read(v: Long): Manifest = {
    val in = fs.open(at(v))
    val lines = try new String(in.readAllBytes(), UTF_8) finally in.close()
    val (files, header) = lines.split('\n').toSeq.filter(_.nonEmpty)
      .map(_.split('\t').toSeq).partition(_.head == "file")
    Manifest(v, header, files.map { case Seq(_, p, b, path) =>
      DataFile(path, p.toInt, b.toLong) })
  }

  /** The newest committed manifest (None: never committed). Cached on
    * the manifest directory's fingerprint ([[ControlCache]]), so a warm
    * read costs one listing and no file read. */
  def latest: Option[Manifest] =
    ControlCache.cached(fs, dir)(versions.lastOption.map(read))

  /** A verb's entry: the newest manifest, after finishing what a
    * crashed predecessor left. */
  def open(verb: String): Option[Manifest] = {
    val cur = latest
    val v = cur.fold(0L)(_.version)
    for (m <- cur; old <- versions if old < v) supersede(verb, read(old), m)
    fs.delete(writeDir(v + 1), true)
    fs.delete(staged(v + 1), false)
    Maint.step(verb, "opened")
    cur
  }

  /** Commit the version after `prev` (the one commit point), then
    * delete what only `prev` listed. */
  def commit(verb: String, prev: Option[Manifest],
      header: Seq[Seq[String]], files: Seq[DataFile]): Unit = {
    Maint.step(verb, "written")
    val next = Manifest(prev.fold(0L)(_.version) + 1, header, files)
    val out = fs.create(staged(next.version), true)
    try out.write((header ++ files.map(f => Seq("file", f.part.toString,
        f.bytes.toString, f.path))).map(_.mkString("\t") + "\n").mkString
      .getBytes(UTF_8))
    finally out.close()
    Maint.step(verb, "staged")
    if (fs.exists(at(next.version)) ||
        !fs.rename(staged(next.version), at(next.version)))
      throw new java.io.IOException(s"$verb: ${at(next.version)} " +
        "already exists — a concurrent writer committed")
    Maint.step(verb, "committed")
    prev.foreach(supersede(verb, _, next))
  }

  /** Delete the files `old` lists and `live` does not, each at the
    * coarsest directory holding no live file, then manifest `old`.
    * Idempotent: a crash inside is finished by the next [[open]]. */
  private def supersede(verb: String, old: Manifest,
      live: Manifest): Unit = {
    def dirs(p: String) = {
      val parts = p.split('/')
      (2 until parts.length).map(parts.take(_).mkString("/"))
    }
    val keep = live.files.map(_.path).toSet
    val liveDirs = keep.flatMap(dirs)
    old.files.map(_.path).filterNot(keep)
      .map(p => dirs(p).find(!liveDirs(_)).getOrElse(p)).distinct
      .foreach(p => fs.delete(new Path(root, p), true))
    Maint.step(verb, "superseded")
    fs.delete(at(old.version), false)
    Maint.step(verb, "cleaned")
  }

  /** Write `rows` as parquet partitioned by `partKey` into version
    * `v`'s write directory; returns the files written. */
  def write(v: Long, rows: DataFrame, partKey: String): Seq[DataFile] = {
    rows.write.partitionBy(partKey).parquet(writeDir(v).toString)
    val base = fs.makeQualified(root).toString + "/"
    val it = fs.listFiles(writeDir(v), true)
    val files = Seq.newBuilder[DataFile]
    while (it.hasNext) {
      val p = it.next()
      val (name, parent) = (p.getPath.getName, p.getPath.getParent.getName)
      if (name.endsWith(".parquet") && !name.startsWith(".") &&
          parent.startsWith(s"$partKey="))
        files += DataFile(p.getPath.toString.stripPrefix(base),
          parent.stripPrefix(s"$partKey=").toInt, p.getLen)
    }
    files.result().sortBy(_.path)
  }
}
