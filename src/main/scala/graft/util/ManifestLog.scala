package graft.util

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DataType, StructType}

/** A data file a manifest lists: path relative to the store root and
  * its length in bytes. The path names the file's tree (its first
  * segment) and its partition values (its `key=value` segments). */
final case class DataFile(path: String, bytes: Long) {
  def tree: String = path.takeWhile(_ != '/')

  /** The value of partition `key` in this file's path, as written
    * (escaped) in the directory name. */
  def value(key: String): String = path.split('/')
    .collectFirst { case s if s.startsWith(s"$key=") =>
      s.substring(key.length + 1) }
    .getOrElse(throw new IllegalStateException(s"$path: no $key= directory"))

  /** The value of the long partition `key` in this file's path. */
  def part(key: String): Long = value(key).toLong
}

/** A committed manifest: version, the store's own header lines
  * (tab-separated fields; the first is a tag other than `file`), and
  * the live data files. */
final case class Manifest(version: Long, header: Seq[Seq[String]],
    files: Seq[DataFile]) {
  /** The fields after the tag of the header line tagged `tag`. */
  def line(tag: String): Seq[String] = header.find(_.head == tag)
    .getOrElse(throw new IllegalStateException(
      s"manifest $version has no $tag line")).tail

  /** A schema the header stores as JSON under `tag`. */
  def schema(tag: String): StructType =
    DataType.fromJson(line(tag).head).asInstanceOf[StructType]

  def filesOf(tree: String): Seq[DataFile] = files.filter(_.tree == tree)

  /** The directory the header freezes for each tree given one (`dir`
    * lines): relative to the store root, or qualified. */
  def dirs: Map[String, String] =
    header.collect { case Seq("dir", t, d) => t -> d }.toMap
}

/** The versioned-manifest commit protocol of the store at `root`
  * (after the file-sink metadata log of Structured Streaming and
  * dp3's versioned roots): writers add immutable files and commit by
  * creating the next manifest; readers read only the files the newest
  * manifest lists. Layout: `_manifest/<v>` (the newest is live) and,
  * per data tree, `<tree>/<k1>=../<kn>=../v=<v>/part-*.parquet` — the
  * tree's partition directories, then innermost the version that wrote
  * the files. `trees` maps each tree to its partition keys. A tree may
  * live in a directory of its own (`dirs`; a file line still names it
  * `<tree>/<path under that directory>`): the first commit freezes its
  * directory in the header (relative to the root when it is the root or
  * a sibling of it, else qualified), and a log opened later with a
  * different directory for it fails loudly. A tree the header does not
  * name yet joins at the next commit.
  *
  * A verb [[open]]s (resolve the newest manifest `v`, finish a crashed
  * predecessor's clean, drop the uncommitted `v=<v+1>` directories),
  * [[write]]s version `v+1`'s files, then [[commit]]s: the no-overwrite
  * create of `_manifest/<v+1>` is its ONE commit point, after which the
  * files only `v` listed, and manifest `v`, are deleted. Every crash
  * leaves either `v` live (the new files unlisted) or `v+1` live (the
  * clean unfinished); the next [[open]] tidies both. Readers
  * ([[latest]], [[committed]]) only list and read. Single-writer: a
  * racing writer fails loudly at the create. The crash points are
  * [[Maint.step]]s, so MaintProtocolSpec's crash matrix enumerates them.
  *
  * THE no-manifest rule, applied by every face before it returns or
  * tidies anything: a root with no committed manifest is FRESH when
  * every data file under it and under its tree directories lies inside
  * a `v=1` directory — the first version's uncommitted writes, which
  * [[open]] drops. Any other data file (hidden and `_`-prefixed entries
  * are not data) means a store built before the manifest layout, and
  * the face fails loudly, naming the store's `kind`. So a crash inside
  * a store's first commit heals on the re-run, and a legacy layout is
  * never read as empty or tidied. */
final class ManifestLog(root: Path, conf: Configuration,
    trees: Map[String, Seq[String]], dirs: Map[String, Path] = Map.empty,
    kind: String = "store") {
  private val fs = root.getFileSystem(conf)
  private val dir = new Path(root, "_manifest")
  private def at(v: Long) = new Path(dir, v.toString)
  private def staged(v: Long) = new Path(dir, s".$v.staged")
  private val frozen = dirs.map { case (t, d) => t -> named(d) }

  /** How the header names directory `d`: relative to the store root
    * when it is the root or a sibling of it (so a moved or copied store
    * keeps working), else qualified. */
  private def named(d: Path): String = {
    val (q, r) = (fs.makeQualified(d), fs.makeQualified(root))
    if (q == r) "."
    else if (q.getParent == r.getParent) s"../${q.getName}"
    else q.toString
  }

  private def dirOf(tree: String): Path =
    dirs.getOrElse(tree, new Path(root, tree))

  /** A path relative to the store (`<tree>/<path under its dir>`). */
  private def pathOf(rel: String): Path = rel.split("/", 2) match {
    case Array(t) => dirOf(t)
    case Array(t, rest) => new Path(dirOf(t), rest)
  }

  /** `m`, after checking the tree directories it froze against this
    * log's. */
  private def checked(m: Manifest): Manifest = {
    for ((t, d) <- frozen; was <- m.dirs.get(t))
      require(was == d, s"$root: tree $t lives in $was, not $d")
    m
  }

  /** Version `v`'s write directories in `tree`, relative to the store:
    * one listing per partition directory. */
  private def writeDirs(tree: String, v: Long): Seq[String] =
    if (!fs.exists(dirOf(tree))) Nil
    else trees(tree).foldLeft(Seq(tree)) { (ds, k) =>
      ds.flatMap(d => fs.listStatus(pathOf(d)).toSeq
        .map(_.getPath.getName).filter(_.startsWith(s"$k="))
        .map(n => s"$d/$n"))
    }.map(d => s"$d/v=$v").filter(d => fs.exists(pathOf(d)))

  private def versions: Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted

  private def read(v: Long): Manifest = {
    val in = fs.open(at(v))
    val lines = try new String(in.readAllBytes(), UTF_8) finally in.close()
    val (files, header) = lines.split('\n').toSeq.filter(_.nonEmpty)
      .map(_.split('\t').toSeq).partition(_.head == "file")
    // a file line ends in (bytes, path); older lines carry a partition
    // field before them
    Manifest(v, header,
      files.map(l => DataFile(l.last, l(l.length - 2).toLong)))
  }

  /** The newest committed manifest; None for a fresh store, and a loud
    * failure for a pre-manifest one (the no-manifest rule). Cached on
    * the manifest directory's fingerprint ([[ControlCache]]), so a warm
    * read costs one listing and no file read. */
  def latest: Option[Manifest] = resolve("read")

  /** The newest committed manifest, for a face that needs one: a fresh
    * or pre-manifest store fails loudly. */
  def committed(face: String): Manifest =
    resolve(face).getOrElse(throw new IllegalArgumentException(
      s"$face: no $kind at $root"))

  /** A verb's entry: the newest manifest (None: a fresh store), after
    * finishing what a crashed predecessor left. */
  def open(verb: String): Option[Manifest] = tidy(verb, resolve(verb))

  /** [[open]] for a verb that needs a commit: a fresh or pre-manifest
    * store fails loudly before anything is tidied. */
  def openCommitted(verb: String): Manifest =
    tidy(verb, Some(committed(verb))).get

  private def resolve(face: String): Option[Manifest] = {
    val m = ControlCache.cached(fs, dir)(versions.lastOption.map(read))
    if (m.isEmpty) preManifest.foreach { f =>
      throw new IllegalArgumentException(s"$face: the $kind at $root was " +
        s"built before the manifest layout ($f lies outside a version " +
        "directory) — rebuild it with this version")
    }
    m.map(checked)
  }

  /** The first data file under the root or a tree directory that lies
    * outside every `v=1` directory, if any. */
  private def preManifest: Option[Path] = {
    def under(d: Path): Option[Path] = fs.listStatus(d).iterator
      .filterNot { s =>
        val n = s.getPath.getName
        n.startsWith(".") || n.startsWith("_") || s.isDirectory && n == "v=1"
      }
      .map(s => if (s.isDirectory) under(s.getPath) else Some(s.getPath))
      .collectFirst { case Some(p) => p }
    (root +: trees.keys.toSeq.map(dirOf)).distinct.filter(fs.exists)
      .iterator.map(under).collectFirst { case Some(p) => p }
  }

  private def tidy(verb: String, cur: Option[Manifest]): Option[Manifest] = {
    val v = cur.fold(0L)(_.version)
    for (m <- cur; old <- versions if old < v) supersede(verb, read(old), m)
    trees.keys.foreach { t =>
      drop(writeDirs(t, v + 1), cur.toSeq.flatMap(_.files))
      fs.delete(new Path(dirOf(t), "_temporary"), true)
    }
    fs.delete(staged(v + 1), false)
    Maint.step(verb, "opened")
    cur
  }

  /** Commit the version after `prev` (the one commit point), then
    * delete what only `prev` listed. */
  def commit(verb: String, prev: Option[Manifest],
      header: Seq[Seq[String]], files: Seq[DataFile]): Unit = {
    Maint.step(verb, "written")
    val dirLines = (header.collect { case Seq("dir", t, d) => t -> d }
      .toMap ++ frozen).toSeq.sorted.map { case (t, d) => Seq("dir", t, d) }
    val next = Manifest(prev.fold(0L)(_.version) + 1,
      header.filterNot(_.head == "dir") ++ dirLines, files)
    val out = fs.create(staged(next.version), true)
    try out.write((next.header ++ files.map(f =>
        Seq("file", f.bytes.toString, f.path))).map(_.mkString("\t") + "\n")
      .mkString.getBytes(UTF_8))
    finally out.close()
    Maint.step(verb, "staged")
    if (fs.exists(at(next.version)) ||
        !fs.rename(staged(next.version), at(next.version)))
      throw new java.io.IOException(s"$verb: ${at(next.version)} " +
        "already exists — a concurrent writer committed")
    Maint.step(verb, "committed")
    prev.foreach(supersede(verb, _, next))
  }

  /** Delete the files `old` lists and `live` does not, then manifest
    * `old`. Idempotent: a crash inside is finished by the next
    * [[open]]. */
  private def supersede(verb: String, old: Manifest,
      live: Manifest): Unit = {
    val keep = live.files.map(_.path).toSet
    drop(old.files.map(_.path).filterNot(keep), live.files)
    Maint.step(verb, "superseded")
    fs.delete(at(old.version), false)
    Maint.step(verb, "cleaned")
  }

  /** Delete each of `paths` at the coarsest directory below its tree
    * that holds no `live` file. */
  private def drop(paths: Seq[String], live: Seq[DataFile]): Unit = {
    def prefixes(p: String) = {
      val parts = p.split('/')
      (2 to parts.length).map(parts.take(_).mkString("/"))
    }
    val liveDirs = live.flatMap(f => prefixes(f.path)).toSet
    paths.map(p => prefixes(p).find(!liveDirs(_)).getOrElse(p)).distinct
      .foreach(p => fs.delete(pathOf(p), true))
  }

  /** Write `rows` (carrying `tree`'s partition columns) as version `v`'s
    * parquet files of `tree`; returns the files written. One write per
    * tree and version. */
  def write(v: Long, tree: String, rows: DataFrame): Seq[DataFile] = {
    rows.withColumn("v", lit(v)).write.mode("append")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .partitionBy(trees(tree) :+ "v": _*)
      .parquet(dirOf(tree).toString)
    writeDirs(tree, v).flatMap(d => fs.listStatus(pathOf(d)).toSeq
      .filter { s =>
        val n = s.getPath.getName
        n.endsWith(".parquet") && !n.startsWith(".")
      }
      .map(s => DataFile(s"$d/${s.getPath.getName}", s.getLen)))
      .sortBy(_.path)
  }

  /** `files` of `tree` read with `schema` under the tree's directory as
    * basePath, so its partition columns survive (typed by `schema` where
    * it names them, last as Spark orders them) and `v` is dropped: no
    * schema-inference job, and no listing beyond the files named. */
  def read(spark: SparkSession, tree: String, schema: StructType,
      files: Seq[DataFile]): DataFrame =
    if (files.isEmpty) {
      val keys = trees(tree)
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(schema.filterNot(f => keys.contains(f.name)) ++
          keys.flatMap(k => schema.find(_.name == k))))
    } else spark.read.schema(schema)
      .option("basePath", dirOf(tree).toString)
      .parquet(files.map(f => pathOf(f.path).toString): _*).drop("v")
}
